#!/usr/bin/env python3
"""Build the program from this checkout and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles ../src/main together with the harness
(sbt, offline); later runs reuse the build while the sources are unchanged.
Each run starts one JVM on local[nproc], wipes its scratch directory
(.bench_build/run) before and after, and prints the result JSON as the last
line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "run"
CLASSPATH = HERE / "target" / "bench.classpath"
STAMP = BUILD / "perfbench.stamp"
WORKLOADS = ["crawl_durable", "dedup_skewed"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp says these sources are built."""
    digest = sources_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not CLASSPATH.exists():
        raise SystemExit(f"build failed (exit {r.returncode})")
    BUILD.mkdir(exist_ok=True)
    STAMP.write_text(digest)
    return CLASSPATH.read_text().strip()


def failure(msg):
    log(msg)
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (HERE / "build.sbt").is_file():
        log(f"no program sources under {ROOT}; nothing to benchmark")
        sys.exit(2)
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "kernel", "run"):
        (WORK / d).mkdir(parents=True)
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
        f"-Dspark.local.dir={WORK / 'spark-local'}",
        f"-Dgraft.kernel.root={WORK / 'kernel'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        f"-Dperfbench.root={ROOT}",
        f"-Dperfbench.work={WORK / 'run'}",
        f"-Dperfbench.traces={BUILD / 'traces'}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
    ]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "GRAFT_"))}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        failure(f"run exceeded {RUN_TIMEOUT_S}s and was killed")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    if proc.returncode != 0 or not isinstance(last, dict):
        failure(f"benchmark JVM exited with {proc.returncode}")
    print(json.dumps(last))


if __name__ == "__main__":
    main()
