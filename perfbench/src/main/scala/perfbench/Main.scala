package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import Inputs.{CrawlShape, DedupShape}

/** The repository benchmark: one workload per run, printing one JSON result
  * line last. See perfbench/README.md for the workloads and metrics.
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * System properties: `perfbench.root` (checkout root), `perfbench.work`
  * (scratch dir, wiped by the caller), `perfbench.traces` (span output). */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val MinIterations = 3

  /** Workload shapes, sized so one run (JVM start, set-up, priming passes,
    * three measured iterations) takes under a minute on 4 cores. */
  def workload(name: String, root: Path, work: Path): Option[Workload] = name match {
    case "crawl_durable" => Some(new CrawlWorkload(name,
      CrawlShape(nHosts = 64, pagesPerHost = 500, linksPerPage = 12, seedHosts = 64,
        hostBudget = 4000, maxDepth = 8, maxPages = 2000), work))
    case "dedup_skewed" =>
      val data = root.resolve("perfbench/data")
      Some(new DedupWorkload(name, DedupShape(docs = 15000, cluster = 350, loose = 200),
        new PackSample(data.resolve("sf").toString,
          PackSample.readReference(data.resolve("pack_reference.tsv")))))
    case _ => None
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(sys.props.getOrElse("perfbench.root", ".")).toAbsolutePath
    val work = Paths.get(sys.props.getOrElse("perfbench.work", root.resolve(".bench_build/run").toString))
    val traces = Paths.get(sys.props.getOrElse("perfbench.traces", root.resolve(".bench_build/traces").toString))
    val wlName = args.getOrElse("workload", "")
    val parsed = for {
      seed <- args.get("seed").flatMap(_.toLongOption)
      secs <- args.get("seconds").flatMap(_.toDoubleOption)
      trace <- args.get("trace").filter(t => t == "0" || t == "1").map(_ == "1")
      wl <- workload(wlName, root, work)
    } yield (seed, secs, trace, wl)
    parsed match {
      case None =>
        System.err.println(s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> (got ${argv.mkString(" ")})")
        sys.exit(2)
      case Some((seed, secs, trace, wl)) =>
        val code = try run(wl, seed, secs, trace, traces) catch {
          case e: Throwable =>
            e.printStackTrace()
            println(Json.result(correct = false, 1, 1, Nil))
            1
        }
        sys.exit(code)
    }
  }

  def run(wl: Workload, seed: Long, secs: Double, trace: Boolean, traces: Path): Int = {
    val runId = s"${wl.name}-$seed"
    // Set-up: JVM start, Spark session start and a warm-up of the
    // workload's calls, all cold. A JVM is cold only once, so this is one
    // sample per run; the median over runs summarizes it.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    println(f"[perfbench] JVM start to session: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    wl.warmUp(spark)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    println(s"[perfbench] ${wl.name} seed=$seed setup_s=$setupS")
    val tPrep = System.nanoTime()
    wl.prepare(spark, seed)
    println(f"[perfbench] inputs and expected outputs: ${Workloads.seconds(tPrep)}%.1f s")
    // Untimed passes on the seed's inputs, so code the small warm-up did not
    // reach is compiled before timing starts.
    (1 to wl.primingPasses).foreach { _ =>
      val tPrime = System.nanoTime()
      wl.iterate(spark, Tracer.off, new Tally)
      println(f"[perfbench] priming pass: ${Workloads.seconds(tPrime)}%.1f s")
    }

    val tally = new Tally
    // At least `minIters` iterations, then more until `seconds` have passed.
    def loop(seconds: Double, tracer: Tracer, minIters: Int): Seq[Iter] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = scala.collection.mutable.ArrayBuffer[Iter]()
      do {
        val it = tracer.span("iteration")(wl.iterate(spark, tracer, tally))
        println(f"[perfbench] ${wl.name} iteration ${out.size + 1}: ${it.wallS}%.3f s, ${it.items} items" +
          (if (tracer.enabled) " (traced)" else ""))
        out += it
      } while (out.size < minIters || System.nanoTime() < deadline)
      out.toSeq
    }

    val plain = loop(if (trace) secs / 2 else secs, Tracer.off, if (trace) 1 else MinIterations)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        // a failed iteration has no time; the result is then not correct
        ("iteration_s", plain.filter(_.items > 0).map(_.wallS).minOption.getOrElse(Double.NaN), "s"))
      else {
        val tracer = new Tracer(spark.sparkContext, true, runId)
        val traced = loop(secs / 2, tracer, 1)
        val probe = wl.probe(spark, tracer, tally, seed)
        tracer.recorder.foreach(_.drain())
        tracer.write(traces.resolve(s"$runId.jsonl"))
        Layers.metrics(wl, plain, traced, tracer, probe, tally, peakRssMb())
      }
    val correct = tally.failed == 0 && tally.attempted > 0
    tally.firstErrors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    println(Json.result(correct, tally.attempted, tally.failed, metrics))
    spark.stop()
    0
  }
}
