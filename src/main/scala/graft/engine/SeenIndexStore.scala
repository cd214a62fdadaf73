package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable sidecar for [[SeenIndex]]: per-bucket sorted-run files under the
  * snapshot root (`<root>/seen_index/`), so a restarted crawl reloads the
  * resident index with ZERO shuffle instead of re-deriving it from the
  * committed fetch log (`SeenIndex.fromSeen` — an O(seen) shuffle+sort at
  * exactly the moment, restart of a long crawl, the index exists to avoid).
  *
  * Layout is the in-memory LSM mirrored on disk, one file per (bucket,
  * round) event:
  *
  *   b<bucket>_r<round>_delta.run   the round's appended sorted run
  *   b<bucket>_r<round>_base.run    the bucket's full content after a
  *                                  compaction (or first/bulk build)
  *   manifest.json                  {"buckets":B,"round":N} — the index
  *                                  commit marker, written AFTER the
  *                                  round's run files exist
  *
  * Per round only the DELTA is written (one small file per touched
  * bucket); a compaction writes that bucket's merged base and supersedes
  * its older files ([[gc]] removes them). Loading plans per bucket from a
  * single directory listing: newest base at round ≤ manifest round, plus
  * all later deltas — then builds the runs RDD with
  * `parallelize(buckets) → mapPartitionsWithIndex(read own files)`: the
  * only thing that ever moves between nodes is bucket IDs, never hashes.
  *
  * The crawl drives the sidecar through two calls, and nothing else
  * writes it: [[open]] once per store-backed crawl, on the fresh or
  * resumed state, and [[advance]] once per committed round, right after
  * the round's snapshot commit.
  *
  * Crash safety: run files are written task-side (temp + rename,
  * idempotent under retry) during `SeenIndex.add`'s materialization; the
  * manifest advances AFTER, and only after the round's snapshot commit.
  * So the manifest round is always ≤ the store's committed round, and a
  * crash between commit and index persist just means [[open]] tops up the
  * few missed rounds from the `url_hash` column of their committed
  * `fetch_log/` deltas (O(missed deltas)).
  *
  * Writes use the Hadoop FileSystem API (local fs here, HDFS/S3A on a
  * cluster). Write amplification is the in-memory structure's: one
  * level, a bucket's base rewritten every MaxRuns deltas. Quantified at
  * the 10^10-URL target (4M-hash buckets, ~4k new hashes/bucket/round):
  * amortized base-rewrite I/O is bucketSize/MaxRuns ≈ 4 MB/bucket/round
  * → ~10 GB/round across 2500 buckets — noise against the same round's
  * ~TB of fetched-page writes, which is why single-level stays (a
  * leveled/tiered scheme would cut the 128× RELATIVE amplification to
  * ~log, but the ABSOLUTE cost it saves is already immaterial and it
  * would complicate the base+deltas recovery contract).
  */
object SeenIndexStore {

  /** Where a `SeenIndex.add` should persist the round's run events. */
  final case class Sink(dir: String, round: Int)

  /** Debug lineage of the most recent [[load]] runs RDD (pre-checkpoint):
    * CrawlSpec asserts it contains NO shuffle. */
  @volatile private[engine] var lastLoadLineage: String = ""

  private def fs(dir: String): FileSystem =
    new HPath(dir).getFileSystem(new Configuration())

  private val FileRe = "b(\\d+)_r(\\d+)_(base|delta)\\.run".r

  /** Task-side write of one run event. Temp + rename; a retried or
    * speculative task finds the (deterministic-content) file present and
    * skips. */
  private[engine] def writeRun(dir: String, bucket: Int, round: Int,
      base: Boolean, run: Array[Long]): Unit = {
    val f = fs(dir)
    f.mkdirs(new HPath(dir))
    val kind = if (base) "base" else "delta"
    val dst = new HPath(dir, s"b${bucket}_r${round}_$kind.run")
    if (f.exists(dst)) return
    val tmp = new HPath(dir,
      s".tmp_b${bucket}_r${round}_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try {
      val bb = java.nio.ByteBuffer.allocate(8 + run.length * 8)
      bb.putLong(run.length.toLong)
      var i = 0
      while (i < run.length) { bb.putLong(run(i)); i += 1 }
      out.write(bb.array())
    } finally out.close()
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      require(f.exists(dst), s"seen-index run write lost: $dst")
    }
  }

  private[engine] def readRun(dir: String, name: String): Array[Long] = {
    val f = fs(dir)
    val in = f.open(new HPath(dir, name))
    try {
      val head = new Array[Byte](8)
      in.readFully(head)
      val n = java.nio.ByteBuffer.wrap(head).getLong.toInt
      val data = new Array[Byte](n * 8)
      in.readFully(data)
      val out = new Array[Long](n)
      java.nio.ByteBuffer.wrap(data).asLongBuffer().get(out)
      out
    } finally in.close()
  }

  /** Advance the index commit marker (atomic replace). Call only after the
    * round's run files are materialized AND the round's snapshot is
    * committed. Uses FileContext.rename(OVERWRITE) —
    * posix rename locally, the namenode's atomic rename on HDFS — so
    * there is never a window with no manifest (FileSystem.rename cannot
    * overwrite and would force delete-then-rename). */
  private[engine] def writeManifest(dir: String, buckets: Int, round: Int): Unit = {
    val f = fs(dir)
    f.mkdirs(new HPath(dir))
    val tmp = new HPath(dir, s".manifest_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(s"""{"buckets":$buckets,"round":$round}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new HPath(dir, "manifest.json")
    val fc = FileContext.getFileContext(f.getUri, new Configuration())
    fc.rename(f.makeQualified(tmp), f.makeQualified(dst), Options.Rename.OVERWRITE)
  }

  /** Delete run files AHEAD of `round`. They can only belong to an
    * abandoned timeline (manifest/store rollback — a foreign sidecar, or
    * a writer that got ahead of a snapshot the store later lost): left in
    * place, [[writeRun]]'s exists-skip idempotency would silently keep
    * their stale content when the resumed crawl re-reaches those rounds —
    * silent seen-membership corruption. Called on every resume load,
    * before any top-up.
    *
    * SINGLE-WRITER ASSUMPTION: this deletion is only safe because exactly
    * one crawl driver owns a snapshot root at a time — the store's OCC
    * (round-dir rename as the commit token) arbitrates who COMMITS, not
    * who may be concurrently materializing run files. A resuming driver
    * that raced a still-live writer here could delete that writer's
    * just-written ahead-of-round files; after the writer commits, the
    * sidecar would under-count until the next resume's seen-count
    * cross-check forces a full rebuild (self-healing via [[open]]'s
    * count cross-check, but an avoidable O(seen) rebuild). Concurrent
    * drivers on one root are outside the design: a resume means the
    * previous driver is dead. */
  private[engine] def invalidateAhead(dir: String, round: Int): Unit = {
    val f = fs(dir)
    listRunFiles(dir).filter(_._2 > round)
      .foreach(e => f.delete(new HPath(dir, e._4), false))
  }

  /** Wipe the sidecar (all run files + manifest) ahead of a full rebuild:
    * once the manifest is missing or claims rounds the store never
    * committed, EVERY file in the dir is suspect — including ones at
    * rounds ≤ current, whose foreign content the exists-skip would
    * otherwise keep over the rebuild's writes. */
  private[engine] def wipe(dir: String): Unit = {
    val f = fs(dir)
    if (f.exists(new HPath(dir))) {
      listRunFiles(dir).foreach(e => f.delete(new HPath(dir, e._4), false))
      f.delete(new HPath(dir, "manifest.json"), false)
      ()
    }
  }

  private[engine] def readManifest(dir: String): Option[(Int, Int)] = {
    val f = fs(dir)
    val p = new HPath(dir, "manifest.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      for {
        b <- "\"buckets\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
        r <- "\"round\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      } yield (b, r)
    }
  }

  private def listRunFiles(dir: String): Seq[(Int, Int, Boolean, String)] = {
    val f = fs(dir)
    val p = new HPath(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case FileRe(b, r, kind) => Some((b.toInt, r.toInt, kind == "base", st.getPath.getName))
        case _ => None
      }
    }
  }

  /** Per-bucket read plan at `round`: newest base ≤ round, then later
    * deltas in round order. */
  private def plan(files: Seq[(Int, Int, Boolean, String)], round: Int)
      : Map[Int, Seq[String]] =
    files.filter(_._2 <= round).groupBy(_._1).map { case (b, fsB) =>
      val baseRound = fsB.filter(_._3).map(_._2).maxOption.getOrElse(-1)
      val names = fsB.filter(e => e._2 == baseRound && e._3) ++
        fsB.filter(e => !e._3 && e._2 > baseRound)
      b -> names.sortBy(e => (e._2, !e._3)).map(_._4)
    }

  /** Remove run files superseded by a newer base at or before `round`
    * (driver-side; file count is O(buckets · MaxRuns)). Never touches
    * files newer than `round` — they may belong to a commit in flight. */
  private[engine] def gc(dir: String, round: Int): Unit = {
    val f = fs(dir)
    listRunFiles(dir).filter(_._2 <= round).groupBy(_._1).foreach { case (_, fsB) =>
      fsB.filter(_._3).map(_._2).maxOption.foreach { baseRound =>
        fsB.filter(e => e._2 < baseRound || (e._2 == baseRound && !e._3))
          .foreach(e => f.delete(new HPath(dir, e._4), false))
      }
    }
  }

  /** Load the resident index at the manifest round (which must be ≤ the
    * store's committed `storeRound` — the crawl's write ordering
    * guarantees it; a violation means a foreign/corrupt sidecar and falls
    * back to None → rebuild). Returns the index and the round it
    * represents; [[open]] tops up rounds (idxRound, storeRound] from
    * the committed fetch_log deltas. The load moves ONLY bucket IDs across the
    * cluster: each partition reads its own bucket's files. */
  def load(spark: SparkSession, dir: String, storeRound: Int)
      : Option[(SeenIndex, Int)] =
    readManifest(dir).filter(_._2 <= storeRound).map { case (buckets, idxRound) =>
      val readPlan = plan(listRunFiles(dir), idxRound)
      val bPlan = spark.sparkContext.broadcast(readPlan)
      val dirB = dir
      val runs = spark.sparkContext
        .parallelize(0 until buckets, buckets)
        .mapPartitionsWithIndex { (pid, it) =>
          it.map { b =>
            require(b == pid, s"bucket $b landed in partition $pid")
            (b, bPlan.value.getOrElse(b, Seq.empty)
              .map(name => readRun(dirB, name)).toArray)
          }
        }
      lastLoadLineage = runs.toDebugString
      (SeenIndex.fromRuns(buckets, runs), idxRound)
    }

  /** The crawl's resident index at the committed `state` of `store`: the
    * loaded sidecar, topped up to `state.round`, or — with no usable
    * sidecar — an O(seen) rebuild into `buckets` buckets from the fetch
    * log that re-seeds the sidecar, so the NEXT resume loads. */
  def open(spark: SparkSession, store: SnapshotStore,
      state: FrontierEngine.CrawlState, buckets: Int): SeenIndex = {
    val dir = store.indexDir
    // wipe first: the dir's files are absent or untrustworthy, and
    // writeRun's exists-skip must not keep any over the rebuild's writes
    def rebuild(): SeenIndex = {
      wipe(dir)
      val idx = SeenIndex.fromSeen(spark, state.fetched.select("url_hash"), buckets,
        Some(Sink(dir, state.round)))
      writeManifest(dir, idx.buckets, state.round)
      idx
    }
    load(spark, dir, state.round).map { case (loaded, idxRound) =>
      // run files AHEAD of the committed round belong to an abandoned
      // timeline: delete them now, or the exists-skip would keep their
      // stale content when this crawl re-reaches those rounds (files in
      // (idxRound, round] are same-timeline derivations of committed
      // deltas and stay)
      invalidateAhead(dir, state.round)
      // top up the missed rounds. The add is idempotent: after expiry the
      // compacted keepRound delta holds the union of expired rounds.
      val idx = ((idxRound + 1) to state.round).foldLeft(loaded) { (ix, k) =>
        store.fetchLogPath(k).fold(ix)(p =>
          advance(store, ix, store.readFetchLog(spark, Seq(p)).select("url_hash"), k))
      }
      // integrity cross-check: idx.count is maintained exactly, and the
      // committed fetched_count is the fetch log's row count, which is its
      // distinct-hash count (membership is tested on url_hash, so a
      // colliding url is classified seen and never fetched). A missing or
      // truncated run file SHRINKS membership silently instead of failing,
      // so a mismatch rebuilds. A false positive only costs the rebuild; a
      // false negative would re-fetch/re-emit pages, so the check is
      // deliberately conservative.
      if (idx.count == state.fetchedCount) idx else { idx.release(); rebuild() }
    }.getOrElse(rebuild())
  }

  /** Add committed round `round`'s fetch delta (`url_hash`) to `idx`,
    * writing its run events, then advance the manifest and gc. Call only
    * after the round's snapshot commit. Invalidates `idx`. */
  def advance(store: SnapshotStore, idx: SeenIndex, delta: DataFrame,
      round: Int): SeenIndex = {
    val next = SeenIndex.add(idx, delta, Some(Sink(store.indexDir, round)))
    writeManifest(store.indexDir, next.buckets, round)
    gc(store.indexDir, round)
    next
  }
}
