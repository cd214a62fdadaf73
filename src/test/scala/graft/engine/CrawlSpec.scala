package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end crawl equivalence: the distributed frontier engine must
  * reproduce the scalar BFS oracle exactly — emitted order, statuses,
  * extracted text bytes, and the final seen-set (north rule), under plain
  * BFS, politeness budgets, robots, maxPages caps, and resume.
  */
class CrawlSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val web = SyntheticWeb.Config(nHosts = 8, pagesPerHost = 32, megaFactor = 4)

  private def seeds(hosts: Int*) = hosts.map(h => SyntheticWeb.pageUrl(h, 0)).toList

  private def runBoth(seedList: Seq[String], maxDepth: Int, maxPages: Int,
      budget: Int, sameHost: Boolean = true, robots: Boolean = true,
      store: Option[SnapshotStore] = None) = {
    val ocfg = CrawlOracle.Config(maxDepth, maxPages, budget, sameHost, robots, web)
    val ecfg = FrontierEngine.Config(maxDepth, maxPages, budget, sameHost, robots,
      saltBuckets = 4, web = web)
    val oracle = CrawlOracle.run(seedList, ocfg)
    val (fetched, seen) = FrontierEngine.crawl(spark, seedList, ecfg, store)
    (oracle, fetched, seen)
  }

  private def engineRows(fetched: org.apache.spark.sql.DataFrame) =
    fetched.orderBy("order_idx")
      .select("order_idx", "url", "depth", "round", "status", "title", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getString(6)))

  private def oracleRows(o: CrawlOracle.Result) =
    o.rows.map(e => (e.orderIdx, e.url, e.depth, e.round, e.status, e.title, e.text))

  /** The guard config (seeds(1), depth 2, 200 pages, budget 7): its oracle
    * and its engine config with the index on. */
  private lazy val guardOracle =
    CrawlOracle.run(seeds(1), CrawlOracle.Config(2, 200, 7, true, true, web))
  private val indexCfg = FrontierEngine.Config(2, 200, 7, true, true, 4, web,
    exactSeenIndex = true)

  /** A store holding the first `rounds` committed rounds of the guard crawl
    * with the index on: the state a crash after round `rounds` leaves. */
  private def killedCrawl(prefix: String, rounds: Int): SnapshotStore = {
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory(prefix).toString)
    FrontierEngine.crawl(spark, seeds(1), indexCfg.copy(maxRounds = rounds), Some(store))
    store
  }

  /** Resumes the guard crawl on `store`; rows and seen count match the oracle. */
  private def resumeMatches(store: SnapshotStore): Unit = {
    val (resumed, seen) = FrontierEngine.crawl(spark, seeds(1), indexCfg, Some(store))
    assert(engineRows(resumed).toSeq == oracleRows(guardOracle))
    assert(seen.count() == guardOracle.seen.size)
  }

  test("plain BFS (no budget) matches oracle order, statuses, text, seen-set") {
    val (oracle, fetched, seen) = runBoth(seeds(1), maxDepth = 2,
      maxPages = 200, budget = Int.MaxValue)
    assert(engineRows(fetched).toSeq == oracleRows(oracle))
    val engineSeen = seen.select("url").collect().map(_.getString(0)).toSet
    assert(engineSeen == oracle.seen)
  }

  test("politeness budget defers rows identically (budget=5)") {
    val (oracle, fetched, seen) = runBoth(seeds(1, 2), maxDepth = 2,
      maxPages = 300, budget = 5)
    assert(engineRows(fetched).toSeq == oracleRows(oracle))
    assert(seen.count() == oracle.seen.size)
    // budget actually binds: no host exceeds 5 fetches in any round
    val perRound = fetched.groupBy("round", "host").count()
      .collect().map(_.getLong(2))
    assert(perRound.forall(_ <= 5))
    assert(oracle.rounds > 2) // deferral forced extra rounds
  }

  test("maxPages cap cuts at the same FIFO prefix") {
    val (oracle, fetched, _) = runBoth(seeds(0), maxDepth = 3,
      maxPages = 37, budget = Int.MaxValue)
    val e = engineRows(fetched)
    assert(e.length == 37)
    assert(e.toSeq == oracleRows(oracle))
  }

  test("robots denials recorded as ROBOTS_DENIED and do not expand") {
    // host1 robots: Disallow /private/ (no effect) — host2: blocks /p/7,/p/13
    val (oracle, fetched, _) = runBoth(seeds(2), maxDepth = 2,
      maxPages = 300, budget = Int.MaxValue)
    val e = engineRows(fetched)
    assert(e.toSeq == oracleRows(oracle))
    val denied = e.filter(_._5 == "ROBOTS_DENIED").map(_._2)
    assert(denied.forall(u => u.endsWith("/p/7") || u.endsWith("/p/13")))
    assert(e.exists(_._5 == "ROBOTS_DENIED"))
  }

  test("cross-host crawl (sameHostOnly=false) still matches") {
    val (oracle, fetched, _) = runBoth(seeds(3), maxDepth = 2,
      maxPages = 120, budget = Int.MaxValue, sameHost = false)
    assert(engineRows(fetched).toSeq == oracleRows(oracle))
    val hosts = fetched.select("host").distinct().count()
    assert(hosts > 1) // cross-host edges were followed
  }

  test("error statuses present and counted toward maxPages") {
    val (oracle, fetched, _) = runBoth(seeds(0, 1, 2, 3), maxDepth = 2,
      maxPages = 400, budget = Int.MaxValue)
    val statuses = engineRows(fetched).map(_._5).toSet
    assert(statuses.contains("OK"))
    assert(statuses.exists(s => s != "OK")) // 404/500/content gates fire
    assert(engineRows(fetched).toSeq == oracleRows(oracle))
  }

  test("extracted text is byte-identical between engine and oracle") {
    val (oracle, fetched, _) = runBoth(seeds(4), maxDepth = 1,
      maxPages = 60, budget = Int.MaxValue)
    val byUrl = oracle.rows.map(e => e.url -> e.text).toMap
    engineRows(fetched).foreach { case (_, url, _, _, status, _, text) =>
      if (status == "OK") assert(text == byUrl(url), s"text mismatch for $url")
    }
  }

  test("snapshot commit + resume reproduces the uninterrupted crawl") {
    val dirAll = java.nio.file.Files.createTempDirectory("crawl-all").toString
    val (oracle, fetchedAll, _) = runBoth(seeds(1), maxDepth = 2,
      maxPages = 200, budget = 7, store = Some(new SnapshotStore(dirAll)))
    assert(engineRows(fetchedAll).toSeq == oracleRows(oracle))

    // interrupted run: crash after 2 rounds (round-boundary interruption),
    // then resume from the committed snapshot with the same config
    val dir = java.nio.file.Files.createTempDirectory("crawl-resume").toString
    val store = new SnapshotStore(dir)
    val ecfgFull = FrontierEngine.Config(2, 200, 7, true, true, 4, web)
    FrontierEngine.crawl(spark, seeds(1), ecfgFull.copy(maxRounds = 2), Some(store))
    val roundsAfterPhase1 = store.currentRound.get
    assert(roundsAfterPhase1 == 2)
    val (resumed, seenResumed) = FrontierEngine.crawl(spark, seeds(1), ecfgFull, Some(store))
    assert(store.currentRound.get > roundsAfterPhase1)
    assert(engineRows(resumed).toSeq == oracleRows(oracle))
    assert(seenResumed.count() == oracle.seen.size)

    // manifests carry per-partition lineage + status metrics
    val m = store.manifest(1).get
    assert(m.contains("\"partitions\""))
    assert(m.contains("\"status_counts\""))
    // the fetch log is the one record of the seen set: no second table
    assert(new java.io.File(dir, "r1").list().toSet ==
      Set("frontier", "fetch_log", "manifest.json"))
  }

  test("a stale `_current` pointer cannot block resume") {
    // the round rename is the only commit: a pointer file naming r1, left
    // by an older store that crashed between r2's rename and its pointer
    // write, and a staging dir left by a writer that died mid-round are
    // both ignored, so the resume starts after r2 instead of recomputing it
    val store = killedCrawl("crawl-stale-ptr", 2)
    val root = java.nio.file.Paths.get(store.indexDir).getParent
    java.nio.file.Files.writeString(root.resolve("_current"), "r1")
    java.nio.file.Files.createDirectories(root.resolve("r3.staging.0"))
    resumeMatches(store)
  }

  test("exact seen index: resume from snapshot rebuilds the index (no loss)") {
    resumeMatches(killedCrawl("crawl-idx-resume", 2))
  }

  test("durable seen index: resume loads the sidecar with ZERO shuffle, crawl byte-identical") {
    val store = killedCrawl("crawl-idx-durable", 2)
    // phase 1 persisted run files + manifest for its committed rounds
    val m1 = SeenIndexStore.readManifest(store.indexDir)
    assert(m1.exists(_._2 == store.currentRound.get),
      s"sidecar manifest $m1 != committed round ${store.currentRound}")

    SeenIndexStore.lastLoadLineage = ""
    val ((resumed, seenResumed), jobs) = graft.SparkJobs.count(spark.sparkContext)(
      FrontierEngine.crawl(spark, seeds(1), indexCfg, Some(store)))
    assert(engineRows(resumed).toSeq == oracleRows(guardOracle))
    assert(seenResumed.count() == guardOracle.seen.size)
    // the count cross-check reads the committed fetched_count, so no
    // fetch-log count job runs beside the load
    assert(jobs <= 14, s"$jobs jobs in the resumed crawl")

    // the resume LOADED the sidecar (not fromSeen), and the load moved no
    // hashes: its lineage contains no shuffle at all — only the bucket-ID
    // parallelize feeding per-bucket file reads
    val lin = SeenIndexStore.lastLoadLineage
    assert(lin.nonEmpty, "durable load never ran on resume")
    assert(!lin.contains("ShuffledRDD"), s"durable index load shuffled:\n$lin")
  }

  test("durable seen index: sidecar survives a missed round (manifest behind commit)") {
    // simulate a crash between snapshot commit and index persist by
    // rolling the manifest back one round, then resume: the loader must
    // top up the missed round from its committed fetch_log/ parquet delta
    val store = killedCrawl("crawl-idx-topup", 3)
    val (buckets, r) = SeenIndexStore.readManifest(store.indexDir).get
    assert(r >= 2)
    SeenIndexStore.writeManifest(store.indexDir, buckets, r - 1)
    resumeMatches(store)
  }

  test("durable seen index: many-round crawl compacts buckets in-crawl; resume stays exact") {
    // cross-host + tiny per-host budget: every bucket receives a delta
    // every round, so buckets exceed MaxRuns runs and the sidecar takes
    // the compaction path (base rewrite + gc) during a REAL crawl, not
    // just in the unit test above
    val dir = java.nio.file.Files.createTempDirectory("crawl-idx-compact").toString
    val store = new SnapshotStore(dir)
    val ocfg = CrawlOracle.Config(3, 200, 2, false, true, web)
    val oracle = CrawlOracle.run(seeds(1), ocfg)
    val ecfg = FrontierEngine.Config(3, 200, 2, false, true, 4, web,
      exactSeenIndex = true)
    FrontierEngine.crawl(spark, seeds(1), ecfg.copy(maxRounds = 12), Some(store))
    assert(store.currentRound.get >= 10, "crawl too short to force compaction")
    val files = new java.io.File(store.indexDir).list().filter(_.endsWith(".run"))
    // first-fill bases land at r1 (empty bucket + first delta = single
    // run); any base at a later round can only come from a compaction
    assert(files.exists(f => f.contains("_base") && !f.contains("_r1_")),
      s"no compaction base ever written: ${files.sorted.toSeq}")
    // gc keeps per bucket at most: one base + deltas after it (across all
    // rounds so far) — never the full uncompacted history
    val maxPerBucket = files.groupBy(_.split("_")(0)).values.map(_.length).max
    assert(maxPerBucket <= SeenIndex.MaxRuns + 1,
      s"gc left $maxPerBucket files in one bucket: ${files.sorted.toSeq}")

    val (resumed, seenResumed) = FrontierEngine.crawl(spark, seeds(1), ecfg, Some(store))
    assert(engineRows(resumed).toSeq == oracleRows(oracle))
    assert(seenResumed.count() == oracle.seen.size)
  }

  test("durable seen index: survives snapshot expiry (top-up from the compacted delta is idempotent)") {
    val store = killedCrawl("crawl-idx-expiry", 3)
    // expire everything into the latest round, AND roll the index manifest
    // back: the top-up then reads the compacted seen delta, which holds
    // the UNION of expired rounds — already-resident hashes must drop out
    val keep = store.currentRound.get
    store.expireSnapshotsBefore(spark, keep)
    val (buckets, r) = SeenIndexStore.readManifest(store.indexDir).get
    SeenIndexStore.writeManifest(store.indexDir, buckets, r - 2)
    resumeMatches(store)
  }

  test("durable seen index: stale run files AHEAD of the committed round are invalidated on resume") {
    // the abandoned-timeline case (r6 ADVICE): a rolled-back store leaves
    // run files at rounds ahead of the new manifest; writeRun's
    // exists-skip idempotency would silently keep their stale content
    // when the resumed crawl re-reaches those rounds
    val store = killedCrawl("crawl-idx-stale", 2)
    val committed = store.currentRound.get
    val planted = Array(111L, 333L)
    SeenIndexStore.writeRun(store.indexDir, 0, committed + 1, base = false, planted)
    resumeMatches(store)
    // the planted file must be gone or re-written with the round's REAL
    // delta — never kept verbatim by the exists-skip
    val name = s"b0_r${committed + 1}_delta.run"
    if (new java.io.File(store.indexDir, name).exists())
      assert(!SeenIndexStore.readRun(store.indexDir, name).sameElements(planted),
        "planted stale-timeline run survived the resume")
    // a further resume loads the (now clean) sidecar and stays exact
    resumeMatches(store)
  }

  test("durable seen index: a manifest AHEAD of the store wipes the dir and rebuilds") {
    // foreign/corrupt sidecar: the manifest claims rounds the store never
    // committed — nothing in the dir is trustworthy, including files at
    // rounds <= current whose content the exists-skip would keep
    val store = killedCrawl("crawl-idx-foreign", 2)
    // poison one real run file in place, then point the manifest ahead
    val idxDir = new java.io.File(store.indexDir)
    val victim = idxDir.list().filter(_.endsWith(".run")).min
    new java.io.File(idxDir, victim).delete()
    val re = "b(\\d+)_r(\\d+)_(base|delta)\\.run".r
    val re(vb, vr, vkind) = victim
    SeenIndexStore.writeRun(store.indexDir, vb.toInt, vr.toInt,
      base = vkind == "base", Array(12345L))
    val (buckets, _) = SeenIndexStore.readManifest(store.indexDir).get
    SeenIndexStore.writeManifest(store.indexDir, buckets, 99)
    resumeMatches(store)
    // the poisoned file cannot have survived the rebuild's wipe
    if (new java.io.File(idxDir, victim).exists())
      assert(!SeenIndexStore.readRun(store.indexDir, victim).sameElements(Array(12345L)),
        "foreign-sidecar run survived the wipe")
    resumeMatches(store)
  }

  test("durable seen index: a truncated run file fails the count cross-check and rebuilds") {
    // silent-shrink case (r6 ADVICE): a run file losing hashes doesn't
    // fail structurally — membership just silently shrinks. The resume's
    // idx.count vs committed-seen-count check must catch it and fall back
    // to the fromSeen rebuild.
    val store = killedCrawl("crawl-idx-trunc", 2)
    val committed = store.currentRound.get
    val idxDir = new java.io.File(store.indexDir)
    val re = "b(\\d+)_r(\\d+)_(base|delta)\\.run".r
    // drop one hash from the largest run file (stays bucket-valid, so
    // nothing fails loudly — only the count can notice)
    val victim = idxDir.list().filter(_.endsWith(".run"))
      .maxBy(n => SeenIndexStore.readRun(store.indexDir, n).length)
    val content = SeenIndexStore.readRun(store.indexDir, victim)
    assert(content.length >= 2, s"no run file large enough to truncate")
    val re(vb, vr, vkind) = victim
    new java.io.File(idxDir, victim).delete()
    SeenIndexStore.writeRun(store.indexDir, vb.toInt, vr.toInt,
      base = vkind == "base", content.drop(1))
    resumeMatches(store)
    // rebuild proof: fromSeen re-seeded the sidecar with base files at the
    // resumed-from round (a plain top-up never writes those)
    assert(idxDir.list().exists(_.matches(s"b\\d+_r${committed}_base\\.run")),
      s"no rebuild base at r$committed: ${idxDir.list().sorted.toSeq}")
  }

  test("SeenIndexStore: run files round-trip; load plans newest base + later deltas; gc prunes") {
    val dir = java.nio.file.Files.createTempDirectory("seen-idx-store").toString
    // bucket layout invariant: bucket b holds hashes with floorMod(h, 2) == b
    // bucket 0 history: delta r1, delta r2, base r3 (compaction), delta r4
    SeenIndexStore.writeRun(dir, 0, 1, base = false, Array(2L, 6L))
    SeenIndexStore.writeRun(dir, 0, 2, base = false, Array(10L))
    SeenIndexStore.writeRun(dir, 0, 3, base = true, Array(2L, 6L, 10L, 12L))
    SeenIndexStore.writeRun(dir, 0, 4, base = false, Array(20L))
    // bucket 1: single base
    SeenIndexStore.writeRun(dir, 1, 2, base = true, Array(7L))
    assert(SeenIndexStore.readRun(dir, "b0_r3_base.run").toSeq == Seq(2L, 6L, 10L, 12L))
    SeenIndexStore.writeManifest(dir, 2, 4)

    val (idx, round) = SeenIndexStore.load(spark, dir, storeRound = 4).get
    assert(round == 4)
    assert(idx.count == 6) // {2,6,10,12,20} + {7}: superseded deltas not double-counted
    val (nRuns, _) = idx.runStats()
    assert(nRuns == 3, s"expected base+delta for b0 and base for b1, got $nRuns runs")
    import spark.implicits._
    val fresh = SeenIndex.unseen(spark, Seq(2L, 10L, 20L, 7L, 999L).toDF("url_hash"), idx)
    assert(fresh.collect().map(_.getLong(0)).toSeq == Seq(999L))
    idx.release()

    // gc removes files superseded by b0's base at r3; keeps r3 base + r4 delta
    SeenIndexStore.gc(dir, 4)
    val left = new java.io.File(dir).list().filter(_.endsWith(".run")).toSet
    assert(left == Set("b0_r3_base.run", "b0_r4_delta.run", "b1_r2_base.run"), left)

    // a manifest ahead of the store's committed round is rejected (foreign sidecar)
    assert(SeenIndexStore.load(spark, dir, storeRound = 3).isEmpty)
  }

  test("SeenIndex: add/probe/compaction keep exact membership") {
    import spark.implicits._
    val buckets = 4
    var idx = SeenIndex.empty(spark, buckets)
    val all = scala.collection.mutable.Set[Long]()
    // 12 delta rounds > MaxRuns forces at least one compaction per bucket
    (0 until 12).foreach { r =>
      val delta = (0 until 50).map(i => r * 1000L + i * 7L)
      all ++= delta
      idx = SeenIndex.add(idx, delta.toDF("url_hash"))
    }
    assert(idx.count == all.size, s"count ${idx.count} != ${all.size}")
    val (nRuns, nResident) = idx.runStats()
    assert(nResident == all.size)
    assert(nRuns <= buckets.toLong * SeenIndex.MaxRuns,
      s"compaction never ran: $nRuns runs")
    // probe: half present, half absent
    val present = all.take(100).toSeq
    val absent = (0 until 100).map(i => 999983L * (i + 1))
      .filterNot(all.contains)
    val cand = (present ++ absent).toDF("url_hash")
    val fresh = SeenIndex.unseen(spark, cand, idx)
    assert(fresh.collect().map(_.getLong(0)).sorted.toSeq == absent.sorted)
  }

  test("SeenIndex matches a Set model under randomized adds/probes") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    var idx = SeenIndex.empty(spark, 3)
    val model = scala.collection.mutable.Set[Long]()
    (0 until 6).foreach { _ =>
      // deltas with internal duplicates and values colliding across rounds
      val delta = Seq.fill(rnd.nextInt(80) + 1)(rnd.nextInt(500).toLong)
      model ++= delta
      idx = SeenIndex.add(idx, delta.toDF("url_hash"))
      assert(idx.count == model.size, s"count ${idx.count} != ${model.size}")
      val probes = Seq.fill(60)(rnd.nextInt(700).toLong).distinct
      val fresh = SeenIndex.unseen(spark, probes.toDF("url_hash"), idx)
      assert(fresh.collect().map(_.getLong(0)).sorted.toSeq ==
        probes.filterNot(model.contains).sorted)
    }
  }

  test("SeenIndex mergeRuns/dedupSorted kernels") {
    assert(SeenIndex.dedupSorted(Array(1L, 1L, 2L, 3L, 3L, 3L)).toSeq == Seq(1L, 2L, 3L))
    assert(SeenIndex.dedupSorted(Array.empty[Long]).toSeq == Seq())
    assert(SeenIndex.mergeRuns(Array(Array(1L, 3L, 5L), Array(2L, 3L, 6L),
      Array.empty[Long])).toSeq == Seq(1L, 2L, 3L, 5L, 6L))
    assert(SeenIndex.containsHash(Array(Array(1L, 3L), Array(7L)), 7L))
    assert(!SeenIndex.containsHash(Array(Array(1L, 3L), Array(7L)), 5L))
  }

  test("optimistic concurrency: two writers race one parent, exactly one wins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("crawl-occ").toString
    val store = new SnapshotStore(dir)
    def mk(tag: String, round: Int) = {
      val fetched = Seq((s"http://h0.example/$tag", tag.hashCode.toLong, "h0.example",
          0, round, 0L, 0, "OK", tag, s"text of $tag", ""))
        .toDF("url", "url_hash", "host", "depth", "round", "order_idx",
          "partition_id", "status", "title", "text", "etag")
      val st = FrontierEngine.CrawlState(
        frontier = FrontierEngine.seedFrontier(spark, Seq("http://h0.example/")).toDF(),
        fetched = fetched, round = round, fetchedCount = 1L)
      val r = FrontierEngine.RoundResult(fetched,
        FrontierEngine.seedFrontier(spark, Seq("http://h0.example/next")),
        taken = 1L)
      (st, r)
    }
    // both writers derive round 1 from the same (empty) parent snapshot
    // and race the commit — the atomic staging-dir rename means EXACTLY
    // one can win, no matter how the writes interleave
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val threads = Seq("writerA", "writerB").map { tag =>
      val t = new Thread(() => {
        val (st, r) = mk(tag, 1)
        gate.await()
        try store.commit(spark, st, r)
        catch { case e: Throwable => results.put(tag, e) }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(results.size == 1, s"expected exactly one loser, got: $results")
    val (loser, err) = { val e = results.entrySet().iterator().next(); (e.getKey, e.getValue) }
    assert(err.isInstanceOf[SnapshotStore.CommitConflictException],
      s"loser failed with ${err.getClass}: ${err.getMessage}")
    val winner = if (loser == "writerA") "writerB" else "writerA"

    // the committed snapshot is EXACTLY the winner's — no torn mix
    assert(store.currentRound.contains(1))
    val committed = store.loadLatest(spark).get
    val titles = committed.fetched.select("title").collect().map(_.getString(0)).toSeq
    assert(titles == Seq(winner), s"r1 holds $titles, winner was $winner")
    assert(store.manifest(1).get.contains("\"round\":1"))
    // no staging residue survives the conflict
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(leftovers)
      .asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.contains("staging")), s"staging left behind: $names")

    // the loser retries cleanly: reload the winner's snapshot, recompute
    // on top (round 2), commit succeeds
    assert(store.loadLatest(spark).get.round == 1)
    val (st2, r2) = mk(loser, 2)
    store.commit(spark, st2, r2)
    assert(store.currentRound.contains(2))
    val all = store.loadLatest(spark).get.fetched
      .select("title").collect().map(_.getString(0)).toSet
    assert(all == Set(winner, loser))
  }

  test("budget window ranks by (priority, next_fetch_time) with FIFO tiebreak") {
    import spark.implicits._
    // one host, budget 2: the two best (priority, nft) rows must be taken,
    // regardless of FIFO position — the general scheduler surface the BFS
    // special-case (priority=depth, nft=0) degenerates from
    def row(p: Int, prio: Double, nft: Long, pos: Int) = {
      val u = SyntheticWeb.pageUrl(0, p)
      FrontierEngine.FrontierRow(u, graft.core.UrlNorm.urlHash(u), "host0.example",
        0, 0L, pos, prio, nft)
    }
    val frontier = Seq(
      row(1, 2.0, 0L, 0), // worst priority, earliest FIFO
      row(2, 1.0, 5L, 1), // best priority, later nft
      row(3, 1.0, 2L, 2)  // best priority, earliest nft -> rank 1
    ).toDS()
    val emptySeen = Seq.empty[(Long, String)].toDF("url_hash", "url")
    val cfg = FrontierEngine.Config(maxDepth = 0, maxPages = 100, hostBudget = 2, web = web)
    val r = FrontierEngine.round(spark, frontier, emptySeen, 1, 0L, frontier.count(), cfg)
    val fetchedUrls = r.fetched.select("url").collect().map(_.getString(0)).toSet
    assert(fetchedUrls == Set(SyntheticWeb.pageUrl(0, 3), SyntheticWeb.pageUrl(0, 2)),
      s"took $fetchedUrls")
    val deferred = r.newFrontier.collect().map(_.url).toSet
    assert(deferred.contains(SyntheticWeb.pageUrl(0, 1)))
  }

  test("deferSeconds: a budget-deferred row re-ranks behind fresher work") {
    import spark.implicits._
    def row(p: Int, pos: Int, parentOrder: Long) = {
      val u = SyntheticWeb.pageUrl(0, p)
      FrontierEngine.FrontierRow(u, graft.core.UrlNorm.urlHash(u), "host0.example",
        0, parentOrder, pos, 0.0, 0L)
    }
    val emptySeen = Seq.empty[(Long, String)].toDF("url_hash", "url")
    val cfg = FrontierEngine.Config(maxDepth = 0, maxPages = 100, hostBudget = 1,
      web = web, deferSeconds = 2L)
    // round 1: A (FIFO first) taken, B deferred and stamped nft = 1 + 2 = 3
    val frontier1 = Seq(row(1, 0, 0L), row(2, 1, 0L)).toDS()
    val r1 = FrontierEngine.round(spark, frontier1, emptySeen, 1, 0L, frontier1.count(), cfg)
    assert(r1.fetched.select("url").as[String].collect().toSeq ==
      Seq(SyntheticWeb.pageUrl(0, 1)))
    val deferred = r1.newFrontier.collect()
    assert(deferred.map(_.url).toSeq == Seq(SyntheticWeb.pageUrl(0, 2)))
    assert(deferred.head.next_fetch_time == 3L)
    // round 2: C arrives fresh (nft=0, LATER FIFO position) — it must beat
    // the deferred B (nft=3) under the (priority, next_fetch_time) rank
    val frontier2 = r1.newFrontier.union(Seq(row(3, 0, 5L)).toDS())
    val r2 = FrontierEngine.round(spark, frontier2,
      emptySeen.union(r1.fetched.select("url_hash", "url")), 2, 1L, frontier2.count(), cfg)
    assert(r2.fetched.select("url").as[String].collect().toSeq ==
      Seq(SyntheticWeb.pageUrl(0, 3)))
    assert(r2.newFrontier.collect().map(_.url).toSeq ==
      Seq(SyntheticWeb.pageUrl(0, 2))) // B deferred again, nft re-stamped
  }

  test("deferSeconds crawl converges: same page SET as BFS, no starvation") {
    // deferral reorders WITHIN the schedule but must not starve any URL:
    // a full crawl with deferral fetches exactly the BFS oracle's page set
    val ocfg = CrawlOracle.Config(2, 150, 3, true, true, web)
    val oracle = CrawlOracle.run(seeds(3), ocfg)
    val ecfg = FrontierEngine.Config(2, 150, 3, true, true, 4, web,
      deferSeconds = 3L)
    val (fetched, seen) = FrontierEngine.crawl(spark, seeds(3), ecfg)
    val engineUrls = fetched.select("url").collect().map(_.getString(0)).toSet
    val oracleUrls = oracleRows(oracle).map(_._2).toSet
    assert(engineUrls == oracleUrls)
    assert(seen.count() == oracle.seen.size)
  }

  test("long crawls keep a bounded plan: union tree collapses every K rounds") {
    // budget 1 on one host => one page per round => ~28 rounds; without the
    // collapse the seen plan accretes one Union node per round
    val cfg = FrontierEngine.Config(maxDepth = 31, maxPages = 28, hostBudget = 1,
      sameHostOnly = true, respectRobots = false, saltBuckets = 2, web = web)
    val (fetched, seen) = FrontierEngine.crawl(spark, seeds(1), cfg, None)
    assert(fetched.count() == 28)
    val unions = "\\bUnion\\b".r.findAllIn(seen.queryExecution.logical.toString).size
    assert(unions <= 8, s"seen plan carries $unions Union nodes after 28 rounds")
  }

  test("plan collapse releases the fetch deltas and the leaf it replaces") {
    // one page per round => 17 rounds, two collapses: what stays cached is
    // the deltas since the last collapse and, storeless, its leaf
    val cfg = FrontierEngine.Config(maxDepth = 31, maxPages = 17, hostBudget = 1,
      sameHostOnly = true, respectRobots = false, saltBuckets = 2, web = web)
    Seq(true, false).foreach { stored =>
      val store = Option.when(stored)(
        new SnapshotStore(java.nio.file.Files.createTempDirectory("crawl-collapse").toString))
      val ((fetched, _), left) = graft.SparkJobs.persisted(spark.sparkContext)(
        FrontierEngine.crawl(spark, seeds(1), cfg, store))
      assert(fetched.count() == 17)
      assert(left <= FrontierEngine.planCollapseEvery + 1,
        s"store=$stored: $left persistent RDDs left after 17 rounds")
    }
  }

  test("snapshot expiry compacts deltas and preserves reads (TTL sweep analog)") {
    val dirS = java.nio.file.Files.createTempDirectory("crawl-expire").toString
    val store = new SnapshotStore(dirS)
    val cfg = FrontierEngine.Config(2, 120, 7, true, true, 4, web)
    FrontierEngine.crawl(spark, seeds(1), cfg, Some(store))
    val rN = store.currentRound.get
    assert(rN >= 2)
    val pagesBefore = store.pagesAsOf(spark, rN).count()
    val fetchedBefore = store.loadLatest(spark).get.fetched
      .orderBy("order_idx").select("url").collect().map(_.getString(0)).toSeq
    store.expireSnapshotsBefore(spark, rN)
    // expired round dirs are gone; the compacted snapshot reads identically
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dirS/r1")))
    assert(store.pagesAsOf(spark, rN).count() == pagesBefore)
    val fetchedAfter = store.loadLatest(spark).get.fetched
      .orderBy("order_idx").select("url").collect().map(_.getString(0)).toSeq
    assert(fetchedAfter == fetchedBefore)
  }

  test("cache clear = snapshot minus predicate (cache.ts:127-141 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-clear").toString
    val store = new SnapshotStore(dir)
    val cfg = FrontierEngine.Config(2, 60, Int.MaxValue, true, true, 4, web)
    FrontierEngine.crawl(spark, seeds(1), cfg, Some(store))
    val before = (1 to store.currentRound.get)
      .map(i => store.pagesDelta(spark, i))
      .reduce(_ union _).count()
    assert(before > 0)
    store.deleteWhere(spark, "depth >= 2")
    val compacted = spark.read.parquet(s"$dir/r${store.currentRound.get}/pages_compacted")
    assert(compacted.count() < before)
    assert(compacted.filter("depth >= 2").count() == 0)
  }

  test("time travel: pages AS OF round r is a strict prefix of the table") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-tt").toString
    val store = new SnapshotStore(dir)
    val cfg = FrontierEngine.Config(2, 120, 7, true, true, 4, web)
    FrontierEngine.crawl(spark, seeds(1), cfg, Some(store))
    val last = store.currentRound.get
    assert(last >= 2)
    val early = store.pagesAsOf(spark, 1).count()
    val full = store.pagesAsOf(spark, last).count()
    assert(early < full)
    // AS OF 1 equals exactly round 1's delta
    assert(early == store.pagesDelta(spark, 1).count())
  }

  test("mega-host skew: one round's fetches spread across salt partitions") {
    // host0 has 4x the pages; with a large budget one round fetches many
    // host0 urls — the salted repartition must spread them over multiple
    // partitions rather than serializing the mega-host in one task
    val cfg = FrontierEngine.Config(2, 400, Int.MaxValue, true, true, 4, web)
    val (fetched, _) = FrontierEngine.crawl(spark, seeds(0), cfg)
    val h0 = fetched.filter(org.apache.spark.sql.functions.col("host") === "host0.example")
    val byRound = h0.groupBy("round").count().collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val bigRound = byRound.maxBy(_._2)._1
    val parts = h0.filter(org.apache.spark.sql.functions.col("round") === bigRound)
      .select("partition_id").distinct().count()
    assert(byRound(bigRound) > 8, s"round sizes: $byRound")
    assert(parts > 1, s"mega-host serialized into one partition (round $bigRound)")
  }

  /** Crawls seeds(1) at the guard config (depth 2, 200 pages, budget 7) in
    * one seen/store mode and checks it against the oracle: rows, seen count,
    * at most one persistent RDD left per round (the cached fetch deltas) and,
    * with the index, the probe lineage. Returns the crawl's Spark job count
    * and its store. */
  private def guardCrawl(stored: Boolean, index: Boolean): (Int, Option[SnapshotStore]) = {
    val sc = spark.sparkContext
    val mode = s"store=$stored index=$index"
    val store = Option.when(stored)(
      new SnapshotStore(java.nio.file.Files.createTempDirectory("crawl-jobs").toString))
    val ecfg = indexCfg.copy(exactSeenIndex = index)
    val (((fetched, seen), jobs), left) = graft.SparkJobs.persisted(sc) {
      graft.SparkJobs.count(sc)(FrontierEngine.crawl(spark, seeds(1), ecfg, store))
    }
    val rows = engineRows(fetched)
    assert(rows.toSeq == oracleRows(guardOracle), mode)
    assert(seen.count() == guardOracle.seen.size, mode)
    val rounds = rows.map(_._4).distinct.length
    assert(left <= rounds, s"$mode: $left persistent RDDs left after $rounds rounds")
    if (index) {
      // the probe never shuffles the seen side: ONE ShuffledRDD (the
      // candidate partitionBy) zipped against the resident runs
      val lin = SeenIndex.lastProbeLineage
      assert("ShuffledRDD".r.findAllIn(lin).size == 1, s"seen side shuffled:\n$lin")
      assert(lin.contains("ZippedPartitionsRDD"), s"probe is not a zip:\n$lin")
    }
    (jobs, store)
  }

  test("exact seen index: crawl is byte-identical to the anti-join path") {
    // storeless, the resident bucket-co-partitioned index against the
    // O(seen)-shuffle anti-join: both reproduce the oracle exactly
    guardCrawl(stored = false, index = true)
    guardCrawl(stored = false, index = false)
  }

  test("exact seen index: multi-seed unbounded-budget BFS (q30's config class)") {
    // storeless with the index: FIFO-index counts, frontier checkpoint and
    // index add per fetching round, the counts alone in the last round,
    // which takes nothing, plus the one-job index build
    val oracle = CrawlOracle.run(seeds(0, 1, 2, 3),
      CrawlOracle.Config(2, 300, Int.MaxValue, true, true, web))
    val ecfg = FrontierEngine.Config(2, 300, Int.MaxValue, true, true, 4, web,
      exactSeenIndex = true)
    val ((fetched, seen), jobs) = graft.SparkJobs.count(spark.sparkContext)(
      FrontierEngine.crawl(spark, seeds(0, 1, 2, 3), ecfg))
    val rows = engineRows(fetched)
    // the rounds that fetched, and the empty round that ends a crawl
    // stopping short of its page cap
    val fetching = rows.map(_._4).distinct.length
    val emptyRound = if (rows.length < 300) 1 else 0
    assert(rows.toSeq == oracleRows(oracle))
    assert(seen.count() == oracle.seen.size)
    assert(jobs <= 3 * fetching + emptyRound + 1,
      s"$jobs jobs over $fetching fetching rounds and $emptyRound empty one")
  }

  test("store-backed index crawl: Spark jobs per committed round stay pinned") {
    // 22 jobs over 4 committed rounds, the index build included. A second
    // seen table, a schema-inferring read-back or an eager probe
    // checkpoint would each add one job per round.
    val (jobs, store) = guardCrawl(stored = true, index = true)
    assert(jobs <= 6 * store.get.currentRound.get, s"$jobs jobs")
    // the store-backed anti-join path matches and releases its caches too
    guardCrawl(stored = true, index = false)
  }
}
