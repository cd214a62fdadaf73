package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Extract, Robots, UrlNorm}

/** The distributed crawl-frontier engine (SURVEY.md §7 module 6; north rule).
  *
  * One scheduling round is a typed Dataset pipeline:
  *   frontier → dedupe(min seq per url) → drop seen urls → per-host
  *   rank/budget window → global FIFO order index → repartition(host,salt)
  *   → mapPartitions(robots gate + synthetic fetch + extract kernel)
  *   → fetch_log delta + next frontier
  *
  * Scale design (10^10-URL frontier):
  *  - the fetch log is the one record of the seen set: a URL is seen iff
  *    its 64-bit xxh64 hash is in `fetched`. Membership is tested exactly
  *    by probing the resident [[SeenIndex]], which holds the same hashes
  *    and is maintained from each round's fetch delta, so a round shuffles
  *    only that delta and its own candidates, never the whole seen set.
  *  - the politeness budget is enforced BEFORE the salted repartition by a
  *    window over the host key (rank ≤ B), so a mega-host's per-round fetch
  *    work is bounded by B and spread over `saltBuckets` partitions. The
  *    window itself is not bounded: it sorts one host's whole pre-budget
  *    frontier in a single task.
  *  - the global BFS order index is computed without a single-partition
  *    window: range-partition by the FIFO key, count rows per partition,
  *    broadcast the prefix offsets, add the local rank (two narrow passes).
  *  - every round commits its fetch_log delta, the next frontier and
  *    per-partition lineage to a [[SnapshotStore]]; a crawl on a store
  *    that holds rounds resumes from the highest committed one.
  */
object FrontierEngine {

  final case class FrontierRow(
      url: String, url_hash: Long, host: String, depth: Int,
      parent_order: Long, link_pos: Int,
      // the scheduler's general rank keys (north rule: "rank by (priority,
      // next-fetch-time) with a window over host"). BFS is the degenerate
      // case priority = depth, next_fetch_time = 0 — the rank order then
      // coincides with the FIFO (parent_order, link_pos) order, which is
      // what the reference-exactness oracle pins.
      priority: Double = 0.0, next_fetch_time: Long = 0L)

  final case class FetchedRow(
      url: String, url_hash: Long, host: String, depth: Int, round: Int,
      order_idx: Long, partition_id: Int, status: String,
      title: String, text: String, links: Seq[String], etag: String)

  final case class Config(
      maxDepth: Int = 2,
      maxPages: Int = 50,
      hostBudget: Int = Int.MaxValue,
      sameHostOnly: Boolean = true,
      respectRobots: Boolean = true,
      saltBuckets: Int = 4,
      web: SyntheticWeb.Config = SyntheticWeb.Config(),
      /** stop after this many rounds (simulates a crash mid-crawl; resume
        * restarts from the last committed snapshot — a round boundary). */
      maxRounds: Int = Int.MaxValue,
      /** politeness deferral (reference: fetch.ts:92-107 retry-seconds):
        * when > 0, budget-deferred rows are stamped next_fetch_time =
        * round + deferSeconds (logical clock = round number), so a host
        * that exhausted its budget re-ranks BEHIND fresher same-priority
        * work next round. 0 (BFS mode) keeps next_fetch_time untouched —
        * the reference-exactness oracles pin that ordering. */
      deferSeconds: Long = 0L,
      /** Unread: every crawl probes the resident [[SeenIndex]]. The field
        * stays only because the benchmark harness still names it, and goes
        * once the benchmark stops naming it (ROADMAP item 7). */
      exactSeenIndex: Boolean = true)

  final case class RoundResult(
      /** FetchedRow sans links, over a lazily checkpointed leaf: it
        * materializes with its first consumer, and later rounds union it
        * into the fetch log without embedding its plan. */
      fetched: DataFrame,
      newFrontier: Dataset[FrontierRow],
      taken: Long,
      /** release the ranked frontier and the FIFO index's sorted cache —
        * call AFTER newFrontier and fetched are materialized (checkpoint/
        * commit). */
      cleanup: () => Unit = () => ())

  def seedFrontier(spark: SparkSession, seeds: Seq[String]): Dataset[FrontierRow] = {
    import spark.implicits._
    seeds.flatMap(UrlNorm.canonicalize).zipWithIndex.map { case (u, i) =>
      FrontierRow(u, UrlNorm.urlHash(u), UrlNorm.host(u).getOrElse(""), 0, -1L, i, 0.0, 0L)
    }.toDS()
  }

  /** One scheduling round. A frontier URL is seen iff its `url_hash` is in
    * `seenIdx`, the resident index of every page fetched so far (the fetch
    * log); their count is `fetchedSoFar`, which also drives the global
    * maxPages cap. `frontierEst` is an order-of-magnitude estimate of the
    * frontier's row count; it sizes the FIFO index's range partitions and
    * never changes the result. */
  def round(spark: SparkSession, frontier: Dataset[FrontierRow],
      roundNo: Int, fetchedSoFar: Long, frontierEst: Long,
      cfg: Config, seenIdx: SeenIndex): RoundResult = {
    import spark.implicits._

    // 1. within-frontier dedupe: first discovery (min FIFO seq) wins.
    //    Grouped on url_hash ALONE (url/host ride the min-struct): identity
    //    is the 64-bit hash everywhere in this engine (the fetch log, the
    //    seen index). Step 2 does not reuse this exchange: the probe
    //    shuffles the deduped candidates again, onto the index's buckets.
    val deduped = frontier
      .filter(col("depth") <= cfg.maxDepth)
      .groupBy(col("url_hash"))
      .agg(
        min(struct(col("parent_order"), col("link_pos"), col("depth"),
          col("priority"), col("next_fetch_time"), col("url"), col("host")))
          .as("seq"))
      .select(col("url_hash"), col("seq.url").as("url"), col("seq.host").as("host"),
        col("seq.depth").as("depth"),
        col("seq.parent_order").as("parent_order"),
        col("seq.link_pos").as("link_pos"),
        col("seq.priority").as("priority"),
        col("seq.next_fetch_time").as("next_fetch_time"))

    // 2. seen-membership: exact, on the 64-bit hash. Only the candidate
    //    side moves, filtered against the resident index in a
    //    co-partitioned zip that runs once, when `ranked` is persisted.
    val fresh = SeenIndex.unseen(spark, deduped, seenIdx)

    // 3. per-host politeness budget: rank by (priority, next_fetch_time)
    //    with FIFO tiebreak, over the host key, PRE-salt (north rule). In
    //    BFS mode priority=depth and nft=0, and because every depth-d page
    //    is fetched before any depth-(d+1) page, the priority-first order
    //    equals the pure FIFO order — reference exactness is preserved.
    val wHost = Window.partitionBy(col("host"))
      .orderBy(col("priority"), col("next_fetch_time"),
        col("parent_order"), col("link_pos"))
    // persist the ranked frontier for the round: THREE consumers re-read it
    // (the range-partitioner's sample pass, the FIFO-index shuffle, and the
    // deferred branch of the next frontier) — uncached, the whole
    // dedupe→probe→window pipeline re-executed once per consumer.
    // Dataset.persist defaults to MEMORY_AND_DISK (spills, never OOMs);
    // size is O(one round's frontier) and it is released by
    // RoundResult.cleanup as soon as the round's outputs are materialized.
    val ranked = fresh.withColumn("host_rank", row_number().over(wHost)).persist()
    val budgeted = ranked.filter(col("host_rank") <= cfg.hostBudget)
    val deferredBase = ranked.filter(col("host_rank") > cfg.hostBudget)
    val deferredByBudget = (if (cfg.deferSeconds > 0)
      deferredBase.withColumn("next_fetch_time", lit(roundNo.toLong + cfg.deferSeconds))
    else deferredBase)
      .select(frontierCols: _*).as[FrontierRow]

    // 4. global FIFO order index (distributed two-phase ranking) + cap
    val room = cfg.maxPages - fetchedSoFar
    val (indexed, indexedTotal, sortedCached) =
      withGlobalFifoIndexCounted(spark, budgeted, fetchedSoFar, frontierEst)
    val taken = indexed.filter(col("order_idx") < fetchedSoFar + room)
    val overflow = indexed.filter(col("order_idx") >= fetchedSoFar + room)
      .select(frontierCols: _*).as[FrontierRow]

    // 5. fetch + extract inside mapPartitions over salted host partitions
    val webCfg = cfg.web
    val respectRobots = cfg.respectRobots
    val sameHostOnly = cfg.sameHostOnly
    val maxDepth = cfg.maxDepth
    val rNo = roundNo
    val fetchedNow: Dataset[FetchedRow] = taken
      .repartition(col("host"), pmod(col("url_hash"), lit(cfg.saltBuckets)))
      .select(col("url"), col("url_hash"), col("host"), col("depth"),
        col("parent_order"), col("link_pos"), col("order_idx"))
      .as[(String, Long, String, Int, Long, Int, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val robotsCache = scala.collection.mutable.Map[String, Robots.RobotsRules]()
        it.map { case (url, urlHash, host, depth, _, _, orderIdx) =>
          val rules = robotsCache.getOrElseUpdate(host,
            Robots.parse(SyntheticWeb.parseUrl(url)
              .map(hp => SyntheticWeb.robotsTxt(hp._1)).getOrElse("")))
          val fr = SyntheticWeb.fetch(webCfg, url)
          val status =
            if (respectRobots && !Robots.isAllowed(rules, url, webCfg.userAgent))
              "ROBOTS_DENIED"
            else if (fr.status == 404) "HTTP_404"
            else if (fr.status == 500) "HTTP_500"
            else if (!fr.contentType.contains("text/html")) "UNSUPPORTED_CONTENT_TYPE"
            else if (fr.sizeBytes > 5L * 1024 * 1024) "CONTENT_TOO_LARGE"
            else "OK"
          val (title, text, links) =
            if (status == "OK") {
              val ex = Extract.extract(fr.html, url, 0L, Extract.Options(format = "text"))
              val ls = if (depth < maxDepth)
                SyntheticWeb.pageLinks(fr.html, url, sameHostOnly)
              else Seq.empty
              (ex.title, ex.content, ls)
            } else ("", "", Seq.empty[String])
          FetchedRow(url, urlHash, host, depth, rNo, orderIdx, pid,
            status, title, text, links, fr.etag)
        }
      }

    // a lazy local checkpoint, not a cache: the delta materializes with its
    // first consumer (the next frontier's checkpoint or commit) and enters
    // every later plan as a LogicalRDD leaf, so the fetch log's plan never
    // embeds the rounds before it
    val delta = fetchedNow.localCheckpoint(eager = false)
    // taken row count is already known from the FIFO-index partition counts
    // (min(total, room)) — a count() action here would be one more full
    // Spark job per round
    val takenCount = math.min(indexedTotal, math.max(0L, room))

    // 6. children → next frontier (membership is tested next round)
    val children = delta
      // depth rides the exploded row: no self-join on parent_order
      .select(col("order_idx").as("parent_order"),
        (col("depth") + 1).as("depth"), posexplode(col("links")))
      .select(
        col("col").as("url"),
        col("parent_order"),
        col("pos").as("link_pos"),
        col("depth"))
      // native Catalyst expressions (codegen'd) — same kernel bit-for-bit
      .withColumn("url_hash", graft.functions.UrlExpressions.url_hash64(col("url")))
      .withColumn("host", coalesce(
        graft.functions.UrlExpressions.url_host(col("url")), lit("")))
      .withColumn("priority", col("depth").cast("double")) // BFS: priority=depth
      .withColumn("next_fetch_time", lit(0L))
      .select(frontierCols: _*).as[FrontierRow]

    RoundResult(
      fetched = delta.drop("links"),
      newFrontier = deferredByBudget.union(overflow).union(children),
      taken = takenCount,
      cleanup = () => { ranked.unpersist(false); sortedCached.unpersist(false); () })
  }

  /** Union-plan collapse interval for iterative crawls (see [[crawl]]). */
  private[engine] val planCollapseEvery = 8

  private val frontierCols = Seq(
    col("url"), col("url_hash"), col("host"), col("depth"),
    col("parent_order"), col("link_pos"),
    col("priority"), col("next_fetch_time"))

  /** A frontier row carrying its global FIFO order index. */
  final case class IndexedRow(
      url: String, url_hash: Long, host: String, depth: Int,
      parent_order: Long, link_pos: Int,
      priority: Double, next_fetch_time: Long, order_idx: Long)

  /** Distributed global FIFO index: range-partition by the FIFO key, then
    * local rank + broadcast prefix offsets — no single-partition window.
    * Returns the indexed frame, its total row count (already known from the
    * per-partition counts — callers must not pay another count() job) and
    * the cached sorted frame both passes read, which the caller unpersists
    * once the indexed frame's consumers are materialized.
    *
    * This is the scheduling hot path (every frontier row, every round), so
    * both passes stay TYPED: per-partition counts come from a one-row-per-
    * partition mapPartitions (no groupBy shuffle — the range partitioning
    * already did the only shuffle this operator needs), and the index
    * append is a case-class map (Tungsten codegen encoders) instead of a
    * per-row `Row.fromSeq(row.toSeq :+ v)` — the generic path allocated a
    * Seq copy + object Row per row, the round-1 lesson's 32-thread scaling
    * killer (BASELINE.md). */
  private def withGlobalFifoIndexCounted(spark: SparkSession, df: DataFrame,
      startAt: Long, estRows: Long): (DataFrame, Long, Dataset[FrontierRow]) = {
    import spark.implicits._
    // scale-adaptive partition count (guide §2.2): from the caller's row
    // estimate, size range partitions at ~1M FrontierRows (~150 MB)
    // instead of a constant fan. The big win is small frontiers: at
    // parts == 1 the RangePartitioner computes NO bounds, so the sampling
    // pass — a whole extra Spark job executing the dedupe→probe→window
    // pipeline per round — disappears. order_idx is a prefix sum over the
    // sorted ranges, so the result is identical at any partition count.
    val dp = spark.sparkContext.defaultParallelism
    val parts = math.max(1L, math.min(estRows / (1L << 20) + 1, dp.toLong * 4)).toInt
    val sorted = df.select(frontierCols: _*).as[FrontierRow]
      .repartitionByRange(parts, col("parent_order"), col("link_pos"), col("url_hash"))
      .sortWithinPartitions(col("parent_order"), col("link_pos"), col("url_hash"))
    val sortedCached = sorted.cache()
    val counts = sortedCached
      .mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), n))
      }
      .collect().sortBy(_._1)
    var acc = startAt
    val starts = counts.map { case (pid, n) =>
      val s = pid -> acc; acc += n; s
    }.toMap
    val bStarts = spark.sparkContext.broadcast(starts)
    val out = sortedCached.mapPartitions { it =>
      var idx = Long.MinValue
      it.map { r =>
        if (idx == Long.MinValue)
          idx = bStarts.value.getOrElse(org.apache.spark.TaskContext.getPartitionId(), 0L)
        val v = idx
        idx += 1
        IndexedRow(r.url, r.url_hash, r.host, r.depth, r.parent_order,
          r.link_pos, r.priority, r.next_fetch_time, v)
      }
    }
    (out.toDF(), counts.map(_._2).sum, sortedCached)
  }

  /** Drive a full crawl from seeds; returns (all fetched rows, final seen
    * set as (url_hash, url) — a projection of the fetched rows). When
    * `store` is given, every round commits deltas + lineage, and a crawl
    * on a store that holds rounds resumes from the highest committed one.
    *
    * The returned frames read the checkpointed fetch deltas of the rounds
    * since the last plan collapse (and, storeless, the collapsed leaf).
    * These leaves are not in the cache manager: `clearCache()` neither
    * frees them nor leaves the frames unable to be recomputed, and Spark's
    * ContextCleaner frees them once the frames are unreachable.
    *
    * Until it returns, the call sets `spark.sql.adaptive.enabled` and
    * `spark.sql.shuffle.partitions` on the caller's session (restored on
    * exit, a throw included); a concurrent query on that session sees
    * them. */
  def crawl(spark: SparkSession, seeds: Seq[String], cfg: Config,
      store: Option[SnapshotStore] = None): (DataFrame, DataFrame) = {
    import spark.implicits._
    // a resume reads the frontier estimate its last commit recorded, so it
    // plans its rounds exactly as the uninterrupted crawl does
    var state = store.flatMap(_.loadLatest(spark)).getOrElse(CrawlState(
      seedFrontier(spark, seeds).toDF(), emptyFetched(spark), 0, 0L, seeds.size.toLong))
    // Every round runs with AQE off and shuffle partitions sized from its
    // working set (~64k rows/partition, floor 8), guide §1.2/§2.2: at crawl
    // sizes AQE's per-query-stage jobs, driver re-optimization and
    // full-fan shuffles cost more wall time than they save (measured at
    // sf0.1: q30 3.4s → 2.1s, q94 3.1s → 2.2s). This deliberately drops the
    // earlier large-data mode that kept AQE on above 2M rows: no test or
    // benchmark ever ran it, and its one forced run ran out of heap
    // re-explaining the round plan on every stage update.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevShuf = spark.conf.get("spark.sql.shuffle.partitions")
    // the resident index is opened once, here: with a store by
    // [[SeenIndexStore.open]] (the durable sidecar); storeless, a crawl
    // always starts from the empty seed fetch log, so its index starts
    // empty and costs no job until the first round's add
    val buckets = SeenIndex.bucketsFor(spark, math.max(state.fetchedCount, cfg.maxPages))
    var seenIdx = store.fold(SeenIndex.empty(spark, buckets))(
      SeenIndexStore.open(spark, _, state, buckets))
    var continue = state.fetchedCount < cfg.maxPages
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // try/finally: a throw anywhere in the loop (e.g. CommitConflictException
    // from a losing OCC writer) must still restore the confs and release the
    // resident index, the frontier leaf and the current round's caches
    try while (continue) {
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(8L, math.max(state.frontierEst, state.fetchedCount) / (64L << 10)).toString)
      // no isEmpty pre-check: an empty frontier yields taken == 0 in the
      // round itself — the pre-check was one extra Spark job per round
      val fr = state.frontier.as[FrontierRow]
      val r = round(spark, fr, state.round, state.fetchedCount,
        state.frontierEst, cfg, seenIdx)
      try if (r.taken == 0) {
        releaseLeaf(r.fetched) // never materialized, never unioned
        continue = false
      } else {
        val next = CrawlState(
          frontier = r.newFrontier.toDF(),
          fetched = state.fetched.union(r.fetched),
          round = state.round + 1,
          fetchedCount = state.fetchedCount + r.taken,
          // next frontier ≤ carried-over rows + children; bound the child
          // fan-out generously (each link slot can emit a couple of forms)
          // — the estimate only picks a partition-count order of magnitude
          frontierEst = math.max(0L, state.frontierEst - r.taken) +
            r.taken * math.max(8L, 4L * cfg.web.linksPerPage))
        // The round's outputs are materialized exactly ONCE, and the
        // lineage cut rides on that materialization — without a cut each
        // round's DAG embeds all previous rounds and the driver OOMs on
        // plan strings alone. With a store, the snapshot COMMIT is the
        // materialization: the frontier is written to committed parquet
        // and read back, with its known schema, as the next state's leaf.
        // Without a store, localCheckpoint is the cut and the previous leaf
        // is released. The fetch log, which is also the seen set, is NEVER
        // rewritten per round: the round's delta is a checkpointed leaf,
        // materialized here, and is unioned in — at 10^10 URLs a per-round
        // full rewrite would dominate every round's cost.
        val frontierNext = store match {
          case Some(st) =>
            st.commit(spark, next, r)
            st.readFrontier(spark, next.round)
          case None =>
            val leaf = next.frontier.localCheckpoint(true)
            releaseLeaf(state.frontier)
            leaf
        }
        var newState = next.copy(frontier = frontierNext)
        // O(delta) index maintenance (invalidates the previous index),
        // fed from the round's fetch delta. The round's lazy probe reads
        // the previous index: `ranked`, the fetch delta and the next
        // frontier are all materialized above. With a store,
        // [[SeenIndexStore.advance]] runs only after the snapshot commit
        // above succeeded, so the sidecar never claims a round the table
        // doesn't have.
        val delta = r.fetched.select("url_hash")
        seenIdx = store.fold(SeenIndex.add(seenIdx, delta))(
          SeenIndexStore.advance(_, seenIdx, delta, newState.round))
        // the delta leaves keep each round's PLAN flat, but the union
        // TREE itself still deepens one node per round — a 10^4-round crawl
        // would accrete a 10^4-way union plan on the driver. Collapse it
        // every K rounds: with a store, reload the state from the committed
        // snapshot (a flat multi-path parquet scan); without one, cut the
        // union into a single materialized leaf. O(seen) cost amortized
        // over K rounds; plan size now O(K), independent of crawl length.
        // Once the collapse has materialized, nothing reads the fetch log
        // it replaces: releasing that log's leaves frees the previous
        // collapsed leaf and every delta since, so at most K deltas and
        // one leaf stay.
        if (newState.round % planCollapseEvery == 0) {
          val collapsed = store.flatMap(_.loadLatest(spark)).getOrElse(
            newState.copy(fetched = newState.fetched.localCheckpoint(true)))
          releaseLeaf(newState.fetched)
          newState = collapsed
        }
        state = newState
        if (state.fetchedCount >= cfg.maxPages) continue = false
        if (state.round >= cfg.maxRounds) continue = false
      }
      // release the round's transient ranked-frontier cache on EVERY exit:
      // taken==0 termination and exception paths included (the outputs are
      // either materialized by now or abandoned — unpersist is safe both ways)
      finally r.cleanup()
    }
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuf)
      seenIdx.release()
      releaseLeaf(state.frontier)
    }
    (state.fetched, state.fetched.select("url_hash", "url"))
  }

  def emptyFetched(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), SnapshotStore.FetchLogSchema)

  /** Unpersist every checkpointed leaf of a frame: a storeless frontier,
    * or a fetch log's round deltas and collapsed leaf. The seed frontier,
    * the empty seed fetch log and committed parquet reads have none. A
    * released leaf cannot be recomputed, so call this only once nothing
    * reads the frame. */
  private def releaseLeaf(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case leaf: LogicalRDD => leaf.rdd.unpersist(false)
      case _ =>
    }

  /** The crawl's state at a round boundary. `fetched` is the fetch log,
    * the one record of the seen set; `frontierEst` is the order-of-magnitude
    * estimate of the frontier's row count that sizes the next round's
    * partitions (see [[round]]). */
  final case class CrawlState(
      frontier: DataFrame, fetched: DataFrame, round: Int, fetchedCount: Long,
      frontierEst: Long)
}
