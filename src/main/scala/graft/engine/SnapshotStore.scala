package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style snapshot/manifest layer over Parquet (SURVEY.md §4:
  * no Iceberg jars ship offline, so the table format is ours). Each crawl
  * round commits:
  *
  *   <root>/r<N>/frontier/            parquet (full: the frontier mutates)
  *   <root>/r<N>/fetch_log/           parquet (delta, this round only)
  *   <root>/r<N>/manifest.json        {round, fetchedCount, frontier
  *                                     estimate, parent, per-partition
  *                                     lineage, metrics}
  *
  * There is no pointer file: a round is committed exactly when its `r<N>`
  * directory exists, and the highest one is the latest round.
  *
  * The fetch log is also the SEEN SET: a URL is seen iff its url_hash is in
  * some fetch_log delta, so readers project `(url_hash, url)` from it and
  * no second copy of those columns is stored.
  *
  * The PAGES table is a logical view — fetch_log filtered to status=OK
  * ([[pagesAsOf]]/[[pagesDelta]]), Iceberg-metadata-view style. r1-r8
  * stored it as a second physical delta, which wrote every extracted
  * text/title byte twice per round; at 10^10 URLs the page payload
  * dominates commit I/O, so the duplicate copy was the single biggest
  * avoidable commit cost (r8 interleaved A/B: 48% overhead vs commit-free).
  *
  * Resume loads the highest committed round, giving "the crawl resumes
  * from any checkpoint" with per-partition lineage and fetch/dedupe
  * metrics (north rule).
  */
final class SnapshotStore(rootDir: String) {

  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private def dir(round: Int): Path = root.resolve(s"r$round")

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Commit one round with OPTIMISTIC CONCURRENCY (Iceberg-style: stage,
    * then one atomic swap decides the winner). All data + the manifest are
    * written to a writer-unique staging directory; the commit point is the
    * single atomic rename of that staging dir onto `r<N>` — the filesystem
    * guarantees at most one rename onto an existing non-empty directory
    * succeeds, so when two writers race the same parent snapshot exactly
    * one wins and the loser gets [[SnapshotStore.CommitConflictException]]
    * with its staging cleaned up; it retries cleanly by reloading the
    * winner's snapshot ([[loadLatest]]) and recomputing its round on top.
    * The rename is the ONLY commit step, so readers never see a
    * half-written round and no crash can leave a committed round that
    * [[currentRound]] does not name. */
  def commit(spark: SparkSession, state: FrontierEngine.CrawlState,
      r: FrontierEngine.RoundResult): Unit = {
    val staging = root.resolve(
      s"r${state.round}.staging.${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(staging)
    state.frontier.write.mode("overwrite").parquet(staging.resolve("frontier").toString)
    // fetch_log is append-only: commit the O(delta) round delta, never the
    // full log — readers union the deltas (one multi-path scan).
    // The delta write coalesces to ~256k rows/file: r.taken is the exact
    // row count, and letting a small delta fan out across the session's
    // full parallelism pays a per-file fixed cost (open + footer + commit)
    // dozens of times per round for KB-sized files.
    val files = math.max(1, math.min(32, (r.taken / 262144L).toInt + 1))
    r.fetched.coalesce(files).write.mode("overwrite")
      .parquet(staging.resolve("fetch_log").toString)

    // per-partition lineage + fetch/dedupe metrics: ONE aggregation job
    // over the fetch delta serves both manifest sections (these two
    // rollups used to be separate Spark jobs per committed round)
    import org.apache.spark.sql.functions._
    val cells = r.fetched.groupBy(col("partition_id"), col("status"))
      .agg(count(lit(1)).as("rows")).collect()
      .map(row => (row.getInt(0), row.getString(1), row.getLong(2)))
    val byPartition = cells.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (pid, cs) =>
        val rows = cs.map(_._3).sum
        val ok = cs.collect { case (_, "OK", n) => n }.sum
        s"""{"partition_id":$pid,"rows":$rows,"ok":$ok}"""
      }
      .mkString("[", ",", "]")
    val statusCounts = cells.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (st, cs) => s""""$st":${cs.map(_._3).sum}""" }
      .mkString("{", ",", "}")
    val manifest =
      s"""{"round":${state.round},"fetched_count":${state.fetchedCount},
         |"frontier_est":${state.frontierEst},
         |"taken_this_round":${r.taken},
         |"parent":${if (state.round > 1) "\"r" + (state.round - 1) + "\"" else "null"},
         |"partitions":$byPartition,
         |"status_counts":$statusCounts}""".stripMargin.replace("\n", "")
    Files.writeString(staging.resolve("manifest.json"), manifest)

    // the commit point: atomically swing the staging dir onto r<N>. A
    // concurrent winner makes this rename fail (non-empty destination) —
    // optimistic concurrency resolved by the filesystem, not a lock.
    val d = dir(state.round)
    try Files.move(staging, d, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException if Files.exists(d) =>
        // destination present ⇒ a concurrent writer won the round
        rmTree(staging)
        throw new SnapshotStore.CommitConflictException(state.round, e)
      case e: Throwable =>
        rmTree(staging) // unrelated IO failure: clean staging, surface as-is
        throw e
    }
  }

  /** Directory of the durable [[SeenIndex]] sidecar ([[SeenIndexStore]]). */
  def indexDir: String = root.resolve("seen_index").toString

  /** The committed frontier of one round — the crawl loop reads it back as
    * the next state's leaf (the commit doubles as the round's lineage cut,
    * replacing a second localCheckpoint materialization of the same rows).
    * The schema is known, so the read runs no schema-inference job. */
  def readFrontier(spark: SparkSession, round: Int): DataFrame =
    spark.read.schema(SnapshotStore.FrontierSchema)
      .parquet(dir(round).resolve("frontier").toString)

  /** The committed fetch_log delta of one round, if present (absent after
    * expiry compaction — the compacted keepRound dir then holds the union). */
  def fetchLogPath(round: Int): Option[String] = {
    val p = dir(round).resolve("fetch_log")
    if (Files.exists(p)) Some(p.toString) else None
  }

  /** Fetch log deltas as ONE multi-path scan. The schema is known, so the
    * read runs no schema-inference job. */
  def readFetchLog(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(SnapshotStore.FetchLogSchema).parquet(paths: _*)

  /** The latest committed round: the highest `r<N>` directory. Staging
    * dirs, the index sidecar and plain files (such as an older store's
    * pointer file) are not rounds. */
  def currentRound: Option[Int] = {
    val ls = Files.list(root)
    try ls.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .collect { case SnapshotStore.RoundDir(n) => n.toInt }.maxOption
    finally ls.close()
  }

  def manifest(round: Int): Option[String] = {
    val p = dir(round).resolve("manifest.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Cache-clear as a copy (the reference's clear_cache / per-URL delete,
    * src/cache.ts:127-141 + server.ts:1561-1588): writes the pages table
    * minus a predicate to `pages_compacted/` inside the already-committed
    * latest round `r<N>` — never an in-place delete — and returns that
    * round, or None on an empty store. It commits no new round, and no
    * reader ([[pagesAsOf]], [[pagesDelta]], [[loadLatest]]) reads the
    * copy. */
  def deleteWhere(spark: SparkSession, predicate: String): Option[Int] =
    currentRound.map { rN =>
      import org.apache.spark.sql.functions.not
      import org.apache.spark.sql.functions.expr
      val remaining = pagesAsOf(spark, rN).filter(not(expr(predicate)))
      val d = dir(rN).resolve(s"pages_compacted")
      remaining.write.mode("overwrite").parquet(d.toString)
      rN
    }

  /** Time travel: read the pages table AS OF a committed round — all
    * fetch_log deltas up to `round` as ONE multi-path scan filtered to
    * status=OK (Iceberg snapshot-read over a metadata view). A per-round
    * union would grow the plan O(rounds); a single relation keeps the plan
    * O(1), lets the scheduler pack splits, and the status predicate
    * reaches the parquet scan as a pushed filter. */
  def pagesAsOf(spark: SparkSession, round: Int): DataFrame =
    readFetchLog(spark, (1 to round).flatMap(fetchLogPath))
      .filter(org.apache.spark.sql.functions.col("status") === "OK")

  /** One round's pages delta (the status=OK slice of that round's
    * fetch_log delta). */
  def pagesDelta(spark: SparkSession, round: Int): DataFrame =
    readFetchLog(spark, Seq(dir(round).resolve("fetch_log").toString))
      .filter(org.apache.spark.sql.functions.col("status") === "OK")

  /** Snapshot expiry — the reference's periodic TTL sweep
    * (src/cache.ts:205-210) at table scale, Iceberg expire_snapshots
    * style: compacts all fetch_log deltas of rounds ≤ `keepRound` into
    * r<keepRound> and deletes the older round directories (the pages view
    * and the seen set ride on fetch_log, so one compaction covers all
    * three). Reads after
    * expiry (pagesAsOf ≥ keepRound, loadLatest) see identical data; time
    * travel to expired rounds is intentionally gone, exactly like Iceberg
    * after snapshot expiration. */
  def expireSnapshotsBefore(spark: SparkSession, keepRound: Int): Unit = {
    require(currentRound.exists(_ >= keepRound), s"round $keepRound not committed")
    val d = dir(keepRound)
    // compact into a temp dir first: the inputs are read lazily, so the
    // target dir cannot be overwritten in place
    val tmp = d.resolve("fetch_log_compact_tmp")
    readFetchLog(spark, (1 to keepRound).flatMap(fetchLogPath))
      .write.mode("overwrite").parquet(tmp.toString)
    rmTree(d.resolve("fetch_log")); Files.move(tmp, d.resolve("fetch_log"))
    (1 until keepRound).foreach(i => rmTree(dir(i)))
  }

  /** Load the latest committed state (all fetch_log deltas, one scan;
    * expired rounds' dirs are simply absent). The row count and frontier
    * estimate come from the manifest, so the load runs no job; a manifest
    * without one of them (an older store's) falls back to a count. */
  def loadLatest(spark: SparkSession): Option[FrontierEngine.CrawlState] =
    currentRound.map { rN =>
      val fetched = readFetchLog(spark, (1 to rN).flatMap(fetchLogPath))
      val frontier = readFrontier(spark, rN)
      val m = manifest(rN).getOrElse("")
      def field(name: String) =
        ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(m).map(_.group(1).toLong)
      FrontierEngine.CrawlState(frontier, fetched, rN,
        field("fetched_count").getOrElse(fetched.count()),
        field("frontier_est").getOrElse(frontier.count()))
    }
}

object SnapshotStore {
  private val RoundDir = "r(\\d+)".r
  private val FrontierSchema = Encoders.product[FrontierEngine.FrontierRow].schema

  /** The fetch log's columns: a [[FrontierEngine.FetchedRow]] without `links`. */
  private[engine] val FetchLogSchema = org.apache.spark.sql.types.StructType(
    Encoders.product[FrontierEngine.FetchedRow].schema.filterNot(_.name == "links"))

  /** Thrown when another writer committed the same round first (the
    * atomic staging-dir rename found `r<N>` already present). The loser's
    * staging is already cleaned up; retry by reloading the latest
    * snapshot and recomputing the round on top of the winner's state. */
  final class CommitConflictException(val round: Int, cause: Throwable)
    extends RuntimeException(
      s"round r$round was committed concurrently by another writer", cause)
}
