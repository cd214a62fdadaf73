package graft.engine

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bucket-co-partitioned EXACT seen-set index — the crawl's one
  * seen-membership test.
  *
  * Joining the candidates against the fetch log's hashes would shuffle the
  * ENTIRE seen set every round: at a 10^10-URL seen set that is an
  * O(seen) network pass per scheduling round, the dominant recurring cost
  * of a long crawl. This index keeps the seen set RESIDENT and
  * partitioned: partition `b` of [[runs]] holds exactly the hashes with
  * `floorMod(h, buckets) == b`, stored as an LSM-style list of sorted
  * Long runs. Per round only the DELTA (this round's newly fetched
  * hashes) is shuffled — appended as one new sorted run per bucket — and
  * the membership probe ([[SeenIndex.unseen]]) zips the candidate side
  * against the resident runs in bucket-co-partitioned tasks and keeps the
  * candidates found in no run (binary search per run). When a bucket
  * accumulates more than [[MaxRuns]] runs they are k-way merged into one,
  * so probes stay O(MaxRuns · log(seen/buckets)) and the merge cost is
  * amortized O(1) per inserted hash.
  *
  * Storage: the runs RDD is persisted deserialized (MEMORY_AND_DISK) and
  * localCheckpointed per add — unchanged runs are SHARED BY REFERENCE
  * between rounds (immutable arrays), so the per-round heap/IO cost is
  * O(delta + compacted buckets), not O(seen). Same durability trade as
  * the engine's other localCheckpoints: executor loss ⇒ rebuild from the
  * committed fetch log ([[SeenIndex.fromSeen]]), which the resume path
  * does anyway.
  *
  * Sizing: [[bucketsFor]] keeps a bucket's resident longs ≤ ~32 MiB — at
  * 10^10 URLs that is ~2500 buckets of ~4M hashes; per-task memory during
  * a probe is ONE bucket, independent of total seen size.
  *
  * Semantics: exact set membership of the fetch log's hashes (identity =
  * the 64-bit xxh64 url hash, the engine-wide convention) — CrawlSpec pins
  * byte-identical crawl order/seen-set vs the scalar BFS oracle.
  */
final class SeenIndex private (
    val buckets: Int,
    private[engine] val runs: RDD[(Int, Array[Array[Long]])],
    val count: Long) {

  /** Release the resident blocks (call when the crawl is done with the
    * index; the committed fetch log remains the durable record). */
  def release(): Unit = { runs.unpersist(false); () }

  /** (total runs across buckets, total resident hashes) — test/diagnostic. */
  def runStats(): (Long, Long) = {
    val (r, n) = runs
      .map { case (_, rs) => (rs.length.toLong, rs.map(_.length.toLong).sum) }
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (r, n)
  }
}

object SeenIndex {

  /** Compact a bucket once it holds more than this many sorted runs. */
  val MaxRuns = 8

  /** Debug lineage of the most recent probe RDD, so CrawlSpec can assert
    * the seen side is resident (no seen shuffle). */
  @volatile private[engine] var lastProbeLineage: String = ""

  /** ≤ ~4M resident hashes (32 MiB) per bucket; up to defaultParallelism
    * buckets so big-crawl probes use the full cluster — but no more than
    * one bucket per 64k expected hashes, so a tiny crawl's per-round
    * add/probe jobs don't fan out over a cluster-wide bucket count that
    * holds a handful of hashes each (guide §2.2: partition counts follow
    * data size, not a constant). Unchanged for ≥ ~2M expected hashes. */
  def bucketsFor(spark: SparkSession, expectedCount: Long): Int = {
    val perBucket = 4L << 20
    val n = math.max(1L, expectedCount)
    val needed = (n + perBucket - 1) / perBucket
    val smallCap = (n + (64L << 10) - 1) / (64L << 10)
    val minB = math.min(spark.sparkContext.defaultParallelism.toLong, smallCap)
    math.max(math.max(1L, minB), needed).toInt
  }

  /** An index with no hashes. Lazy: the first [[add]] materializes it in
    * the same job as its own runs. */
  def empty(spark: SparkSession, buckets: Int): SeenIndex =
    new SeenIndex(buckets, spark.sparkContext
      .parallelize((0 until buckets).map(b => (b, Array.empty[Array[Long]])), buckets)
      .partitionBy(new HashPartitioner(buckets)), 0L)

  /** Rebuild from the seen hashes (the fetch log's `url_hash` column;
    * the store-backed resume path). With `sink` set the rebuilt buckets are also
    * persisted as durable base runs, so the NEXT resume is a
    * [[SeenIndexStore.load]] instead. */
  def fromSeen(spark: SparkSession, seen: DataFrame, buckets: Int,
      sink: Option[SeenIndexStore.Sink] = None): SeenIndex =
    add(empty(spark, buckets), seen, sink)

  /** Adopt a runs RDD whose partition i holds exactly bucket i's entry:
    * persist, truncate the lineage and materialize in ONE job, whose fold
    * yields the exact resident count. */
  private[engine] def fromRuns(buckets: Int,
      runs: RDD[(Int, Array[Array[Long]])]): SeenIndex = {
    runs.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    val resident = runs.map { case (_, rs) => rs.map(_.length.toLong).sum }.fold(0L)(_ + _)
    new SeenIndex(buckets, runs, resident)
  }

  /** Merge a round's delta (`url_hash` column) into the index: shuffles
    * ONLY the delta; every untouched run is shared by reference with the
    * previous index. Returns the new index and INVALIDATES the input one
    * (its blocks are released; its lineage is truncated, so it cannot be
    * recomputed) — callers must switch to the returned index.
    *
    * With `sink` set, each touched bucket's run EVENT is also written
    * durably during materialization (task-side, idempotent): the appended
    * delta run, or — when the bucket ends up with a single run (first
    * fill, bulk build, or a compaction) — its full content as a base. */
  def add(idx: SeenIndex, delta: DataFrame,
      sink: Option[SeenIndexStore.Sink] = None): SeenIndex = {
    val b = idx.buckets
    val part = new HashPartitioner(b)
    val hashIdx = delta.schema.fieldIndex("url_hash")
    val deltaKv = delta.rdd
      .map(r => (java.lang.Math.floorMod(r.getLong(hashIdx), b.toLong).toInt,
        r.getLong(hashIdx)))
      .partitionBy(part)
    val newRuns = idx.runs.zipPartitions(deltaKv, preservesPartitioning = true) {
      (rit, dit) =>
        // invariant: every runs partition holds exactly its one bucket entry.
        // A structurally missing bucket must fail LOUDLY — silently dropping
        // the zipped delta here would permanently lose seen-membership for
        // those hashes and corrupt dedupe downstream.
        if (!rit.hasNext) sys.error(
          s"SeenIndex bucket entry missing in partition ${org.apache.spark.TaskContext.getPartitionId()}")
        else {
          val (bucket, oldRuns) = rit.next()
          val fresh = dit.map(_._2).toArray
          if (fresh.isEmpty) Iterator.single((bucket, oldRuns))
          else {
            java.util.Arrays.sort(fresh)
            // idempotent add: drop values already resident (the crawl only
            // ever feeds never-seen deltas, but the structure must not
            // double-count if fed otherwise) — O(delta · runs · log)
            val run = dedupSorted(fresh)
              .filterNot(h => containsHash(oldRuns, h))
            if (run.isEmpty) Iterator.single((bucket, oldRuns))
            else {
              val appended = oldRuns :+ run
              val out = if (appended.length > MaxRuns) Array(mergeRuns(appended))
                else appended
              sink.foreach { sk =>
                if (out.length == 1) // full bucket content: durable base
                  SeenIndexStore.writeRun(sk.dir, bucket, sk.round, base = true, out(0))
                else
                  SeenIndexStore.writeRun(sk.dir, bucket, sk.round, base = false, run)
              }
              Iterator.single((bucket, out))
            }
          }
        }
    }
    val next = fromRuns(b, newRuns)
    idx.runs.unpersist(false)
    next
  }

  /** The candidates whose `url_hash` is NOT in the index (the result of
    * `candidates LEFT ANTI JOIN seen`). Only the candidate side shuffles, onto
    * the bucket partitioner; the seen side is RESIDENT, and rows pass the
    * co-partitioned zip's filter unchanged. Lazy: it reads `idx.runs`, so
    * materialize every consumer before [[add]] invalidates `idx`. */
  def unseen(spark: SparkSession, candidates: DataFrame, idx: SeenIndex): DataFrame = {
    val b = idx.buckets
    val hashIdx = candidates.schema.fieldIndex("url_hash")
    val candKv = candidates.rdd
      .map(r => (java.lang.Math.floorMod(r.getLong(hashIdx), b.toLong).toInt, r))
      .partitionBy(new HashPartitioner(b))
    val fresh = candKv.zipPartitions(idx.runs, preservesPartitioning = true) {
      (cit, rit) =>
        val runs = if (rit.hasNext) rit.next()._2 else Array.empty[Array[Long]]
        cit.collect { case (_, row) if !containsHash(runs, row.getLong(hashIdx)) => row }
    }
    lastProbeLineage = fresh.toDebugString
    spark.createDataFrame(fresh, candidates.schema)
  }

  private[engine] def containsHash(runs: Array[Array[Long]], h: Long): Boolean = {
    var i = 0
    while (i < runs.length) {
      if (java.util.Arrays.binarySearch(runs(i), h) >= 0) return true
      i += 1
    }
    false
  }

  private[engine] def dedupSorted(a: Array[Long]): Array[Long] = {
    if (a.length < 2) return a
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** K-way merge of sorted (individually deduped) runs into one,
    * dropping cross-run duplicates. */
  private[engine] def mergeRuns(runs: Array[Array[Long]]): Array[Long] = {
    val total = runs.map(_.length).sum
    val out = new Array[Long](total)
    val pos = new Array[Int](runs.length)
    var w = 0
    var done = false
    while (!done) {
      var best = -1
      var bestV = 0L
      var i = 0
      while (i < runs.length) {
        if (pos(i) < runs(i).length) {
          val v = runs(i)(pos(i))
          if (best < 0 || v < bestV) { best = i; bestV = v }
        }
        i += 1
      }
      if (best < 0) done = true
      else {
        pos(best) += 1
        if (w == 0 || out(w - 1) != bestV) { out(w) = bestV; w += 1 }
      }
    }
    if (w == total) out else java.util.Arrays.copyOf(out, w)
  }
}
