package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
import graft.engine.{CrawlOracle, FrontierEngine, SeenIndexStore, SnapshotStore}
import graft.queries.DedupQueries
import scala.jdk.CollectionConverters._

/** One closed-loop iteration: a single caller, each call waiting for the
  * previous one. `items` is the unit of work (pages or docs); `gcS` is the
  * GC time inside the timed region; `layer` carries per-iteration figures
  * the traced run reports. */
final case class Iter(wallS: Double, items: Long, gcS: Double = 0.0,
    layer: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Untimed iterations before the measured ones (see each workload). */
  def primingPasses: Int
  /** Small instance of the same calls, run as part of every set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Generate the seed's inputs and expected outputs (untimed). */
  def prepare(spark: SparkSession, seed: Long): Unit
  def iterate(spark: SparkSession, tracer: Tracer, tally: Tally): Iter
  /** Traced run only, after the closed loop: per-layer figures measured
    * beside it (kernel replay, pack sample). */
  def probe(spark: SparkSession, tracer: Tracer, tally: Tally, seed: Long): Map[String, Double]
}

object Workloads {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Collection time of all collectors so far, explicit collections too. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Order-insensitive (count, hash) of a frame: the sum of per-row xxhash64
    * over all columns (floating columns rounded to 6 places, maps as JSON). */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Drop the cached blocks an iteration left behind (the engine caches each
    * round's fetched delta for the caller) so iterations start alike. Called
    * outside the timed regions, so the forced collection is not in `gcS`. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }
}

import Workloads._
import Inputs._

/** A store-backed synthetic-web crawl with the exact seen index: it stops
  * after the first round (maxRounds = 1), then a second call resumes it from
  * the SnapshotStore to completion. */
final class CrawlWorkload(val name: String, shape: CrawlShape, work: Path) extends Workload {
  private var seeds: Seq[String] = Nil
  private var expected: (Long, String, Int) = (0L, "", 0)
  private var lastUrls: Seq[String] = Nil
  private var iterNo = 0

  /** The first two passes pay most of the JIT warm-up; best-of-N absorbs
    * the rest. */
  val primingPasses = 2

  private def config(s: CrawlShape) = FrontierEngine.Config(
    maxDepth = s.maxDepth, maxPages = s.maxPages, hostBudget = s.hostBudget,
    sameHostOnly = false, respectRobots = true, saltBuckets = 8, web = s.web,
    exactSeenIndex = true)

  /** The killed-then-resumed calls on a 40-page crawl from four seeds. */
  def warmUp(spark: SparkSession): Unit = {
    val small = shape.copy(nHosts = 8, pagesPerHost = 64, seedHosts = 4,
      hostBudget = 8, maxPages = 40)
    run(spark, Tracer.off, small, crawlSeeds(small, 0L), work.resolve("warmup"))
    deleteTree(work.resolve("warmup"))
    release(spark)
  }

  /** Single-threaded replay of the per-page kernels on 100 of the fetched
    * URLs (once to compile them, once measured). */
  def probe(spark: SparkSession, tracer: Tracer, tally: Tally, seed: Long): Map[String, Double] = {
    val urls = Kernels.sample(lastUrls, 100, seed)
    Kernels.replay(shape.web, urls)
    Kernels.replay(shape.web, urls).metrics
  }

  def prepare(spark: SparkSession, seed: Long): Unit = {
    import spark.implicits._
    seeds = crawlSeeds(shape, seed)
    val o = CrawlOracle.run(seeds, shape.oracleConfig)
    val df = o.rows.map(e => (e.orderIdx, e.url, e.depth, e.round, e.status, e.title, e.text))
      .toDF("order_idx", "url", "depth", "round", "status", "title", "text")
    val (n, h) = rowsAndHash(df)
    expected = (n, h, o.rounds)
  }

  private def checked(fetched: DataFrame): (Long, String) =
    rowsAndHash(fetched.select("order_idx", "url", "depth", "round", "status", "title", "text"))

  /** The killed leg, then the resumed one. Returns (fetched frame, wall
    * seconds of the two crawl calls, resume-load seconds). The resume load
    * is timed on its own, outside the wall, in traced runs only. */
  private def run(spark: SparkSession, tracer: Tracer, s: CrawlShape, seeds: Seq[String],
      storeDir: Path): (DataFrame, Double, Double) = {
    val cfg = config(s)
    deleteTree(storeDir)
    val store = new SnapshotStore(storeDir.toString)
    val t0 = System.nanoTime()
    tracer.span("engine.crawl.killed") {
      FrontierEngine.crawl(spark, seeds, cfg.copy(maxRounds = 1), Some(store))._1.count()
    }
    val leg1 = seconds(t0)
    val loadS = if (!tracer.enabled) 0.0 else {
      val t1 = System.nanoTime()
      tracer.span("engine.resume_load") {
        val st = store.loadLatest(spark).get
        st.frontier.schema
        SeenIndexStore.load(spark, store.indexDir, st.round).foreach(_._1.release())
      }
      seconds(t1)
    }
    val t2 = System.nanoTime()
    val f = tracer.span("engine.crawl.resumed") {
      val (f, _) = FrontierEngine.crawl(spark, seeds, cfg, Some(store))
      f.count()
      f
    }
    (f, leg1 + seconds(t2), loadS)
  }

  def iterate(spark: SparkSession, tracer: Tracer, tally: Tally): Iter = {
    iterNo += 1
    val storeDir = work.resolve(s"store-$iterNo")
    val gc0 = gcMs()
    val (fetched, wall, loadS) = try run(spark, tracer, shape, seeds, storeDir)
    catch { case e: Throwable => tally.fail(s"$name: ${e}"); release(spark); return Iter(0, 0) }
    val gcS = (gcMs() - gc0) / 1e3
    val (n, h) = checked(fetched)
    val rounds = fetched.agg(max(col("round"))).head().getInt(0) + 1
    tally.check((n, h, rounds) == expected,
      s"$name: got pages/hash/rounds ($n, $h, $rounds), expected $expected")
    if (tracer.enabled) lastUrls = fetched.select("url").collect().map(_.getString(0)).toSeq
    val storeBytes = treeBytes(storeDir)
    deleteTree(storeDir)
    release(spark)
    Iter(wall, n, gcS, Map("rounds" -> rounds.toDouble, "resume_load_s" -> loadS,
      "store_bytes" -> storeBytes.toDouble))
  }
}

/** MinHash-LSH candidates → exact-Jaccard confirm → connected components
  * over a near-duplicate corpus with a template mega-cluster and a looser
  * template cluster whose candidates the confirm rejects. */
final class DedupWorkload(val name: String, val shape: DedupShape, pack: PackSample)
    extends Workload {
  private var docs: DataFrame = _
  private var truth: DedupTruth = _

  /** Iteration time keeps falling for about four passes. */
  val primingPasses = 4
  def maxBucketDocs: Int = truth.maxBucketDocs

  private def corpus(spark: SparkSession, seed: Long, s: DedupShape): DataFrame = {
    val gen = udf((id: Long) => dedupTokens(seed, s, id).toSeq)
    val d = spark.range(s.docs).select(col("id").as("doc_id"), gen(col("id")).as("toks")).cache()
    d.count()
    d
  }

  private def run(spark: SparkSession, tracer: Tracer, tally: Tally): Map[String, Double] = {
    val d = docs
    def timed[A](span: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = tracer.span(span)(f)
      (a, seconds(t0))
    }
    val ((cand, nCand), lshS) = timed("dedup.lsh") {
      val c = DedupQueries.minhashCandidates(d).cache(); (c, c.count())
    }
    val ((pairs, nConf), confirmS) = timed("dedup.confirm") {
      val p = DedupQueries.confirmJaccard(d, cand).cache(); (p, p.count())
    }
    cand.unpersist()
    val (nClusters, ccS) = timed("dedup.cc") {
      DedupQueries.ccLabels(spark, pairs).select("label").distinct().count()
    }
    pairs.unpersist()
    val t = truth
    tally.check(nCand == t.candidates, s"$name: candidate pairs $nCand, expected ${t.candidates}")
    tally.check(nConf == t.confirmed, s"$name: confirmed pairs $nConf, expected ${t.confirmed}")
    tally.check(nClusters == t.clusters, s"$name: clusters $nClusters, expected ${t.clusters}")
    Map("lsh_s" -> lshS, "confirm_s" -> confirmS, "cc_s" -> ccS,
      "candidate_pairs" -> nCand.toDouble, "confirmed_pairs" -> nConf.toDouble,
      "clusters" -> nClusters.toDouble)
  }

  /** The candidate and confirm calls on 100 docs (`ccLabels` runs one Spark
    * job per round and would double the set-up; priming reaches it). */
  def warmUp(spark: SparkSession): Unit = {
    val d = corpus(spark, 0L, DedupShape(100, 10, 10))
    DedupQueries.confirmJaccard(d, DedupQueries.minhashCandidates(d)).count()
    d.unpersist()
    release(spark)
  }

  def probe(spark: SparkSession, tracer: Tracer, tally: Tally, seed: Long): Map[String, Double] =
    pack.probe(spark, tracer, tally, seed)

  def prepare(spark: SparkSession, seed: Long): Unit = {
    truth = dedupTruth(seed, shape)
    docs = corpus(spark, seed, shape)
  }

  def iterate(spark: SparkSession, tracer: Tracer, tally: Tally): Iter = {
    val t0 = System.nanoTime()
    val gc0 = gcMs()
    val layer = try run(spark, tracer, tally)
    catch { case e: Throwable => tally.fail(s"$name: $e"); release(spark); return Iter(0, 0) }
    val wall = seconds(t0)
    val gcS = (gcMs() - gc0) / 1e3
    System.gc()
    Iter(wall, shape.docs, gcS, layer)
  }
}

/** Ten of the `SparkEntry.queries` (one per query module) over a fixed
  * dataset, in a seeded order; each result's row count and hash must match
  * the reference dump. Run beside `dedup_skewed` in traced runs only. */
final class PackSample(dataDir: String, reference: Map[String, (Long, String)]) {
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries.filter(q => PackSample.Selected.contains(q._1))

  /** One pass: (query, wall seconds) in order. */
  def pass(spark: SparkSession, tracer: Tracer, tally: Tally, order: Seq[String]): Seq[(String, Double)] = {
    val walls = order.map { q =>
      val t0 = System.nanoTime()
      try {
        val got = tracer.span(s"pack.${PackSample.moduleOf(q)}.$q") {
          rowsAndHash(queries(q)(spark, dataDir))
        }
        tally.check(reference.get(q).contains(got),
          s"$q: got (rows, hash) $got, reference ${reference.get(q)}")
      } catch {
        case e: Throwable =>
          tally.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      q -> seconds(t0)
    }
    release(spark)
    println(walls.map { case (q, s) => f"$q=$s%.2f" }.mkString("[perfbench] pack ", " ", ""))
    walls
  }

  /** Three untimed passes (pass time falls for three passes), one untraced
    * pass for the totals, one traced pass for the per-module figures. */
  def probe(spark: SparkSession, tracer: Tracer, tally: Tally, seed: Long): Map[String, Double] = {
    val order = packOrder(queries.keys.toSeq, seed)
    (1 to 3).foreach(_ => pass(spark, Tracer.off, new Tally, order))
    val plain = pass(spark, Tracer.off, tally, order).map(_._2)
    val traced = pass(spark, tracer, tally, order)
    tracer.recorder.foreach(_.drain())
    val isQuery: Span => Boolean = _.name.startsWith("pack.")
    val st = tracer.stats(tracer.groupsUnder(isQuery))
    val wallMs = tracer.allSpans.filter(isQuery).map(s => (s.endMs - s.startMs).toDouble).sum
    PackSample.moduleNames.map { m =>
      s"pack.${m}_s" -> traced.filter(c => PackSample.moduleOf(c._1) == m).map(_._2).sum
    }.toMap ++ Map(
      "pack_total_s" -> plain.sum,
      // ten queries support no percentile above the median with ten
      // samples beyond it, so the tail is the slowest query
      "query_p50_s" -> Stats.median(plain),
      "query_max_s" -> plain.max,
      "pack.jobs" -> st.jobs.toDouble,
      "pack.stages" -> st.stages.toDouble,
      "pack.shuffle_bytes" -> st.shuffleWrite.toDouble,
      "pack.exec_busy_share" -> st.busyMs / (wallMs * Main.Cores),
      "pack.driver_idle_s" -> (wallMs - st.coveredMs) / 1e3)
  }
}

object PackSample {
  import graft.queries._
  private val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "relational" -> Relational.specs, "text" -> TextQueries.specs,
    "dedup" -> DedupQueries.specs, "similarity" -> SimilarityQueries.specs,
    "crawl" -> CrawlQueries.specs, "tools" -> ToolQueries.specs,
    "fetch" -> FetchQueries.specs, "stream" -> StreamQueries.specs,
    "report" -> ReportQueries.specs, "compliance" -> ComplianceQueries.specs)
  val moduleNames: Seq[String] = modules.map(_._1)
  private val byQuery: Map[String, String] =
    modules.flatMap { case (m, specs) => specs.map(_.name -> m) }.toMap
  def moduleOf(q: String): String = byQuery.getOrElse(q, "other")

  /** The cheapest query of each of the ten query modules (0.1-0.6 s each
    * warm at sf0.01 on local[4]): every module's code runs in ~3 s, where
    * the whole 87-query pack takes ~65 s. */
  val Selected: Seq[String] = Seq(
    "q01_cache_stats", "q11_token_stats", "q22_ngram_jaccard", "q26_label_stats",
    "q83_validate_robots", "q49_classify", "q54_structured_data",
    "q19_search_smoke", "q65_traffic_wow", "q78_ssl_cert")

  /** `name \t rows \t hash` lines. */
  def readReference(p: Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(n, r, h) = l.split("\t")
      n -> (r.toLong, h)
    }.toMap
}
