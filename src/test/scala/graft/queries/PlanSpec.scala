package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the optimizations the 100 TB design relies
  * on must actually appear in the executed plan — filter pushdown to the
  * parquet scan, column pruning, broadcast of the small dimension side,
  * map-side partial aggregation, and no Exchange on narrow extract paths.
  */
class PlanSpec extends AnyFunSuite {

  // tests run queries at sf0.001 — never clobber the Verify main's
  // /tmp/graft_kernel dump that the driver's DuckDB oracle reads
  System.setProperty("graft.kernel.root", "/tmp/graft_kernel_test")

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect() // AQE only materializes the final plan after execution
    df.queryExecution.executedPlan.toString
  }

  test("q02 shipdate filter is pushed to the parquet scan") {
    val p = plan("q02_agg_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"no pushdown in:\n${p.take(2000)}")
  }

  test("q02 scan reads only the needed columns (pruning)") {
    val p = plan("q02_agg_revenue")
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey"), s"unpruned scan: $readSchema")
    assert(!readSchema.contains("l_suppkey"), s"unpruned scan: $readSchema")
  }

  test("q05 joins broadcast the customer dimension") {
    val p = plan("q05_revenue_by_segment")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n${p.take(2000)}")
  }

  test("q02 aggregation is partial (map-side combine before the shuffle)") {
    val p = plan("q02_agg_revenue")
    assert(p.contains("partial_sum") || p.contains("HashAggregate(keys"),
      s"no partial agg in:\n${p.take(2000)}")
  }

  test("q02 stays inside whole-stage codegen") {
    val p = plan("q02_agg_revenue")
    // AQE final plans mark codegen stages with the *(n) prefix
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"no codegen stage in:\n${p.take(1200)}")
  }

  test("q01 single-row agg has exactly one shuffle") {
    val p = plan("q01_cache_stats")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges exchanges in single-agg plan")
  }

  test("extract kernel path has no shuffle before the UDF (narrow)") {
    // q32's plan: range -> repartition (1 exchange, deliberate spread) ->
    // mapPartitions; anything beyond the final sort is a regression
    val df = graft.SparkEntry.queries("q32_extract_kernel")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"extract path grew $exchanges exchanges:\n${p.take(1500)}")
  }

  test("q51 compare plans as an equi-join, not BroadcastNestedLoop") {
    val p = plan("q51_compare")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"theta-join shape survived:\n${p.take(2000)}")
  }

  test("q51 compare output is O(pairs): one row per adjacent-in-group pair") {
    // the explicit pair list (lead over the host group) yields exactly
    // n_pages - n_groups rows — the Θ(Σ n_host²) all-pairs form is gone
    val df = graft.SparkEntry.queries("q51_compare")(spark, sf)
    val out = df.count()
    val mat = spark.read.parquet(
      s"${graft.queries.OracleMat.writeRoot}/q51")
    val pages = mat.count()
    val groups = mat.select("grp").distinct().count()
    assert(out == pages - groups,
      s"expected ${pages - groups} pair rows (pages=$pages, groups=$groups), got $out")
  }

  test("q65 lag window is partitioned (no SinglePartition exchange)") {
    val p = plan("q65_traffic_wow")
    // the final presentation orderBy is a range exchange; the WINDOW itself
    // must be hash-partitioned by the series key, never SinglePartition
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"no window in plan:\n${p.take(1200)}")
    val beforeWindow = p.substring(winIdx)
    assert(beforeWindow.contains("hashpartitioning(event_type") ||
      p.contains("hashpartitioning(event_type"),
      s"window not partitioned by event_type:\n${p.take(2500)}")
  }

  test("q23 embedding dedup buckets are 8-bit (no mega-bucket Θ(n²/16) join)") {
    val p = plan("q23_embedding_dup")
    assert(p.contains("& 255"), s"bands are not 8-bit:\n${p.take(2000)}")
  }

  test("q82/q84 component joins are equi-joins (no cartesian shapes)") {
    Seq("q82_dup_clusters", "q84_corpus_filter").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q grew a cartesian shape:\n${p.take(1500)}")
    }
  }

  /** Exchange count in the AQE FINAL plan only (executedPlan.toString
    * repeats every node once more in the "Initial Plan" section). */
  private def finalPlanExchanges(p: String): Int = {
    val cut = p.indexOf("== Initial Plan ==")
    val fin = if (cut >= 0) p.substring(0, cut) else p
    "Exchange".r.findAllIn(fin).size
  }

  test("q88 ten-family language detection is a narrow single-scan pipeline") {
    // per-row regexp scoring must stay scan→project→sort: the only
    // exchange is the presentation orderBy's range partitioning
    val p = plan("q88_lang_detect_full")
    val exchanges = finalPlanExchanges(p)
    assert(exchanges <= 1, s"q88 grew $exchanges exchanges:\n${p.take(1500)}")
  }

  test("q89 search windows are partitioned by doc_id (no SinglePartition)") {
    val p = plan("q89_search_content_full")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"no window in plan:\n${p.take(1200)}")
    assert(!p.contains("SinglePartition"),
      s"a window collapsed to one partition:\n${p.take(2500)}")
    assert(p.contains("hashpartitioning(doc_id"),
      s"cap/count windows not keyed by doc_id:\n${p.take(2500)}")
  }

  test("q90 granularity explodes stay narrow (no shuffle before the union)") {
    val p = plan("q90_sentiment_granular")
    // three generator branches over one table + presentation sort: the
    // union itself must not introduce exchanges
    val exchanges = finalPlanExchanges(p)
    assert(exchanges <= 1, s"q90 grew $exchanges exchanges:\n${p.take(1500)}")
  }

  test("q92/q93 downstream of the kernel stays a narrow single-scan pipeline") {
    // both queries materialize a per-row kernel (extract variants / parsed
    // lang attrs) then project+derive per row: the only exchange allowed
    // in the final plan is the presentation orderBy's range partitioning
    Seq("q92_extract_variants", "q93_lang_detect_pages").foreach { q =>
      val p = plan(q)
      val exchanges = finalPlanExchanges(p)
      assert(exchanges <= 1, s"$q grew $exchanges exchanges:\n${p.take(1500)}")
    }
  }

  test("q63 multimodal rollup: partial agg over the materialized decode, no blob past the kernel") {
    // decode runs in the typed mapPartitions kernel and materializes
    // narrow per-row features; the per-format rollup must be a two-phase
    // hash aggregate (partial before the exchange) and no Exchange may
    // ever carry the binary blob column
    val p = plan("q63_multimodal")
    assert(p.contains("HashAggregate"), s"rollup not hash-aggregated:\n${p.take(1200)}")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"no partial (map-side) aggregate before the shuffle:\n${p.take(2000)}")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchangeLines.exists(_.contains("blob")),
      s"an exchange carries the raw media blob:\n${exchangeLines.mkString("\n")}")
  }

  test("q20 minhash candidate join carries no token arrays through any exchange") {
    val p = plan("q20_minhash_lsh")
    // at small scale AQE may broadcast the band side instead of shuffling;
    // either way no Exchange/BroadcastExchange may carry the toks column
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(!exchangeLines.exists(_.contains("toks")),
      s"token arrays ride an exchange:\n${exchangeLines.mkString("\n")}")
  }

  test("confirmJaccard moves no string token sets through any exchange") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
    val df = DedupQueries.confirmJaccard(d, DedupQueries.minhashCandidates(d))
    df.collect()
    val outputs = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: Exchange => e.output
      case r: ReusedExchangeExec => r.output
    }
    assert(outputs.nonEmpty)
    val strSets = outputs.flatten.filter(_.dataType match {
      case ArrayType(_: StringType, _) => true
      case _ => false
    })
    assert(strSets.isEmpty, s"string token sets ride an exchange: $strSets")
  }
}
