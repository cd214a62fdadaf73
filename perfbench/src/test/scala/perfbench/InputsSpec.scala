package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DedupQueries
import Inputs._

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val shape = CrawlShape(nHosts = 64, pagesPerHost = 500, linksPerPage = 12,
    seedHosts = 16, hostBudget = 4000, maxDepth = 8, maxPages = 4000)

  test("crawl seeds are a function of the seed") {
    assert(crawlSeeds(shape, 5) == crawlSeeds(shape, 5))
    assert(crawlSeeds(shape, 5) != crawlSeeds(shape, 6))
    assert(crawlSeeds(shape, 5).size == 16)
    assert(crawlSeeds(shape, 5).distinct.size == 16)
  }

  test("pack order is a seeded permutation") {
    val names = (1 to 10).map(i => s"q$i")
    assert(packOrder(names, 3) == packOrder(names, 3))
    assert(packOrder(names, 3) != packOrder(names, 4))
    assert(packOrder(names, 3).sorted == names.sorted)
  }

  test("dedup corpus: template clusters, exact copies, unrelated docs") {
    val seed = 9L
    val s = DedupShape(1000, cluster = 20, loose = 10)
    val c = s.templated
    def toks(sd: Long, id: Long) = dedupTokens(sd, s, id).toSeq
    assert(toks(seed, 50) == toks(seed, 50))
    assert(toks(seed, 50) != toks(seed + 1, 50))
    assert(toks(seed, 5) == toks(seed + 1, 5) && toks(seed, 25) == toks(seed + 1, 25),
      "the template clusters do not depend on the seed")
    val a = toks(seed, 3).toSet
    val b = toks(seed, 17).toSet
    assert(a.size == 50 && b.size == 50 && (a & b).size == 45)
    val (la, lb) = (toks(seed, 21).toSet, toks(seed, 28).toSet)
    assert(la.size == 50 && lb.size == 50 && (la & lb).size == 40)
    assert((a & la).isEmpty)
    // doc c + 9 copies doc c + 8; doc c + 8 shares nothing with c + 7
    assert(toks(seed, c + 9) == toks(seed, c + 8))
    assert((toks(seed, c + 8).toSet & toks(seed, c + 7).toSet).isEmpty)
    assert(dedupTruth(seed, s) == dedupTruth(seed, s))
  }

  test("output hash ignores row order and sees any changed value") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.1), (2L, "b", 0.2), (3L, "c", 0.3)).toDF("k", "s", "d")
    val h = Workloads.rowsAndHash(df)
    assert(h._1 == 3)
    assert(Workloads.rowsAndHash(df.orderBy(desc("k")).repartition(3)) == h)
    assert(Workloads.rowsAndHash(df.filter($"k" =!= 2)) != h)
    assert(Workloads.rowsAndHash(Seq((1L, "a", 0.1), (2L, "b", 0.2), (3L, "x", 0.3))
      .toDF("k", "s", "d")) != h)
    assert(Workloads.rowsAndHash(df.filter($"k" > 9)) == (0L, "0"))
  }

  test("dedup ground truth equals DedupQueries' output on a small seed") {
    val s = DedupShape(docs = 2000, cluster = 60, loose = 60)
    val truth = dedupTruth(11L, s)
    val gen = udf((id: Long) => dedupTokens(11L, s, id).toSeq)
    val docs = spark.range(s.docs).select(col("id").as("doc_id"), gen(col("id")).as("toks")).cache()
    val cand = DedupQueries.minhashCandidates(docs).cache()
    val pairs = DedupQueries.confirmJaccard(docs, cand).cache()
    val clusters = DedupQueries.ccLabels(spark, pairs).select("label").distinct().count()
    assert(truth.confirmed > s.dupPairs, "the tight cluster yields confirmed pairs")
    assert(truth.candidates > truth.confirmed, "the loose cluster yields rejected candidates")
    assert(cand.count() == truth.candidates)
    assert(pairs.count() == truth.confirmed)
    assert(clusters == truth.clusters)
  }
}
