package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Star-edge LSH candidates ([[DedupQueries.minhashCandidatesStar]]): the
  * skew-immune variant for cluster dedup over boilerplate-heavy corpora.
  * Pins the two claims the corpus-pipeline dedup rests on:
  *   1. connected components over star edges == components over the
  *      pairwise candidate graph (cluster semantics preserved);
  *   2. candidate cardinality is O(bucket), not O(bucket²) — a bucket of
  *      m near-identical docs emits m-1 star edges vs m(m-1)/2 pairs.
  */
class DedupStarSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("dedup-star-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Corpus with templated mega-groups: group g holds `sizes(g)` docs
    * sharing the same 40 tokens (identical ⇒ every band collides, the
    * worst-case bucket), plus unique singleton docs. */
  private def corpus(sizes: Seq[Int], singletons: Int) = {
    import spark.implicits._
    val grouped = sizes.zipWithIndex.flatMap { case (m, g) =>
      (0 until m).map { i =>
        (g.toLong * 1000 + i, (0 until 40).map(j => s"g${g}_tok$j"))
      }
    }
    val solo = (0 until singletons).map { s =>
      (900000L + s, (0 until 40).map(j => s"solo${s}_w${j}_${s * 7919 + j}"))
    }
    (grouped ++ solo).toDF("doc_id", "toks")
  }

  private def labelSets(pairs: org.apache.spark.sql.DataFrame): Set[Set[Long]] = {
    val labels = DedupQueries.ccLabels(spark, pairs)
    labels.collect()
      .map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
  }

  test("star edges give the same dedup clusters as pairwise candidates") {
    val d = corpus(Seq(12, 5, 3), singletons = 6).cache()
    val pairwise = DedupQueries.confirmJaccard(d, DedupQueries.minhashCandidates(d))
    val star = DedupQueries.confirmJaccard(d, DedupQueries.minhashCandidatesStar(d))
    assert(labelSets(star) == labelSets(pairwise))
    // and the clusters are the construction truth: one component per group
    assert(labelSets(star).map(_.size).toSeq.sorted == Seq(3, 5, 12))
    d.unpersist()
    ()
  }

  test("star candidate count is linear in the bucket, pairwise is quadratic") {
    val m = 30
    val d = corpus(Seq(m), singletons = 0).cache()
    val nStar = DedupQueries.minhashCandidatesStar(d).count()
    val nPair = DedupQueries.minhashCandidates(d).count()
    assert(nStar == m - 1, s"star edges: $nStar")
    assert(nPair == m.toLong * (m - 1) / 2, s"pairwise candidates: $nPair")
    d.unpersist()
    ()
  }

  test("confirmJaccard equals a string-set Jaccard reference at the 0.8 boundary") {
    import spark.implicits._
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val t = toks("t", 40)
    val docs = Seq(
      1L -> (t ++ toks("a", 5)), 2L -> (t ++ toks("b", 5)),    // 40 of 50: exactly 0.8
      3L -> (t ++ Seq("a0") ++ toks("c", 6)),                  // 41 of 51 with doc 1: kept
      4L -> (t ++ toks("d", 6)),                               // 40 of 51 with doc 1: dropped
      5L -> (t ++ t.take(20) ++ toks("e", 5)),                 // repeated tokens, same set as 6
      6L -> (t ++ toks("e", 5)),
      // the loose-template shape: 40 shared of 50, 10 own each (40 of 60)
      7L -> (toks("u", 40) ++ toks("x", 10)), 8L -> (toks("u", 40) ++ toks("y", 10)))
    val d = docs.toDF("doc_id", "toks")
    val pairs = for ((a, ta) <- docs; (b, tb) <- docs if a < b) yield (a, b, ta.toSet, tb.toSet)
    val cand = pairs.map(p => (p._1, p._2)).toDF("doc_a", "doc_b")
    val want = pairs.collect { case (a, b, sa, sb)
      if (sa & sb).size * 10 >= (sa | sb).size * 8 => (a, b) }.toSet
    val got = DedupQueries.confirmJaccard(d, cand).as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(Set((1L, 2L), (1L, 3L), (1L, 5L), (5L, 6L)).subsetOf(got))
    assert(!got.contains((1L, 4L)) && !got.contains((7L, 8L)))
  }

  test("singleton docs never appear in star edges") {
    val d = corpus(Seq(4), singletons = 8).cache()
    val star = DedupQueries.minhashCandidatesStar(d)
    assert(star.filter(col("doc_a") >= 900000L || col("doc_b") >= 900000L)
      .count() == 0)
    d.unpersist()
    ()
  }
}
