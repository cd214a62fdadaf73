package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** [[DedupQueries.ccLabels]]: both finishes (one task's union-find, and the
  * label loop forced with `smallEdgesMax = -1`) against a scalar union-find,
  * the graph shapes that break label propagation, and the job count of one
  * call on a dedup-shaped graph. */
class CcLabelsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("cc-labels-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Loop = -1L

  private def pairs(edges: Seq[(Long, Long)], parts: Int = 4): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(edges, parts).toDF("doc_a", "doc_b")
  }

  /** One (node, label) row per node, equal to `want`. */
  private def assertLabels(edges: Seq[(Long, Long)], smallEdgesMax: Long,
      want: Map[Long, Long]): Unit = {
    val got = DedupQueries.ccLabels(spark, pairs(edges), smallEdgesMax).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == want.size, s"rows (smallEdgesMax $smallEdgesMax)")
    assert(got.toMap == want, s"labels (smallEdgesMax $smallEdgesMax)")
  }

  /** Scalar reference: node -> minimum node of its component. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x0: Long): Long = {
      var x = parent.getOrElseUpdate(x0, x0)
      while (parent(x) != x) x = parent(x)
      parent(x0) = x
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("both finishes match a scalar union-find on a seeded random graph") {
    val rnd = new scala.util.Random(17)
    // 500 components of 1-8 random ids, each a random tree plus chords
    val edges = (0 until 500).flatMap { _ =>
      val ids = Vector.fill(1 + rnd.nextInt(8))(rnd.nextLong() >> 20)
      val tree = ids.indices.drop(1).map(i => (ids(i), ids(rnd.nextInt(i))))
      val chords = Seq.fill(ids.size / 3)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
      if (ids.size == 1) Seq((ids(0), ids(0))) else tree ++ chords
    }
    val want = reference(edges)
    assert(want.values.toSet.size > 100, "the graph should have many components")
    assertLabels(edges, DedupQueries.CcSmallEdgesMax, want)
    assertLabels(edges, Loop, want)
  }

  test("empty pairs, duplicate pairs and a self-loop") {
    val edges = Seq[(Long, Long)]((5, 9), (9, 5), (5, 9), (9, 7), (42, 42), (3, 3), (3, 3))
    val want = Map[Long, Long](5L -> 5, 9L -> 5, 7L -> 5, 42L -> 42, 3L -> 3)
    for (max <- Seq(DedupQueries.CcSmallEdgesMax, Loop)) {
      assertLabels(Nil, max, Map.empty)
      assertLabels(edges, max, want)
    }
  }

  test("a 20k-node path (large diameter) is one component") {
    val n = 20000
    val edges = new scala.util.Random(5).shuffle((0 until n - 1).map(i => (i + 1L, i.toLong)))
    val got = DedupQueries.ccLabels(spark, pairs(edges, parts = 8))
    val agg = got.agg(F.count("*"), F.min("label"), F.max("label")).head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((n.toLong, 0L, 0L)))
  }

  test("a 20k-node star is one component") {
    val hub = 10000L
    val edges = (0L until 20000L).filter(_ != hub)
      .map(i => if (i % 2 == 0) (hub, i) else (i, hub))
    val got = DedupQueries.ccLabels(spark, pairs(edges))
    val agg = got.agg(F.count("*"), F.max("label")).head()
    assert((agg.getLong(0), agg.getLong(1)) == ((20000L, 0L)))
  }

  test("one call on a dedup-shaped graph runs at most 6 Spark jobs") {
    // a 300-doc template clique (44,850 pairs) beside 1,500 exact-copy
    // pairs: the shape of the benchmark's confirmed-pair graph
    val clique = for (a <- 0L until 300L; b <- a + 1 until 300L) yield (a, b)
    val copies = (0L until 1500L).map(i => (10000 + 2 * i, 10001 + 2 * i))
    val p = pairs(clique ++ copies, parts = 8).cache()
    assert(p.count() == 46350)
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cc-guard", "ccLabels")
      val n = DedupQueries.ccLabels(spark, p).count()
      // a marker job: events reach a listener in order, so once the marker
      // arrives every job of the call has been counted
      sc.setJobGroup("cc-guard-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("cc-guard-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("cc-guard-end"), "marker job never reached the listener")
      assert(n == 300 + 3000)
      val jobs = groups.asScala.count(_ == "cc-guard")
      assert(jobs <= 6, s"ccLabels(...).count() ran $jobs jobs")
    } finally {
      sc.removeSparkListener(listener)
      p.unpersist()
    }
  }
}
