package perfbench

import graft.core.UrlNorm
import graft.engine.{CrawlOracle, SyntheticWeb}
import graft.queries.DedupQueries

/** Seeded inputs and their expected outputs. Everything here is a pure
  * function of the seed, computed by the benchmark without calling the
  * code it measures (the crawl oracle is the repository's scalar reference
  * implementation, not the Spark engine). */
object Inputs {

  /** A synthetic-web crawl: the web is fixed by its shape; the seed picks
    * which hosts the crawl starts from and at which page. */
  final case class CrawlShape(nHosts: Int, pagesPerHost: Int, linksPerPage: Int,
      seedHosts: Int, hostBudget: Int, maxDepth: Int, maxPages: Int) {
    def web: SyntheticWeb.Config = SyntheticWeb.Config(
      nHosts = nHosts, pagesPerHost = pagesPerHost, linksPerPage = linksPerPage)
    def oracleConfig: CrawlOracle.Config = CrawlOracle.Config(
      maxDepth = maxDepth, maxPages = maxPages, hostBudget = hostBudget,
      sameHostOnly = false, respectRobots = true, web = web)
  }

  def crawlSeeds(shape: CrawlShape, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until shape.nHosts).toVector).take(shape.seedHosts).map { h =>
      SyntheticWeb.pageUrl(h, rnd.nextInt(SyntheticWeb.pageCount(shape.web, h)))
    }
  }

  /** Near-duplicate corpus: `docs` 50-token documents.
    *  - ids [0, cluster) are the tight template cluster: 45 shared tokens,
    *    then 5 tokens of their own (token-set Jaccard 45/55 between members,
    *    so every member pair that reaches the confirm passes it);
    *  - ids [cluster, cluster + loose) are the loose template cluster: 40
    *    shared tokens, then 10 of their own (token-set Jaccard 40/60). Its
    *    members still share band buckets, so the confirm must reject pairs
    *    the LSH proposed;
    *  - both clusters are the same for every seed: their LSH buckets, and
    *    so the rounds `ccLabels` needs, would otherwise change the work from
    *    seed to seed;
    *  - of the rest, every 10th doc (offset 9) is an exact copy of the doc
    *    before it, so 20% of those docs sit in exact-duplicate pairs;
    *  - all other docs draw 50 tokens from a 2^28-word vocabulary and share
    *    no 3-word shingle with any other doc. */
  final case class DedupShape(docs: Long, cluster: Int, loose: Int) {
    def templated: Int = cluster + loose
    def dupPairs: Long = (docs - templated) / 10
  }

  def dedupTokens(seed: Long, shape: DedupShape, id: Long): Array[String] = {
    val bb = java.nio.ByteBuffer.allocate(24)
    def h(a: Long, b: Long): Long = {
      bb.clear(); bb.putLong(seed); bb.putLong(a); bb.putLong(b)
      UrlNorm.xxh64(bb.array(), 7L)
    }
    if (id < shape.cluster)
      Array.tabulate(50)(i => if (i < 45) s"c$i" else s"u${id}_$i")
    else if (id < shape.templated)
      Array.tabulate(50)(i => if (i < 40) s"l$i" else s"u${id}_$i")
    else {
      val j = id - shape.templated
      val base = if (j % 10 == 9) id - 1 else id
      Array.tabulate(50)(i => "t" + java.lang.Long.toHexString(h(base, i) & 0xFFFFFFFL))
    }
  }

  /** Expected dedup outputs. Only the two template clusters need the LSH
    * banding worked out (an independent scalar copy of the documented
    * MinHash scheme: xxh64 of each 3-word shingle, k permutations
    * h1 + i·h2 with h2 a splitmix64 finalizer of h1, bands of k/bands rows)
    * and each colliding pair's token-set Jaccard checked against 0.8;
    * exact copies collide in every band and pass, unrelated docs collide
    * in none. */
  final case class DedupTruth(candidates: Long, confirmed: Long, clusters: Long,
      maxBucketDocs: Int)

  def bandHashes(toks: Array[String], k: Int, bands: Int): Array[Long] = {
    val w = 3
    val n = toks.length
    val mins = Array.fill(k)(Long.MaxValue)
    (0 until math.max(1, n - (w - 1))).foreach { s =>
      val sh = toks.slice(s, math.min(n, s + w)).mkString(" ")
      val h1 = UrlNorm.xxh64(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0L)
      var z = h1 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      val h2 = (z ^ (z >>> 31)) | 1L
      (0 until k).foreach { i => mins(i) = math.min(mins(i), h1 + i * h2) }
    }
    val r = k / bands
    Array.tabulate(bands)(b => (b * r until (b + 1) * r).foldLeft(1125899906842597L)((acc, i) => acc * 31 + mins(i)))
  }

  def dedupTruth(seed: Long, shape: DedupShape): DedupTruth = {
    val c = shape.templated
    val toks = Array.tabulate(c)(i => dedupTokens(seed, shape, i))
    val sets = toks.map(_.toSet)
    val sigs = toks.map(bandHashes(_, DedupQueries.MinhashK, DedupQueries.Bands))
    val pair = new java.util.BitSet(c * c)
    var maxBucket = if (shape.dupPairs > 0) 2 else 1
    (0 until DedupQueries.Bands).foreach { b =>
      (0 until c).groupBy(i => sigs(i)(b)).values.foreach { members0 =>
        val members = members0.sorted
        maxBucket = math.max(maxBucket, members.size)
        for (x <- members.indices; y <- x + 1 until members.size)
          pair.set(members(x) * c + members(y))
      }
    }
    val parent = Array.tabulate(c)(identity)
    def find(x: Int): Int = { var y = x; while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }; y }
    val inPair = new java.util.BitSet(c)
    var confirmed = 0L
    var p = pair.nextSetBit(0)
    while (p >= 0) {
      val (a, b) = (p / c, p % c)
      val inter = (sets(a) & sets(b)).size
      if (inter * 10 >= (sets(a).size + sets(b).size - inter) * 8) {
        confirmed += 1
        inPair.set(a); inPair.set(b)
        parent(find(b)) = find(a)
      }
      p = pair.nextSetBit(p + 1)
    }
    val components = (0 until c).filter(inPair.get).map(find).distinct.size
    DedupTruth(
      candidates = shape.dupPairs + pair.cardinality(),
      confirmed = shape.dupPairs + confirmed,
      clusters = shape.dupPairs + components,
      maxBucketDocs = maxBucket)
  }

  /** The pack's query order for a seed. */
  def packOrder(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)
}
