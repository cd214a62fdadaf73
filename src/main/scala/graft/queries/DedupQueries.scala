package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication query pack over the `documents` table — the training-data
  * pipeline operators a 100 TB corpus needs. The reference computes Jaccard
  * text similarity over word sets (src/server.ts:24-39) pairwise; at corpus
  * scale that becomes MinHash+LSH / SimHash banding so the all-pairs
  * comparison never materializes.
  *
  * Scale notes (100 TB):
  *  - MinHash signatures are computed per-row (narrow, no shuffle); only
  *    the (band_hash → doc_id) explode shuffles, and it's k·rows small.
  *  - Candidate verification joins only within identical band buckets —
  *    skewed mega-buckets are bounded because band hashes are 64-bit.
  *  - SimHash is a per-row 64-bit fingerprint; hamming-≤k search joins on
  *    16-bit chunks (pigeonhole), never all-pairs.
  */
object DedupQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Word w-shingles as strings ("w1 w2 ... ww"). */
  def shingles(toks: Column, w: Int): Column = {
    val n = size(toks)
    when(n < w, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), n - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  /** k MinHash values from word w-shingles, one pass per row: one xxh64
    * per shingle, the k permutations derived as h1 + i·h2 (Kirsch–
    * Mitzenmacher). A nested higher-order-function formulation
    * (transform∘array_min∘transform) is interpreted per element by
    * Catalyst — measured 20x slower. Returns the per-band hashes directly
    * (bands of k/bands rows each).
    *
    * h2 MUST span the full 64-bit range. r1–r8 derived it as
    * `(h1 >>> 32) | 1` — only 32 bits wide, so the i·h2 perturbation
    * (≤ 2^38 at k=64) was negligible against the ~2^57 spacing of the
    * shingle h1 order statistics: the SAME argmin-h1 shingle won every
    * row's min, collapsing k=64 to effectively k=1. The r9 band sweep
    * caught it — recall froze at exactly the shingle-Jaccard (45/51 =
    * 0.883 on the construction corpus) for EVERY band shape, where
    * independent rows predict 0.44→1.0 across 4×16→32×2. A splitmix64
    * finalizer of h1 gives an independent full-width second stream. */
  def minhashBandsUdf(k: Int, bands: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String], w: Int) =>
      val n = toks.length
      val nSh = math.max(1, n - (w - 1))
      val mins = Array.fill(k)(Long.MaxValue)
      var s = 0
      while (s < nSh) {
        val shingle = toks.slice(s, math.min(n, s + w)).mkString(" ")
        val h1 = graft.core.UrlNorm.xxh64(
          shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0L)
        var z = h1 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val h2 = (z ^ (z >>> 31)) | 1L
        var i = 0
        while (i < k) {
          val hi = h1 + i * h2
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
        s += 1
      }
      val r = k / bands
      Array.tabulate(bands) { b =>
        var acc = 1125899906842597L
        var i = b * r
        while (i < (b + 1) * r) { acc = acc * 31 + mins(i); i += 1 }
        acc
      }
    }

  val MinhashK = 64
  // 8 bands × 8 rows ⇒ LSH threshold (1/b)^(1/r) ≈ 0.77, matched to the
  // 0.8-Jaccard confirm filter. (16×4 targets 0.50 and floods the candidate
  // join on low-entropy corpora: measured 37s → 2s at sf0.1.)
  val Bands = 8

  /** LSH candidate pairs (band-bucket collisions, pre-confirm): the stage
    * whose cardinality decides whether the dedup scales — it must grow
    * ~linearly in docs, never all-pairs. Factored out of [[minhashPairs]]
    * so the benchmark can count it directly (`perfbench`, `dedup_skewed`). */
  def minhashCandidates(d: DataFrame, k: Int = MinhashK, bands: Int = Bands)
      : DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val sig = d.withColumn("band_hashes",
      minhashBandsUdf(k, bands)(col("toks"), lit(3)))
    // Single-pass bucket grouping instead of the banded self-join: the
    // join's two branches were separate plan subtrees that EACH re-ran the
    // signature UDF over the whole corpus (guide §1.2 step 2 — measured as
    // two identical signature jobs per invocation; exchange reuse does not
    // fire across the AQE stage boundary). Checkpointing the explode fixed
    // the double pass but RETAINED the banded blocks for the session,
    // which measurably slowed everything downstream at the 4M-doc bench
    // point (cc_secs 6.4 → 18.6). This form shuffles the light
    // (band, hash, doc) rows ONCE, buffers one bucket's doc ids per task
    // (O(bucket) — the bound the join's per-bucket output already had),
    // and streams the within-bucket pairs lazily — identical output.
    sig.select(col("doc_id"), posexplode(col("band_hashes")))
      .select(col("pos").as("band_id"), col("col").as("band_hash"), col("doc_id"))
      .as[(Int, Long, Long)]
      .groupByKey { case (b, h, _) => (b, h) }
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._3).toArray
        java.util.Arrays.sort(ids)
        ids.indices.iterator.flatMap(i =>
          (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
      }
      .toDF("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Confirmed near-dup pairs (jaccard ≥ 0.8) from (doc_id, toks) via
    * MinHash-LSH banding + exact-Jaccard confirm — the q20 kernel, shared
    * by the cluster/corpus-filter queries. */
  def minhashPairs(d: DataFrame): DataFrame =
    confirmJaccard(d, minhashCandidates(d))

  /** Skew-immune LSH candidate edges for CLUSTER dedup: per band-bucket,
    * link every member to the bucket's MIN doc_id (star edges) instead of
    * enumerating member pairs. Connected components over the star edges
    * equal components over the full per-bucket cliques, while candidate
    * cardinality is O(bucket size) instead of O(bucket²) — the regime
    * boilerplate/templated web corpora hit, where one band-bucket can hold
    * thousands of near-identical docs and the pairwise join goes quadratic
    * in the biggest bucket. The downstream Jaccard confirm then applies to
    * star edges only: strictly conservative vs pairwise confirm (a member
    * similar to another member but not to the bucket min can drop its
    * edge) — the documented trade for linear worst-case cost. The bucket
    * min rides a whole-partition window over (band_id, band_hash): ONE
    * shuffle of light (band, hash, doc) rows and one signature-UDF pass —
    * the groupBy-then-self-join form evaluated the signature UDF twice
    * (once per join branch; measured 26.6 s of a 36.3 s near-dedup stage
    * on the 176k-page corpus-pipeline graph). A mega-bucket lands in one
    * window partition, but its cost there is linear in the bucket. */
  def minhashCandidatesStar(d: DataFrame, k: Int = MinhashK,
      bands: Int = Bands): DataFrame = {
    val sig = d.withColumn("band_hashes",
      minhashBandsUdf(k, bands)(col("toks"), lit(3)))
    val exploded = sig.select(col("doc_id"), posexplode(col("band_hashes")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_id"), col("band_hash"))
    exploded.withColumn("doc_a", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Per-doc word sets (doc_id, set) — the Jaccard operand over word sets
    * (src/server.ts:24-39). */
  private def wordSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), array_distinct(col("toks")).as("set"))

  /** The exact-Jaccard confirm kernel: joins each candidate pair's two word
    * sets from `sets` (doc_id, set) and keeps pairs with jaccard ≥ 0.8.
    * Returns (doc_a, doc_b, inter, union_). */
  private def jaccardJoin(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("union_", size(col("set_a")) + size(col("set_b")) - col("inter"))
      .filter(col("inter") * 10 >= col("union_") * 8) // jaccard >= 0.8
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_"))

  /** Exact-Jaccard confirm over an LSH candidate pair set (the second
    * stage of [[minhashPairs]], separable so the benchmark can time and count
    * the stages independently without recomputing signatures). */
  def confirmJaccard(d: DataFrame, cand: DataFrame): DataFrame =
    jaccardJoin(cand, wordSets(d)).select(col("doc_a"), col("doc_b"))

  /** Star-edge count up to which [[ccLabels]] finishes in one task's
    * [[MinUnionFind]]: a star graph has at most one id per edge, so that
    * task holds at most ~80 MiB. Above it the label loop runs. */
  val CcSmallEdgesMax = 2000000L

  /** Union-find over (a, b) edges whose root is the minimum id of its set;
    * emits (id, root) once for every id it saw, a self-loop's id included. */
  private def minRootStars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val uf = new MinUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.labels
  }

  /** Connected components over an undirected pair graph. Returns (node,
    * label = min doc_id of the component) for every node of `pairs`.
    *
    * Contract: one narrow pass runs [[minRootStars]] in each partition of
    * the pair frame and replaces its edges by star edges (node, local min).
    * That is one job with no shuffle, and its count sizes the finish. The
    * star graph has the pair graph's nodes and components, and at most
    * (nodes seen per partition) edges.
    *
    * Finish: up to `smallEdgesMax` star edges, one task's union-find over
    * them yields the labels. Above that, [[labelLoop]] runs on the star
    * graph, so no task's work grows super-linearly in its input. The
    * loop costs ~10 jobs a round, so a 46k-edge, 3.2k-node graph takes 23
    * jobs through it and one job (before the caller's action) through the
    * single-task finish. Only tests set `smallEdgesMax`, to force the loop. */
  def ccLabels(s: SparkSession, pairs: DataFrame,
      smallEdgesMax: Long = CcSmallEdgesMax): DataFrame = {
    import s.implicits._
    val stars = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd.mapPartitions(minRootStars).localCheckpoint()
    if (stars.count() <= smallEdgesMax)
      stars.coalesce(1).mapPartitions(minRootStars).toDF("node", "label")
    else labelLoop(stars.toDF("u", "v"))
  }

  /** Connected components over an edge frame (u, v) via iterative
    * min-label propagation WITH pointer halving: each round combines a
    * one-hop propagation (label flows along edges) with label ←
    * label(label) shortcutting, so convergence is O(log diameter) rounds —
    * one-hop-only propagation is Θ(diameter), which the r9 corpus-pipeline
    * graph (hub-chained star edges over a boilerplate corpus) turned into
    * 50+ rounds / ~5 minutes at 176k nodes. `edges` must be a materialized
    * leaf: every round rejoins it. Lineage is cut per round; each round
    * costs ~10 jobs under AQE. Returns (node, label). */
  private def labelLoop(edges: DataFrame): DataFrame = {
    val und = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    // NOTE: the crawl engine's small-data conf scoping was tried here too
    // (AQE off + small shuffle fans for the loop) and measured NEUTRAL to
    // slightly negative — the loop's frames are checkpointed leaves with no
    // stats, so without AQE the per-round joins lose their runtime
    // broadcast conversion and fall back to sort-merge. AQE stays on.
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val prop = labels.join(und, col("node") === col("u"))
        .select(col("v").as("node"), col("label"))
        .unionByName(labels.select(col("node"), col("label")))
        .groupBy(col("node")).agg(min(col("label")).as("l1"))
      // pointer halving: a label is itself a node (labels start as node
      // ids and only ever decrease along edges), so chase one extra level
      // per round — monotone, never crosses a component boundary
      val half = prop.join(
          prop.select(col("node").as("l1"), col("l1").as("l2")),
          Seq("l1"), "left")
        .select(col("node"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("new_label"))
      val joined = labels.join(half, Seq("node")).localCheckpoint(true)
      changed = joined.filter(col("new_label") < col("label")).count()
      labels = joined.select(col("node"), col("new_label").as("label"))
    }
    labels
  }

  val specs: Seq[QuerySpec] = Seq(
    // --- MinHash + LSH near-dup pairs. Oracle: the LSH candidate set and
    //     the per-doc word sets are materialized; DuckDB independently
    //     recomputes the exact-Jaccard confirm join (the distributed part);
    //     signature/banding exactness is ScalaTest-gated. -----------------
    QuerySpec(
      "q20_minhash_lsh",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        // candidate build shared with q82/q84/dedup_scale: one signature
        // pass, one shuffle of light (band, hash, doc) rows — token arrays
        // never ride the candidate shuffle (see [[minhashCandidates]])
        val cand = OracleMat(s, "q20_cand")(minhashCandidates(d))
        // exact Jaccard confirmation over word sets (src/server.ts:24-39):
        // rejoin the (deduped) token sets only for surviving candidates
        val sets = OracleMat(s, "q20_sets")(wordSets(d))
        jaccardJoin(cand, sets).orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH cand AS (SELECT doc_a, doc_b FROM ${OracleMat.src("q20_cand")}),
              |sets AS (SELECT doc_id, "set" AS ws FROM ${OracleMat.src("q20_sets")}),
              |scored AS (
              |  SELECT c.doc_a, c.doc_b,
              |         len(list_intersect(sa.ws, sb.ws)) AS inter,
              |         len(sa.ws) + len(sb.ws) - len(list_intersect(sa.ws, sb.ws)) AS union_
              |  FROM cand c
              |  JOIN sets sa ON sa.doc_id = c.doc_a
              |  JOIN sets sb ON sb.doc_id = c.doc_b)
              |SELECT doc_a, doc_b, inter, union_
              |FROM scored WHERE inter * 10 >= union_ * 8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // --- SimHash fingerprints + hamming-≤3 near-dup pairs -----------------
    QuerySpec(
      "q21_simhash",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        // 64-bit simhash: bit j of the fingerprint is the sign of the sum
        // over tokens of (bit j of token hash ? +1 : -1). One UDF pass per
        // row (the column-algebra form re-walks the token array 64 times);
        // narrow — no shuffle.
        val simhash = udf { (toks: Seq[String]) =>
          val votes = new Array[Int](64)
          toks.foreach { w =>
            val h = graft.core.UrlNorm.xxh64(
              w.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0L)
            var j = 0
            while (j < 64) {
              votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
              j += 1
            }
          }
          var fp = 0L
          var j = 0
          while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
          fp
        }
        val f = OracleMat(s, "q21_fp")(
          d.withColumn("fp", simhash(col("toks"))).select(col("doc_id"), col("fp")))
        // pigeonhole: hamming<=3 over 4 chunks of 16 bits ⇒ at least one
        // chunk identical; join per chunk, verify exact hamming.
        val chunks = f.select(col("doc_id"), col("fp"),
          posexplode(array((0 until 4).map(c =>
            shiftrightunsigned(col("fp"), c * 16).bitwiseAND(0xFFFFL)): _*)))
          .withColumnRenamed("pos", "chunk_id")
          .withColumnRenamed("col", "chunk")
        val a = chunks.select(col("chunk_id"), col("chunk"),
          col("doc_id").as("doc_a"), col("fp").as("fp_a"))
        val b = chunks.select(col("chunk_id"), col("chunk"),
          col("doc_id").as("doc_b"), col("fp").as("fp_b"))
        a.join(b, Seq("chunk_id", "chunk"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
          .filter(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .dropDuplicates("doc_a", "doc_b")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // TRUE independent oracle: DuckDB brute-forces hamming distance over
      // ALL fingerprint pairs — the pigeonhole chunk join must find exactly
      // the brute-force result (pigeonhole recall is 1.0 by construction
      // for hamming<=3 over 4 chunks)
      Some(s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |       bit_count(xor(a.fp, b.fp)) AS hamming
              |FROM ${OracleMat.src("q21_fp")} a, ${OracleMat.src("q21_fp")} b
              |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // --- dedup clusters: connected components over the near-dup pair graph
    //     — the canonical "keep one doc per duplicate cluster" step of a
    //     100 TB training-data pipeline. Pairs come from the same
    //     MinHash-LSH + exact-Jaccard-confirm kernel as q20; components via
    //     [[ccLabels]]: a per-partition union-find contracts the pair
    //     graph to star edges, then one task's union-find labels them
    //     (above a size threshold, min-label propagation runs on the star
    //     graph); the corpus is never touched. Oracle: DuckDB computes the
    //     transitive closure with a recursive CTE over the materialized
    //     pairs — independent CC verification. -----------------------------
    QuerySpec(
      "q82_dup_clusters",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val pairs = OracleMat(s, "q82_pairs")(minhashPairs(d))
        val labels = ccLabels(s, pairs)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
        labels
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("node").as("doc_id"), col("label").as("cluster_id"),
            col("cluster_size"), (col("node") === col("label")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
              |edges AS (SELECT doc_a, doc_b FROM ${OracleMat.src("q82_pairs")}),
              |und AS (SELECT doc_a AS u, doc_b AS v FROM edges
              |        UNION ALL SELECT doc_b, doc_a FROM edges),
              |nodes AS (SELECT DISTINCT u FROM und),
              |reach(u, r) AS (
              |  SELECT u, u FROM nodes
              |  UNION
              |  SELECT reach.u, und.v FROM reach JOIN und ON reach.r = und.u),
              |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
              |SELECT doc_id, cluster_id,
              |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
              |       doc_id = cluster_id AS keep
              |FROM cc ORDER BY doc_id""".stripMargin)),

    // --- star-edge dedup clusters: the skew-immune form of q82 for
    //     boilerplate-heavy corpora — candidates are per-bucket star edges
    //     ([[minhashCandidatesStar]]: O(bucket) rows where the pairwise
    //     join is O(bucket²) in the biggest bucket), confirm + CC kernels
    //     shared with q82. Oracle: DuckDB recursive-CTE transitive closure
    //     over the materialized star pairs — independent verification that
    //     CC over the star graph yields the committed clusters. ------------
    QuerySpec(
      "q95_star_clusters",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val pairs = OracleMat(s, "q95_pairs")(
          confirmJaccard(d, minhashCandidatesStar(d)))
        val labels = ccLabels(s, pairs)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
        labels
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("node").as("doc_id"), col("label").as("cluster_id"),
            col("cluster_size"), (col("node") === col("label")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
              |edges AS (SELECT doc_a, doc_b FROM ${OracleMat.src("q95_pairs")}),
              |und AS (SELECT doc_a AS u, doc_b AS v FROM edges
              |        UNION ALL SELECT doc_b, doc_a FROM edges),
              |nodes AS (SELECT DISTINCT u FROM und),
              |reach(u, r) AS (
              |  SELECT u, u FROM nodes
              |  UNION
              |  SELECT reach.u, und.v FROM reach JOIN und ON reach.r = und.u),
              |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
              |SELECT doc_id, cluster_id,
              |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
              |       doc_id = cluster_id AS keep
              |FROM cc ORDER BY doc_id""".stripMargin)),

    // --- composed training-corpus filter: the C4/Gopher-shaped keep/drop
    //     pipeline — token-count band + stopword-density quality gate,
    //     language-ID gate, exact-dup representative (md5 group min) and
    //     near-dup cluster representative (MinHash-LSH pairs → connected
    //     components → min doc_id). Every stage is cross-engine verified:
    //     DuckDB recomputes the gates from raw text and the clusters via a
    //     recursive CTE over the materialized pairs. ------------------------
    QuerySpec(
      "q84_corpus_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val toksDf = d.select(col("doc_id"), tokens(col("text")).as("toks"))
        val pairs = OracleMat(s, "q84_pairs")(minhashPairs(toksDf))
        val labels = ccLabels(s, pairs)
        def hits(ws: Seq[String]) =
          size(filter(tokens(col("text")), w => w.isin(ws.map(lit): _*)))
        // language gate = the FULL ten-family detect_language primary
        // (shared with q88) — an English-corpus keep means the reference's
        // detector would call the doc 'en', not a 4-family argmax
        val sig = LangDetect.Families.foldLeft(
          d.select(col("doc_id"), col("text"),
            size(tokens(col("text"))).as("n_tokens"),
            hits(TextQueries.StopWords).as("n_stop"),
            LangDetect.words(lower(col("text"))).as("ld_w"),
            md5(col("text").cast("binary")).as("h"))) { (df, f) =>
          df.withColumn(s"ld_m_${f.code}",
            LangDetect.matches(lower(col("text")), f))
        }.drop("text")
        val ldBest = greatest(LangDetect.Families.map(f =>
          LangDetect.score(col(s"ld_m_${f.code}"), col("ld_w"), f)): _*)
        val wMd5 = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
        val scored = sig
          .withColumn("exact_rep", col("doc_id") === min(col("doc_id")).over(wMd5))
          .join(labels.select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
          .withColumn("near_rep", col("label").isNull || col("label") === col("doc_id"))
          // quality: 10..100k tokens and >=1% stopword density (int math)
          .withColumn("quality_ok",
            col("n_tokens").between(10, 100000) &&
              col("n_stop") * 100 >= col("n_tokens"))
          .withColumn("lang_ok", ldBest >= 0 && ldBest % 16 === lit(15L))
          .withColumn("kept",
            col("quality_ok") && col("lang_ok") && col("exact_rep") && col("near_rep"))
        scored.select(col("doc_id"), col("n_tokens"), col("quality_ok"),
          col("lang_ok"), col("exact_rep"), col("near_rep"), col("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
              |edges AS (SELECT doc_a, doc_b FROM ${OracleMat.src("q84_pairs")}),
              |und AS (SELECT doc_a AS u, doc_b AS v FROM edges
              |        UNION ALL SELECT doc_b, doc_a FROM edges),
              |nodes AS (SELECT DISTINCT u FROM und),
              |reach(u, r) AS (
              |  SELECT u, u FROM nodes
              |  UNION
              |  SELECT reach.u, und.v FROM reach JOIN und ON reach.r = und.u),
              |cc AS (SELECT u AS doc_id, min(r) AS label FROM reach GROUP BY u),
              |sig AS (
              |  SELECT doc_id,
              |    len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
              |    ${TextQueries.sqlHitCount("text", TextQueries.StopWords)} AS n_stop,
              |    ${LangDetect.sqlWords("lower(text)")} AS ld_w,
              |    ${LangDetect.Families.map(f =>
                     s"${LangDetect.sqlMatches("lower(text)", f)} AS ld_m_${f.code}")
                     .mkString(",\n              |    ")},
              |    md5(text) AS h
              |  FROM documents),
              |ld AS (
              |  SELECT *, greatest(
              |    ${LangDetect.Families.map(f =>
                     LangDetect.sqlScore(s"ld_m_${f.code}", "ld_w", f))
                     .mkString(",\n              |    ")}) AS ld_best
              |  FROM sig),
              |scored AS (
              |  SELECT s.doc_id, s.n_tokens,
              |    s.n_tokens BETWEEN 10 AND 100000 AND s.n_stop * 100 >= s.n_tokens AS quality_ok,
              |    s.ld_best >= 0 AND s.ld_best % 16 = 15 AS lang_ok,
              |    s.doc_id = min(s.doc_id) OVER (PARTITION BY s.h) AS exact_rep,
              |    cc.label IS NULL OR cc.label = s.doc_id AS near_rep
              |  FROM ld s LEFT JOIN cc ON cc.doc_id = s.doc_id)
              |SELECT doc_id, n_tokens, quality_ok, lang_ok, exact_rep, near_rep,
              |       quality_ok AND lang_ok AND exact_rep AND near_rep AS kept
              |FROM scored ORDER BY doc_id""".stripMargin)),

    // --- exact n-gram Jaccard on a deterministic subset (SQL oracle) ------
    QuerySpec(
      "q22_ngram_jaccard",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"),
            array_distinct(shingles(tokens(col("text")), 3)).as("sh"))
        val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
          .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
          .withColumn("union_",
            size(col("sh_a")) + size(col("sh_b")) - col("inter"))
          .filter(col("inter") > 0)
          .select(col("doc_a"), col("doc_b"), col("inter"), col("union_"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH sub AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(
             |           generate_series(1, len(toks) - 2),
             |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
             |        FROM documents WHERE doc_id % 50 = 0))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       len(list_intersect(a.sh, b.sh)) AS inter,
             |       len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS union_
             |FROM sub a, sub b
             |WHERE a.doc_id < b.doc_id
             |  AND len(list_intersect(a.sh, b.sh)) > 0
             |ORDER BY doc_a, doc_b""".stripMargin))
  )
}
