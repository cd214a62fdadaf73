package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{FrontierEngine, SyntheticWeb}

/** Crawl-engine query pack — the frontier scheduler, politeness budgets,
  * robots gating, and the extraction kernel as driver-runnable queries.
  * The exactness oracle for ORDERING/seen-set semantics is the scalar BFS
  * reimplementation in CrawlSpec (engine order/seen-set/text equals it
  * byte-for-byte); the DuckDB oracle covers the driver-checkable layer:
  * engine outputs are materialized ([[OracleMat]]) and the downstream
  * rollups (per-round budgets, status counts, link-graph degree, word
  * recounts) plus the BFS depth-monotonicity invariant are recomputed in
  * SQL.
  */
object CrawlQueries {

  private val web = SyntheticWeb.Config(nHosts = 8, pagesPerHost = 32, megaFactor = 4)

  private def seeds(hosts: Int*) = hosts.map(h => SyntheticWeb.pageUrl(h, 0)).toList

  val specs: Seq[QuerySpec] = Seq(
    // full BFS crawl: emitted rows in exact crawl order (the ordering
    // contract itself is CrawlSpec's scalar-BFS oracle); the driver oracle
    // additionally re-asserts BFS depth-monotonicity via a per-depth
    // range-disjointness rollup (no global row window — depth count is
    // bounded, order_idx ranges must not interleave)
    QuerySpec(
      "q30_crawl_bfs",
      (s, _) => {
        val cfg = FrontierEngine.Config(maxDepth = 2, maxPages = 300,
          hostBudget = Int.MaxValue, web = web)
        val (fetched, _) = FrontierEngine.crawl(s, seeds(0, 1, 2, 3), cfg)
        val rows = OracleMat(s, "q30")( // few hundred rows over ~150 cached
          // partitions: one write task beats a per-partition file fan-out
          fetched.select("order_idx", "url", "depth", "round", "status", "title")
            .coalesce(1))
        val perDepth = rows.groupBy(col("depth"))
          .agg(count(lit(1)).as("n"),
            min(col("order_idx")).as("min_idx"),
            max(col("order_idx")).as("max_idx"),
            countDistinct(col("url")).as("n_urls"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("depth"))
        perDepth // depth cardinality is bounded (maxDepth), window is tiny
          .withColumn("bfs_disjoint",
            coalesce(col("min_idx") > lag(col("max_idx"), 1).over(w), lit(true)))
          .orderBy("depth")
      },
      Some(s"""WITH d AS (
              |  SELECT depth, count(*) AS n, min(order_idx) AS min_idx,
              |         max(order_idx) AS max_idx,
              |         count(DISTINCT url) AS n_urls
              |  FROM ${OracleMat.src("q30")} GROUP BY depth)
              |SELECT depth, n, min_idx, max_idx, n_urls,
              |       coalesce(min_idx > lag(max_idx, 1) OVER (ORDER BY depth), true)
              |         AS bfs_disjoint
              |FROM d ORDER BY depth""".stripMargin)),

    // politeness: budget 5/host/round — per-round-host fetch counts, and
    // the oracle re-asserts the budget cap arithmetic
    QuerySpec(
      "q31_crawl_polite",
      (s, _) => {
        val cfg = FrontierEngine.Config(maxDepth = 2, maxPages = 300,
          hostBudget = 5, web = web)
        val (fetched, _) = FrontierEngine.crawl(s, seeds(0, 1), cfg)
        val rows = OracleMat(s, "q31")(
          fetched.select("round", "host", "status", "url").coalesce(1))
        val agg = rows.groupBy(col("round"), col("host"))
          .agg(count(lit(1)).as("fetched"),
            sum(when(col("status") === "OK", 1).otherwise(0)).as("ok"),
            (count(lit(1)) <= 5).as("within_budget"))
        // HARD assert, not just a parity-checked column: both Spark and the
        // oracle would compute within_budget=false identically, so the
        // driver's hash compare alone could never catch a budget regression
        // — a violation must throw and fail the query outright
        val over = agg.filter(not(col("within_budget"))).count()
        require(over == 0, s"q31: $over (round,host) groups exceed hostBudget=5")
        agg.orderBy(col("round"), col("host"))
      },
      Some(s"""SELECT round, host, count(*) AS fetched,
              |       CAST(sum(CASE WHEN status = 'OK' THEN 1 ELSE 0 END) AS BIGINT) AS ok,
              |       count(*) <= 5 AS within_budget
              |FROM ${OracleMat.src("q31")}
              |GROUP BY round, host ORDER BY round, host""".stripMargin)),

    // the extraction kernel as a distributed per-row UDF over synthetic
    // pages; the oracle independently RECOUNTS words from the extracted
    // text (cross-engine verification of countWords, not a round-trip)
    QuerySpec(
      "q32_extract_kernel",
      (s, _) => {
        import s.implicits._
        val urls = (0 until 8).flatMap(h =>
          (0 until 24).map(p => SyntheticWeb.pageUrl(h, p)))
        val pages = s.createDataset(urls).toDF("url")
          .repartition(8)
          .withColumn("html", udf((u: String) => SyntheticWeb.fetch(web, u).html).apply(col("url")))
          .filter(length(col("html")) > 0)
        val extractUdf = udf { (html: String, url: String) =>
          val e = graft.core.Extract.extract(html, url, 0L,
            graft.core.Extract.Options(format = "text"))
          (e.title, e.author.getOrElse(""), e.content, e.wordCount)
        }
        val kernel = pages.withColumn("x", extractUdf(col("html"), col("url")))
          .select(col("url"), col("x._1").as("title"), col("x._2").as("author"),
            col("x._3").as("text"), col("x._4").as("word_count"))
        OracleMat(s, "q32")(kernel).orderBy(col("url"))
      },
      Some(s"""SELECT url, title, author, text,
              |       len(list_filter(regexp_split_to_array(text, '\\s+'),
              |           x -> x <> '')) AS word_count
              |FROM ${OracleMat.src("q32")} ORDER BY url""".stripMargin)),

    // link graph: edges from the extract stage → in-degree ranking,
    // recomputed by the oracle from the materialized edge table
    QuerySpec(
      "q33_link_graph",
      (s, _) => {
        import s.implicits._
        val urls = (0 until 8).flatMap(h =>
          (0 until 24).map(p => SyntheticWeb.pageUrl(h, p)))
        val edges = s.createDataset(urls)
          .repartition(8)
          .flatMap { u =>
            val fr = SyntheticWeb.fetch(web, u)
            if (fr.status == 200 && fr.contentType.contains("text/html") && fr.html.nonEmpty)
              SyntheticWeb.pageLinks(fr.html, u, sameHostOnly = false).map(dst => (u, dst))
            else Seq.empty
          }.toDF("src", "dst")
        OracleMat(s, "q33")(edges)
          .groupBy(col("dst")).agg(count(lit(1)).as("in_degree"),
            countDistinct(col("src")).as("n_sources"))
          .orderBy(col("in_degree").desc, col("dst").asc)
          .limit(50)
      },
      Some(s"""SELECT dst, count(*) AS in_degree,
              |       count(DISTINCT src) AS n_sources
              |FROM ${OracleMat.src("q33")}
              |GROUP BY dst ORDER BY in_degree DESC, dst ASC
              |LIMIT 50""".stripMargin)),

    // the markdown renderer (Turndown v7.2.1 port) as a distributed query;
    // per-page markdown is pinned byte-identical to the REAL reference
    // extractor by ReferenceGoldenSpec (golden_reference.tsv); the oracle
    // recomputes structural stats (atx-heading count, line count, length)
    // from the materialized markdown
    QuerySpec(
      "q77_markdown_kernel",
      (s, _) => {
        import s.implicits._
        val urls = (0 until 8).flatMap(h =>
          (0 until 24).map(p => SyntheticWeb.pageUrl(h, p)))
        val kernel = s.createDataset(urls).repartition(8).flatMap { u =>
          val fr = SyntheticWeb.fetch(web, u)
          if (fr.status == 200 && fr.contentType.contains("text/html") && fr.html.nonEmpty) {
            val e = graft.core.Extract.extract(fr.html, u, 0L,
              graft.core.Extract.Options(format = "markdown"))
            Some((u, e.content))
          } else None
        }.toDF("url", "markdown")
        OracleMat(s, "q77")(kernel)
          .withColumn("md_len", length(col("markdown")))
          .withColumn("n_atx_headings",
            size(regexp_extract_all(col("markdown"), lit("(?m)^#{1,6} "), lit(0))))
          .withColumn("n_lines", size(split(col("markdown"), "\n", -1)))
          .orderBy("url")
      },
      Some(s"""SELECT url, markdown, length(markdown) AS md_len,
              |       len(regexp_extract_all(markdown, '(?m)^#{1,6} ')) AS n_atx_headings,
              |       len(str_split(markdown, chr(10))) AS n_lines
              |FROM ${OracleMat.src("q77")} ORDER BY url""".stripMargin)),

    // validate_robots (server.ts:1971-2013 → robots.ts:78-105): per-(url,
    // user-agent) allowed/reason rows; reason strings and per-host rollup
    // recomputed by the oracle from the materialized decisions
    QuerySpec(
      "q83_validate_robots",
      (s, _) => {
        import s.implicits._
        val inputs = for {
          h <- 0 until 8; p <- 0 until 16
          ua <- Seq("graft-bot", "other-bot")
        } yield (SyntheticWeb.pageUrl(h, p), ua)
        val kernel = s.createDataset(inputs).repartition(8)
          .map { case (u, ua) =>
            val host = graft.core.UrlNorm.host(u).getOrElse("")
            val rules = graft.core.Robots.parse(SyntheticWeb.robotsTxt(
              SyntheticWeb.parseUrl(u).map(_._1).getOrElse(0)))
            (u, host, ua, graft.core.Robots.isAllowed(rules, u, ua))
          }.toDF("url", "host", "user_agent", "allowed")
        OracleMat(s, "q83")(kernel)
          .withColumn("reason",
            when(col("allowed"), "Allowed by robots.txt")
              .otherwise("Disallowed by robots.txt")) // robots.ts:95
          .groupBy(col("host"), col("user_agent"), col("reason"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("host"), col("user_agent"), col("reason"))
      },
      Some(s"""SELECT host, user_agent,
              |       CASE WHEN allowed THEN 'Allowed by robots.txt'
              |            ELSE 'Disallowed by robots.txt' END AS reason,
              |       count(*) AS n
              |FROM ${OracleMat.src("q83")}
              |GROUP BY host, user_agent, reason
              |ORDER BY host, user_agent, reason""".stripMargin)),

    // politeness DEFERRAL (deferSeconds > 0, reference fetch.ts:92-107
    // retry-seconds): budget-overflow rows are stamped next_fetch_time =
    // round + defer, so a saturated host's backlog re-ranks BEHIND
    // fresher same-priority work in later rounds. The re-rank semantics
    // themselves are CrawlSpec-pinned vs the scalar oracle; this driver
    // row runs the deferral path under the driver gate — the materialized
    // crawl order is hash-pinned, the oracle recomputes the rollup, and
    // the budget cap is a HARD require (a violation throws and fails the
    // driver gate — the parity column alone could never catch one, since
    // both sides would compute within_budget=false identically)
    QuerySpec(
      "q94_crawl_deferral",
      (s, _) => {
        val cfg = FrontierEngine.Config(maxDepth = 2, maxPages = 300,
          hostBudget = 5, web = web, deferSeconds = 3L)
        val (fetched, _) = FrontierEngine.crawl(s, seeds(0, 1), cfg)
        val rows = OracleMat(s, "q94")(
          fetched.select("round", "host", "depth", "url", "order_idx").coalesce(1))
        val agg = rows.groupBy(col("round"), col("host"))
          .agg(count(lit(1)).as("fetched"),
            min(col("order_idx")).as("min_idx"),
            max(col("order_idx")).as("max_idx"),
            min(col("depth")).as("min_depth"),
            max(col("depth")).as("max_depth"),
            (count(lit(1)) <= 5).as("within_budget"))
        val over = agg.filter(not(col("within_budget"))).count()
        require(over == 0, s"q94: $over (round,host) groups exceed hostBudget=5")
        agg.orderBy(col("round"), col("host"))
      },
      Some(s"""SELECT round, host, count(*) AS fetched,
              |       min(order_idx) AS min_idx, max(order_idx) AS max_idx,
              |       min(depth) AS min_depth, max(depth) AS max_depth,
              |       count(*) <= 5 AS within_budget
              |FROM ${OracleMat.src("q94")}
              |GROUP BY round, host ORDER BY round, host""".stripMargin)),

    // robots gate: per-status outcome counts over a crawl with denials
    QuerySpec(
      "q34_robots_gate",
      (s, _) => {
        val cfg = FrontierEngine.Config(maxDepth = 2, maxPages = 300,
          hostBudget = Int.MaxValue, web = web)
        val (fetched, _) = FrontierEngine.crawl(s, seeds(2, 7), cfg)
        val rows = OracleMat(s, "q34")(fetched.select("status", "host").coalesce(1))
        rows.groupBy(col("status")).agg(count(lit(1)).as("n"),
            countDistinct(col("host")).as("n_hosts"))
          .orderBy(col("status"))
      },
      Some(s"""SELECT status, count(*) AS n,
              |       count(DISTINCT host) AS n_hosts
              |FROM ${OracleMat.src("q34")}
              |GROUP BY status ORDER BY status""".stripMargin))
  )
}
