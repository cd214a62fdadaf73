package perfbench

/** Per-layer metrics of a traced run. Every metric is printed for every
  * workload; one that does not apply to a workload (dedup counters on a
  * crawl, say) reads 0. */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "crawl_pages_per_s" -> "pages/s",
    "dedup_docs_per_s" -> "docs/s",
    "pack_total_s" -> "s",
    "query_p50_s" -> "s",
    "query_max_s" -> "s",
    "failed_share" -> "share",
    "engine.synthetic_fetch_us" -> "us",
    "core.robots_check_us" -> "us",
    "core.html_parse_us" -> "us",
    "core.extract_text_us" -> "us",
    "core.page_links_us" -> "us",
    "core.urlnorm_us_per_link" -> "us",
    "core.kernel_share" -> "share",
    "core.extract_markdown_us" -> "us",
    "tools.page_tools_us" -> "us",
    "engine.rounds" -> "count",
    "engine.jobs_per_round" -> "count",
    "engine.stages_per_round" -> "count",
    "engine.tasks_per_round" -> "count",
    "engine.shuffle_bytes_per_page" -> "B",
    "engine.exec_busy_share" -> "share",
    "engine.driver_idle_s" -> "s",
    "engine.output_bytes_per_page" -> "B",
    "engine.store_bytes_per_page" -> "B",
    "engine.resume_load_s" -> "s",
    "dedup.lsh_s" -> "s",
    "dedup.confirm_s" -> "s",
    "dedup.cc_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.confirmed_pairs" -> "count",
    "dedup.clusters" -> "count",
    "dedup.confirm_yield" -> "share",
    "dedup.max_bucket_docs" -> "count",
    "dedup.max_task_s" -> "s",
    "dedup.shuffle_bytes_per_doc" -> "B") ++
    PackSample.moduleNames.map(m => s"pack.${m}_s" -> "s") ++ Seq(
    "pack.jobs" -> "count",
    "pack.stages" -> "count",
    "pack.shuffle_bytes" -> "B",
    "pack.exec_busy_share" -> "share",
    "pack.driver_idle_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_share" -> "share")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics(wl: Workload, plain: Seq[Iter], traced: Seq[Iter], tracer: Tracer,
      probe: Map[String, Double], tally: Tally,
      peakRssMb: Double): Seq[(String, Double, String)] = {
    val m = scala.collection.mutable.Map[String, Double]() ++ probe
    val nTraced = traced.size.toDouble
    val tracedItems = traced.map(_.items).sum.toDouble
    def layer(k: String): Seq[Double] = traced.flatMap(_.layer.get(k))

    m("failed_share") = tally.failedShare
    m("jvm.gc_s") = med((plain ++ traced).map(_.gcS))
    m("jvm.peak_rss_mb") = peakRssMb
    m("trace.overhead_share") = ratio(med(traced.map(_.wallS)), med(plain.map(_.wallS))) - 1

    wl match {
      case _: CrawlWorkload =>
        m("crawl_pages_per_s") = med(plain.map(i => ratio(i.items, i.wallS)))
        val isCrawl: Span => Boolean = _.name.startsWith("engine.crawl")
        val st = tracer.stats(tracer.groupsUnder(isCrawl))
        val wallMs = tracer.allSpans.filter(isCrawl).map(s => (s.endMs - s.startMs).toDouble).sum
        val rounds = layer("rounds").sum
        m("engine.rounds") = med(layer("rounds"))
        m("engine.jobs_per_round") = ratio(st.jobs, rounds)
        m("engine.stages_per_round") = ratio(st.stages, rounds)
        m("engine.tasks_per_round") = ratio(st.tasks, rounds)
        m("engine.shuffle_bytes_per_page") = ratio(st.shuffleWrite, tracedItems)
        m("engine.exec_busy_share") = ratio(st.busyMs, wallMs * Main.Cores)
        m("engine.driver_idle_s") = (wallMs - st.coveredMs) / 1e3 / nTraced
        m("engine.output_bytes_per_page") = ratio(st.output, tracedItems)
        m("engine.store_bytes_per_page") = ratio(layer("store_bytes").sum, tracedItems)
        m("engine.resume_load_s") = med(layer("resume_load_s"))
        m("core.kernel_share") =
          ratio(tracedItems * probe.getOrElse("crawl_us_per_page", 0.0), st.taskRunMs * 1e3)
      case d: DedupWorkload =>
        m("dedup_docs_per_s") = med(plain.map(i => ratio(i.items, i.wallS)))
        val st = tracer.stats(tracer.groupsUnder(_.name.startsWith("dedup.")))
        Seq("lsh_s", "confirm_s", "cc_s", "candidate_pairs", "confirmed_pairs", "clusters")
          .foreach(k => m(s"dedup.$k") = med(layer(k)))
        m("dedup.confirm_yield") = ratio(m("dedup.confirmed_pairs"), m("dedup.candidate_pairs"))
        m("dedup.max_bucket_docs") = d.maxBucketDocs
        m("dedup.max_task_s") = st.maxTaskMs / 1e3
        m("dedup.shuffle_bytes_per_doc") = ratio(st.shuffleWrite, tracedItems)
    }
    Units.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
