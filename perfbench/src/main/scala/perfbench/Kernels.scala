package perfbench

import graft.core.{Extract, Html, Robots, UrlNorm}
import graft.engine.SyntheticWeb
import graft.tools.PageTools

/** Single-threaded replay of the per-page public calls a crawl task makes
  * (FrontierEngine's fetch+extract mapPartitions), plus the markdown and
  * PageTools kernels the pack's tool queries run per page. Each kernel is
  * timed `reps` times per page; the per-page median is averaged over pages. */
object Kernels {

  final case class Costs(pages: Int, fetchUs: Double, robotsUs: Double,
      parseUs: Double, extractTextUs: Double, pageLinksUs: Double,
      urlnormUsPerLink: Double, extractMarkdownUs: Double, pageToolsUs: Double,
      /** Kernel time one crawl task spends on an average fetched page:
        * fetch and robots on every page, extract and links on HTML pages. */
      crawlUsPerPage: Double) {
    def metrics: Map[String, Double] = Map(
      "engine.synthetic_fetch_us" -> fetchUs,
      "core.robots_check_us" -> robotsUs,
      "core.html_parse_us" -> parseUs,
      "core.extract_text_us" -> extractTextUs,
      "core.page_links_us" -> pageLinksUs,
      "core.urlnorm_us_per_link" -> urlnormUsPerLink,
      "core.extract_markdown_us" -> extractMarkdownUs,
      "tools.page_tools_us" -> pageToolsUs,
      "crawl_us_per_page" -> crawlUsPerPage)
  }

  private def timeUs(reps: Int)(f: => Any): Double = {
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
    }
    Stats.median(ts)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def sample(urls: Seq[String], n: Int, seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(urls.sorted).take(n)

  def replay(web: SyntheticWeb.Config, urls: Seq[String], reps: Int = 5): Costs = {
    val ua = web.userAgent
    val rows = urls.map { url =>
      val rules = Robots.parse(SyntheticWeb.parseUrl(url)
        .map(hp => SyntheticWeb.robotsTxt(hp._1)).getOrElse(""))
      val fetchUs = timeUs(reps)(SyntheticWeb.fetch(web, url))
      val robotsUs = timeUs(reps)(Robots.isAllowed(rules, url, ua))
      val fr = SyntheticWeb.fetch(web, url)
      val html =
        if (fr.status == 200 && fr.contentType.contains("text/html") &&
          fr.sizeBytes <= 5L * 1024 * 1024) Some(fr.html) else None
      val perHtml = html.map { h =>
        val doc = Html.parse(h)
        val text = Extract.extract(h, url, 0L, Extract.Options(format = "text")).content
        val base = UrlNorm.canonicalize(url).getOrElse(url)
        val hrefs = doc.select("a").flatMap(_.attr("href"))
        Seq(
          timeUs(reps)(Html.parse(h)),
          timeUs(reps)(Extract.extract(h, url, 0L, Extract.Options(format = "text"))),
          timeUs(reps)(SyntheticWeb.pageLinks(h, url, false)),
          if (hrefs.isEmpty) 0.0
          else timeUs(reps)(hrefs.foreach(UrlNorm.resolve(_, base))) / hrefs.size,
          timeUs(reps)(Extract.extract(h, url, 0L, Extract.Options(format = "markdown"))),
          timeUs(reps)(pageTools(h, doc, url, text)))
      }
      (fetchUs, robotsUs, perHtml)
    }
    val htmlRows = rows.flatMap(_._3)
    def col(i: Int) = mean(htmlRows.map(_(i)))
    Costs(rows.size, mean(rows.map(_._1)), mean(rows.map(_._2)),
      col(0), col(1), col(2), col(3), col(4), col(5),
      mean(rows.map { case (f, r, h) => f + r + h.map(x => x(1) + x(2)).getOrElse(0.0) }))
  }

  /** The PageTools suite on one parsed page (the per-page tools the pack's
    * tool, report and compliance queries call). */
  def pageTools(html: String, doc: Html.Doc, url: String, text: String): Unit = {
    PageTools.pageMetadata(doc)
    PageTools.extractLinks(doc, url)
    PageTools.extractImages(doc, url)
    PageTools.extractForms(doc)
    PageTools.extractTables(doc)
    PageTools.extractHeadings(doc)
    PageTools.extractContacts(doc)
    PageTools.extractEntities(text)
    PageTools.extractKeywords(text, maxKeywords = 5)
    PageTools.classify(text)
    PageTools.validateHtml(doc)
    PageTools.detectTracking(html, doc)
    PageTools.scanVulnerabilities(html, doc, url)
    PageTools.privacyChecklist(doc)
    PageTools.pageSpeed(html, doc)
    ()
  }
}
