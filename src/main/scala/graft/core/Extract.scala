package graft.core

import Html.{Doc, Element}

/** The per-row extraction kernel — scalar port of the reference's
  * readability-style pipeline (/root/reference/src/extract.ts). One pure
  * function `extract(html, url, clock, opts)`; the Spark UDF wraps exactly
  * this, and the golden fixtures pin its output byte-for-byte (the
  * `input_hint` invariant: byte-identical extracted text per url).
  *
  * Semantics ported (file:line of the reference):
  *  - title cascade + 'Untitled' fallback          extract.ts:52-76
  *  - author cascade                               extract.ts:81-104
  *  - main-content cascade, >100-char gate,
  *    largest-block fallback, body default         extract.ts:109-145
  *  - clutter removal + empty p/div removal        extract.ts:150-186
  *  - image/link option handling                   extract.ts:240-249
  *  - text / json / markdown renderers             extract.ts:252-270
  *  - maxLength truncation + marker                extract.ts:273-275
  *  - citation (clock injected, not wall clock)    extract.ts:191-202
  *  - word count                                   extract.ts:207-209
  */
object Extract {

  final case class Options(
      format: String = "markdown", // markdown | text | json
      includeImages: Boolean = true,
      includeLinks: Boolean = true,
      maxLength: Int = 5 * 1024 * 1024) // config.maxSize default (config.ts:57)

  final case class Extracted(
      title: String,
      author: Option[String],
      content: String,
      url: String,
      timestampMs: Long,
      wordCount: Int,
      citation: String)

  private val TitleSelectors = Seq(
    "h1", "title", "[property=\"og:title\"]", "[name=\"twitter:title\"]",
    ".title", ".headline", "header h1", "article h1")

  private val AuthorSelectors = Seq(
    "[rel=\"author\"]", "[property=\"article:author\"]", "[name=\"author\"]",
    "[name=\"twitter:creator\"]", ".author", ".byline", ".writer",
    "[itemprop=\"author\"]")

  private val ContentSelectors = Seq(
    "main", "article", "[role=\"main\"]", ".content", ".post-content",
    ".entry-content", ".article-content", ".story-body", "#content",
    "#main-content")

  private val UnwantedSelectors = Seq(
    "script", "style", "noscript", "iframe", "embed", "object",
    ".advertisement", ".ads", ".social-share", ".comments", ".sidebar",
    ".footer", ".header", ".navigation", ".nav", ".menu",
    "[class*=\"ad-\"]", "[id*=\"ad-\"]", "[class*=\"social\"]",
    "[class*=\"share\"]")

  def extractTitle(doc: Doc): String = {
    TitleSelectors.foreach { sel =>
      doc.first(sel).foreach { el =>
        val t = el.attr("content").getOrElse(el.text())
        if (t != null && t.trim.nonEmpty) return t.trim
      }
    }
    "Untitled"
  }

  def extractAuthor(doc: Doc): Option[String] = {
    AuthorSelectors.foreach { sel =>
      doc.first(sel).foreach { el =>
        val a = el.attr("content").getOrElse(el.text())
        if (a != null && a.trim.nonEmpty) return Some(a.trim)
      }
    }
    None
  }

  def extractMainContent(doc: Doc): Element = {
    ContentSelectors.foreach { sel =>
      doc.first(sel) match {
        case Some(el) if el.text().trim.length > 100 => return el
        case _ =>
      }
    }
    // fallback: the div/section/article with the longest text (>100 chars)
    var best: Element = doc.body
    var maxLen = 0
    doc.select("div, section, article").foreach { el =>
      val len = el.text().trim.length
      if (len > maxLen && len > 100) { maxLen = len; best = el }
    }
    best
  }

  def cleanContent(doc: Doc, content: Element): Unit = {
    UnwantedSelectors.foreach { sel =>
      Selector.select(content, sel).foreach(_.remove())
    }
    // remove empty p/div (text empty AND no child elements)
    Selector.select(content, "p, div").foreach { el =>
      if (!el.removed && el.text().trim.isEmpty && el.childElements.isEmpty)
        el.remove()
    }
  }

  def generateCitation(title: String, url: String, author: Option[String],
      clockMs: Long): String = {
    val date = java.time.Instant.ofEpochMilli(clockMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString // YYYY-MM-DD
    val by = author.map(a => s" by $a").getOrElse("")
    s"**$title**$by\n*Source: [$url]($url)*\n*Fetched: $date*\n"
  }

  // JS /\s/ exactly (extract.ts:207-209 splits on /\s+/): Java's \s is
  // ASCII-only, JS's additionally matches the Unicode space set. One table
  // of inclusive BMP ranges; the regex class and the per-char test below
  // are both derived from it, so &nbsp;-separated words count as the
  // reference counts them.
  private val JsWhitespaceRanges: Seq[(Int, Int)] = Seq(
    0x0009 -> 0x000D, // \t \n VT \f \r (Java \s minus space)
    0x0020 -> 0x0020, 0x00A0 -> 0x00A0, 0x1680 -> 0x1680,
    0x2000 -> 0x200A, 0x2028 -> 0x2029, 0x202F -> 0x202F,
    0x205F -> 0x205F, 0x3000 -> 0x3000, 0xFEFF -> 0xFEFF)

  // precompiled: the collapse runs once per page in every extract call
  private[core] val JsWhitespaceRe = java.util.regex.Pattern.compile(
    JsWhitespaceRanges.map { case (lo, hi) => f"\\u$lo%04X-\\u$hi%04X" }
      .mkString("[", "", "]+"))
  private val SentenceRe = java.util.regex.Pattern.compile("[.!?]+")

  // member bitset over the BMP: one array load per char on the hot path
  private val JsWhitespaceBits: Array[Long] = {
    val bits = new Array[Long](1024)
    for ((lo, hi) <- JsWhitespaceRanges; x <- lo to hi) bits(x >>> 6) |= 1L << x
    bits
  }

  private[core] def isJsWs(c: Char): Boolean =
    ((JsWhitespaceBits(c >>> 6) >>> c) & 1L) != 0

  // split(class+) + count(nonEmpty) ≡ number of maximal non-class runs —
  // counted with one scan, no token-array allocation (this runs once per
  // page in every extract call)
  def countWords(text: String): Int = {
    var count = 0
    var inWord = false
    var i = 0
    val n = text.length
    while (i < n) {
      if (isJsWs(text.charAt(i))) inWord = false
      else if (!inWord) { count += 1; inWord = true }
      i += 1
    }
    count
  }

  /** Full pipeline; `clockMs` replaces the reference's `Date.now()` so
    * output is replayable (FIXTURES.md §5). */
  def extract(html: String, url: String, clockMs: Long,
      opts: Options = Options()): Extracted = {
    val doc = Html.parse(html)
    val title = extractTitle(doc)
    val author = extractAuthor(doc)
    val main = extractMainContent(doc)
    cleanContent(doc, main)

    if (!opts.includeImages)
      Selector.select(main, "img").foreach(_.remove())
    if (!opts.includeLinks)
      Selector.select(main, "a").foreach(el => el.replaceWithText(el.text()))

    var content = opts.format match {
      case "text" => main.text().trim
      case "json" =>
        jsonObj(Seq(
          "title" -> Some(jsonStr(title)),
          "author" -> author.map(jsonStr),
          "content" -> Some(jsonStr(main.text().trim))))
      case _ => Markdown.render(main)
    }
    if (opts.maxLength > 0 && content.length > opts.maxLength)
      content = content.substring(0, opts.maxLength) + "\n\n*[Content truncated]*"

    Extracted(
      title = title,
      author = author,
      content = content,
      url = url,
      timestampMs = clockMs,
      wordCount = countWords(content),
      citation = generateCitation(title, url, author, clockMs))
  }

  /** Variant of extract_text_only (/root/reference/src/server.ts:3783-3831):
    * remove script/style/nav/header/footer/aside from the whole document,
    * then body text, optional whitespace collapse. The reference trims
    * ONLY inside the removeWhitespace branch (:3811-3813) — the raw form
    * keeps its leading/trailing whitespace verbatim — and falls back
    * `$('body').text() || $.text()` (:3810): a document whose body text is
    * falsy-empty yields the WHOLE document's text (e.g. the title). */
  def extractTextOnly(html: String, collapseWs: Boolean): String = {
    val doc = Html.parse(html)
    Selector.select(doc.root, "script, style, nav, header, footer, aside")
      .foreach(_.remove())
    val bodyText = doc.body.text()
    val t = if (bodyText.isEmpty) doc.root.text() else bodyText
    // JS /\s+/g is the Unicode class (JsWhitespaceRe), not Java's ASCII \s;
    // after the collapse every run is a single ASCII space, so Java trim
    // ≡ JS trim on the result
    if (collapseWs) JsWhitespaceRe.matcher(t).replaceAll(" ").trim else t
  }

  // minimal JSON rendering (stable field order, matching extract.ts:259-264)
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonObj(fields: Seq[(String, Option[String])]): String =
    fields.collect { case (k, Some(v)) => s"  ${jsonStr(k)}: $v" }
      .mkString("{\n", ",\n", "\n}")

  /** summarizeContent (/root/reference/src/extract.ts:294-340). */
  def summarize(content: String, maxLength: Int = 500,
      bullets: Boolean = false): String = {
    val sentences = SentenceRe.split(content).map(_.trim).filter(_.length > 20)
    if (sentences.isEmpty) return "No content to summarize."
    val n = sentences.length
    val scored = sentences.zipWithIndex.map { case (s, i) =>
      (s, s.length * (1.0 - i.toDouble / n * 0.5))
    }
    // stable sort by score desc (JS Array.sort with comparator is stable
    // for modern V8; ties keep original order)
    val sorted = scored.sortBy { case (_, score) => -score }
    val selected = scala.collection.mutable.ArrayBuffer[String]()
    var len = 0
    var stop = false
    sorted.foreach { case (s, _) =>
      if (!stop) {
        if (len + s.length > maxLength) stop = true
        else { selected += s; len += s.length }
      }
    }
    val summary =
      if (bullets) selected.map(s => s"• ${s.trim}").mkString("\n")
      else {
        val j = selected.mkString(". ").trim
        if (j.nonEmpty && !j.endsWith(".")) j + "." else j
      }
    if (summary.nonEmpty) summary else "Unable to generate summary."
  }
}
