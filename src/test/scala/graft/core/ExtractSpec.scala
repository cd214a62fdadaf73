package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ExtractSpec extends AnyFunSuite {

  private val Clock = 1700000000000L // 2023-11-14 UTC, injected (FIXTURES.md §5)

  private def body(content: String): String =
    s"<html><head><title>Fallback Title</title></head><body>$content</body></html>"

  test("title cascade: h1 wins over title tag (extract.ts:54-63)") {
    val html = body("<h1>Main Heading</h1><main>" + ("x " * 80) + "</main>")
    assert(Extract.extract(html, "http://a.com/", Clock).title == "Main Heading")
  }

  test("title cascade: falls back to title tag, then og:title, then Untitled") {
    val noH1 = body("<main>" + ("x " * 80) + "</main>")
    assert(Extract.extract(noH1, "http://a.com/", Clock).title == "Fallback Title")
    val og = "<html><head><meta property=\"og:title\" content=\"OG Title\"/></head><body><main>" +
      ("x " * 80) + "</main></body></html>"
    assert(Extract.extract(og, "http://a.com/", Clock).title == "OG Title")
    val nothing = "<html><body><main>" + ("x " * 80) + "</main></body></html>"
    assert(Extract.extract(nothing, "http://a.com/", Clock).title == "Untitled")
  }

  test("attr content wins over element text in cascades (extract.ts:68)") {
    val html = "<html><body><h1>Text H1</h1><meta name=\"author\" content=\"Meta Author\"/>" +
      "<main>" + ("x " * 80) + "</main></body></html>"
    assert(Extract.extract(html, "http://a.com/", Clock).author.contains("Meta Author"))
  }

  test("author cascade order: rel=author first (extract.ts:83-90)") {
    val html = body("<a rel=\"author\">Rel Author</a><span class=\"byline\">By Line</span>" +
      "<main>" + ("x " * 80) + "</main>")
    assert(Extract.extract(html, "http://a.com/", Clock).author.contains("Rel Author"))
  }

  test("no author -> None") {
    val html = body("<main>" + ("x " * 80) + "</main>")
    assert(Extract.extract(html, "http://a.com/", Clock).author.isEmpty)
  }

  test("main-content cascade: main wins when >100 chars (extract.ts:124-129)") {
    val long = "word " * 30
    val html = body(s"<div>${"short"}</div><main>$long</main>")
    val r = Extract.extract(html, "http://a.com/", Clock, Extract.Options(format = "text"))
    assert(r.content == long.trim)
  }

  test("main below 100 chars falls through to largest block (extract.ts:132-144)") {
    val big = "big block content " * 10
    val html = body(s"<main>tiny</main><div>$big</div>")
    val r = Extract.extract(html, "http://a.com/", Clock, Extract.Options(format = "text"))
    assert(r.content == big.trim)
  }

  test("everything short -> body fallback") {
    val html = body("<div>a</div><p>b</p>")
    val r = Extract.extract(html, "http://a.com/", Clock, Extract.Options(format = "text"))
    assert(r.content == "ab")
  }

  test("cleanContent removes clutter (extract.ts:152-173)") {
    val long = "content " * 20
    val html = body(
      s"""<main><script>evil()</script><style>.x{}</style>
         |<div class="ads">AD</div><div class="sidebar">SB</div>
         |<div class="ad-top">AD2</div><div id="ad-bottom">AD3</div>
         |<div class="social-widget">SW</div><div class="share-row">SR</div>
         |<p>$long</p></main>""".stripMargin)
    val r = Extract.extract(html, "http://a.com/", Clock, Extract.Options(format = "text"))
    assert(!r.content.contains("evil"))
    assert(!r.content.contains("AD"))
    assert(!r.content.contains("SB"))
    assert(!r.content.contains("SW"))
    assert(!r.content.contains("SR"))
    assert(r.content.contains("content"))
  }

  test("empty p/div removed; p with children kept (extract.ts:180-185)") {
    val long = "content " * 20
    val html = body(s"<main><p>  </p><div></div><p>$long</p></main>")
    val doc = Html.parse(html)
    val main = Extract.extractMainContent(doc)
    Extract.cleanContent(doc, main)
    assert(Selector.select(main, "p").size == 1)
  }

  test("includeLinks=false replaces anchors with text (extract.ts:244-249)") {
    val long = "content " * 20
    val html = body(s"<main><p>$long go <a href='/x'>here</a></p></main>")
    val r = Extract.extract(html, "http://a.com/", Clock,
      Extract.Options(format = "markdown", includeLinks = false))
    assert(r.content.contains("go here"))
    assert(!r.content.contains("]("))
  }

  test("includeImages=false removes images (extract.ts:240-242)") {
    val long = "content " * 20
    val html = body(s"<main><p>$long</p><img src='/i.png' alt='pic'/></main>")
    val r = Extract.extract(html, "http://a.com/", Clock,
      Extract.Options(includeImages = false))
    assert(!r.content.contains("![pic]"))
  }

  test("truncation appends marker (extract.ts:273-275)") {
    val long = "word " * 200
    val html = body(s"<main>$long</main>")
    val r = Extract.extract(html, "http://a.com/", Clock,
      Extract.Options(format = "text", maxLength = 50))
    assert(r.content.length == 50 + "\n\n*[Content truncated]*".length)
    assert(r.content.endsWith("*[Content truncated]*"))
  }

  test("citation format with injected clock (extract.ts:191-202)") {
    val html = body("<h1>T</h1><main>" + ("x " * 80) + "</main>")
    val r = Extract.extract(html, "http://a.com/p", Clock)
    assert(r.citation ==
      "**T**\n*Source: [http://a.com/p](http://a.com/p)*\n*Fetched: 2023-11-14*\n")
    val r2 = Extract.extract(body("<h1>T</h1><a rel=\"author\">A</a><main>" + ("x " * 80) + "</main>"),
      "http://a.com/p", Clock)
    assert(r2.citation.startsWith("**T** by A\n"))
  }

  test("wordCount counts non-empty whitespace-split tokens (extract.ts:207-209)") {
    assert(Extract.countWords("  a  b\tc\nd  ") == 4)
    assert(Extract.countWords("") == 0)
  }

  test("isJsWs agrees with the JS whitespace regex class on every BMP char") {
    val disagree = (0 to 0xFFFF).map(_.toChar).filter { c =>
      Extract.isJsWs(c) != Extract.JsWhitespaceRe.matcher(c.toString).matches()
    }
    assert(disagree.isEmpty, disagree.take(8).map(c => f"U+${c.toInt}%04X"))
    assert((0 to 0xFFFF).count(x => Extract.isJsWs(x.toChar)) == 25)
  }

  test("determinism: same input -> byte-identical output") {
    val html = body("<h1>T</h1><main><p>" + ("deterministic " * 20) + "</p></main>")
    val a = Extract.extract(html, "http://a.com/", Clock)
    val b = Extract.extract(html, "http://a.com/", Clock)
    assert(a == b)
  }

  test("extractTextOnly removes nav/header/footer/aside (server.ts:3783-3831)") {
    val html = body("<nav>N</nav><header>H</header><p>keep</p><footer>F</footer><aside>A</aside>")
    assert(Extract.extractTextOnly(html, collapseWs = true) == "keep")
  }

  test("extractTextOnly raw form is NOT trimmed (server.ts:3805-3813)") {
    // the reference trims only inside the removeWhitespace branch: the raw
    // $('body').text() keeps its surrounding whitespace verbatim
    val html = body(" <p>a</p> <p>b</p> ")
    val raw = Extract.extractTextOnly(html, collapseWs = false)
    assert(raw != raw.trim, s"raw text was trimmed: [$raw]")
    assert(Extract.extractTextOnly(html, collapseWs = true) == "a b")
    // JS /\s+/ is the Unicode class: &nbsp; collapses too
    val nb = body("<p>x  y</p>")
    assert(Extract.extractTextOnly(nb, collapseWs = true) == "x y")
  }

  test("extractTextOnly falls back to whole-document text when body text is empty (server.ts:3810)") {
    // the reference reads `$('body').text() || $.text()` — a falsy-empty
    // body yields the WHOLE document's text, which includes <title>
    val html = "<html><head><title>Only Title</title></head><body></body></html>"
    assert(Extract.extractTextOnly(html, collapseWs = true) == "Only Title")
    // non-empty body never takes the fallback (title text stays excluded)
    val withBody = "<html><head><title>T</title></head><body><p>b</p></body></html>"
    assert(Extract.extractTextOnly(withBody, collapseWs = true) == "b")
    // JS falsy is exactly '': a whitespace-only body is truthy, no fallback
    // (cheerio-verified: collapsed form is "", not the title)
    val wsBody = "<html><head><title>T2</title></head><body>   </body></html>"
    assert(Extract.extractTextOnly(wsBody, collapseWs = false) == "   ")
    assert(Extract.extractTextOnly(wsBody, collapseWs = true) == "")
  }

  test("summarize: greedy top-scored sentences (extract.ts:294-340)") {
    val text = "This is the first long sentence of the content. " +
      "Second sentence is also fairly long indeed. Short one. " +
      "The third long sentence arrives here with many words in it."
    val s = Extract.summarize(text, 500)
    assert(s.nonEmpty && s.endsWith("."))
    assert(Extract.summarize("", 500) == "No content to summarize.")
    val bullets = Extract.summarize(text, 500, bullets = true)
    assert(bullets.startsWith("• "))
  }
}
