package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.htmltok.{HtmlTokenizer, TokenArena}

/** Link extraction (anchorHrefs / graft_extract_links) and the x21 host
  * link-graph query: href values must come from real tokenizer output
  * (script/comment bodies skipped), be entity-decoded, and aggregate to the
  * closed-form edge counts of the deterministic link corpus.
  */
class LinkGraphSpec extends AnyFunSuite {

  lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hrefs(html: String): Vector[String] =
    HtmlTokenizer.anchorHrefs(html.getBytes(StandardCharsets.UTF_8), new TokenArena())

  test("anchorHrefs: quoting styles, entity decode, whitespace strip") {
    assert(hrefs("""<a href="/a">x</a>""") == Vector("/a"))
    assert(hrefs("""<a href='/b'>x</a>""") == Vector("/b"))
    assert(hrefs("""<a href=/c>x</a>""") == Vector("/c"))
    assert(hrefs("""<a class="q" href="/d" id="z">x</a>""") == Vector("/d"))
    assert(hrefs("""<a href = "/e">x</a>""") == Vector("/e"))
    assert(hrefs("""<a href=" /f ">x</a>""") == Vector("/f"), "URL-spec ws strip")
    assert(hrefs("""<a href="/p?a=1&amp;b=2">x</a>""") == Vector("/p?a=1&b=2"))
    assert(hrefs("""<A HREF="/caps">x</A>""") == Vector("/caps"))
    assert(hrefs("""<a href="/1">x</a><p>t</p><a href="/2">y</a>""")
      == Vector("/1", "/2"))
  }

  test("anchorHrefs: script and comment bodies yield no phantom links") {
    assert(hrefs("""<script>var s='<a href="/evil">x</a>';</script>""").isEmpty)
    assert(hrefs("""<!-- <a href="/ghost">x</a> -->""").isEmpty)
    assert(hrefs("""<style>a{content:'<a href="/css">'}</style>""").isEmpty)
    // href on a non-anchor tag is not a link; area/link tags are out of scope
    assert(hrefs("""<link href="/style.css"><div href="/nope">x</div>""").isEmpty)
    // malformed: no value, empty value
    assert(hrefs("""<a href>x</a><a href="">y</a>""").isEmpty)
  }

  test("anchorTexts: inner markup, entities, nested stop, whitespace normalize") {
    def at(html: String) = HtmlTokenizer.anchorTexts(
      html.getBytes(StandardCharsets.UTF_8), new TokenArena())
    assert(at("""<a href="/a">hello world</a>""") == Vector(("/a", "hello world")))
    assert(at("""<a href="/b">bold <b>inner</b> tail</a>""")
      == Vector(("/b", "bold inner tail")))
    assert(at("""<a href="/c">caf&eacute; &amp; more</a>""")
      == Vector(("/c", "café & more")))
    assert(at("<a href=\"/d\">\n  spaced \t out\n</a>") == Vector(("/d", "spaced out")))
    // a second <a> implicitly terminates the first (no nested anchors)
    assert(at("""<a href="/e">one<a href="/f">two</a>""")
      == Vector(("/e", "one"), ("/f", "two")))
    // EOF-truncated anchor still yields its text so far
    assert(at("""<a href="/g">dangling""") == Vector(("/g", "dangling")))
    // rawtext bodies inside an anchor (emitted as Text tokens by the
    // tokenizer) must NOT leak into anchor text
    assert(at("""<a href="/h">hi<script>var q="x";</script> bye</a>""")
      == Vector(("/h", "hi bye")))
  }

  test("x22: anchor-text rows match the corpus definition") {
    val got = SparkEntry.queries("x22_anchor_text")(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = scala.collection.mutable.Map[(String, String), Long]()
    for (i <- 0 until 280) {
      val src = s"w${i % 5}.example.org"
      def add(t: String): Unit = want((src, t)) = want.getOrElse((src, t), 0L) + 1
      add("about"); add("next"); add("partner")
      if (i % 7 == 0) add("hub")
    }
    assert(got == want.toMap, s"got ${got.size} rows, want ${want.size}")
    assert(!got.keys.exists(_._2 == "phantom"), "script-body anchor text leaked")
  }

  test("x21: host-graph edge counts match the closed-form corpus definition") {
    val got = SparkEntry.queries("x21_link_graph")(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = scala.collection.mutable.Map[(String, String), Long]()
    for (i <- 0 until 280) {
      val src = s"w${i % 5}.example.org"
      def add(d: String): Unit = want((src, d)) = want.getOrElse((src, d), 0L) + 1
      add(src)                                   // relative /about
      add(s"w${(i + 1) % 5}.example.org")        // absolute next
      add(s"partner${i % 3}.example.net")        // protocol-relative
      if (i % 7 == 0) add("hub.example.org")     // hub
    }
    assert(got == want.toMap, s"got ${got.size} edges, want ${want.size}")
    assert(!got.keys.exists(_._2.contains("evil")), "script-body phantom leaked")
  }

  // ---- r5 review hardening ----

  test("link/meta surfaces honor the sniffed charset (non-UTF-8 pages)") {
    val arena = new TokenArena()
    // windows-1252 page: curly-quoted anchor text (0x93/0x94) and a é title
    val html1252 = ("<html><head><meta charset=\"windows-1252\">" +
      "<title>café</title></head>" +
      "<body><a href=\"/a\">“quoted”</a></body></html>")
      .getBytes("windows-1252")
    val pairs = HtmlTokenizer.anchorTexts(html1252, arena)
    assert(pairs == Vector("/a" -> "“quoted”"), pairs)
    val meta = HtmlTokenizer.headMeta(html1252, arena)
    assert(meta.title == "café", meta.title)
    // BOM'd UTF-16LE page: previously yielded ZERO links (raw tokenizer
    // cannot see tags through the interleaved NULs)
    val html16 = "\uFEFF<html><body><a href=\"/u\">utf sixteen</a></body></html>"
      .getBytes(StandardCharsets.UTF_16LE)
    val pairs16 = HtmlTokenizer.anchorTexts(html16, arena)
    assert(pairs16 == Vector("/u" -> "utf sixteen"), pairs16)
  }

  test("anchor text excludes skip subtrees (svg/noscript), like the DOM walk") {
    val arena = new TokenArena()
    val html = ("<a href=\"/home\"><svg viewBox=\"0 0 1 1\"><text>42</text></svg>" +
      "Home</a> <a href=\"/x\"><noscript>Enable JS</noscript>Go</a>")
      .getBytes("UTF-8")
    val pairs = HtmlTokenizer.anchorTexts(html, arena)
    assert(pairs == Vector("/home" -> "Home", "/x" -> "Go"), pairs)
  }

  test("self-closed svg/math roots do not swallow the text after them") {
    // HTML5 honors the slash on foreign-content roots only: '<svg .../>'
    // is an empty element, so "Home" is anchor and body text. (Unquoted,
    // '<svg class=icon/>' keeps the slash in the value "icon/" and opens
    // the svg, in browsers too — hence the quoted and spaced forms.)
    val arena = new TokenArena()
    for (svg <- Seq("<svg/>", "<svg class=\"icon\"/>", "<svg class=icon />",
        "<math/>")) {
      val pairs = HtmlTokenizer.anchorTexts(
        s"<a href=/x>${svg}Home</a>".getBytes(StandardCharsets.UTF_8), arena)
      assert(pairs == Vector("/x" -> "Home"), s"$svg: $pairs")
    }
    val page = ("<html><body><p>Back to the <svg class=\"icon\"/>Home page of " +
      "the archive, where every issue of the journal is listed by year.</p>" +
      "</body></html>").getBytes(StandardCharsets.UTF_8)
    val doc = graft.extract.Extractor.extract("https://e.org/", page)
    assert(doc.text.contains("Home page"), doc.text)
  }

  test("charset declared inside a comment does not hijack the document") {
    val arena = new TokenArena()
    val html = ("<html><head><!--[if lt IE 9]><meta charset=\"utf-16le\"><![endif]-->" +
      "<meta charset=\"utf-8\"></head><body><a href=\"/c\">ok</a></body></html>")
      .getBytes("UTF-8")
    assert(HtmlTokenizer.anchorTexts(html, arena) == Vector("/c" -> "ok"))
  }

  test("EOF-in-tag drops the partial tag and stays linear on '>'-free payloads") {
    val arena = new TokenArena()
    // partial tag at EOF emits nothing (browser rule), not leaked text:
    // the anchor text is exactly "text" — the dangling '<i xyz' vanishes
    val pairs = HtmlTokenizer.anchorTexts(
      "<a href=\"/p\">text<i xyz".getBytes("UTF-8"), arena)
    assert(pairs == Vector("/p" -> "text"), pairs)
    // hostile '>'-free payload: ~200k '<a' runs must tokenize in linear
    // time (the old one-byte retry rescanned to EOF per occurrence)
    val hostile = ("<a" * 200000).getBytes("UTF-8")
    val t0 = System.nanoTime()
    HtmlTokenizer.anchorHrefs(hostile, arena)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 5.0, s"hostile tokenize took $sec s")
  }
}
