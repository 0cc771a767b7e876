package graft

import org.apache.spark.sql.functions._
import graft.functions.HtmlToText

/** The HTML→text kernel: hand-written fixtures pin every tokenizer
  * rule independently of the synthetic-HTML oracle query. */
class HtmlToTextSpec extends SparkSpec {
  import spark.implicits._

  private def x(html: String): String = HtmlToText.extract(html)

  test("block tags break lines, inline tags vanish, cells space") {
    assert(x("<p>one</p><p>two</p>") == "one\ntwo")
    assert(x("a<b>b</b>c") == "abc")
    assert(x("line one<br>line two") == "line one\nline two")
    assert(x("<tr><td>a</td><td>b</td></tr>") == "a b")
    assert(x("<h1>Title</h1>body") == "Title\nbody")
  }

  test("script/style are rawtext: content dropped, even fake tags") {
    assert(x("a<script>var x = '<b>not text</b>';</script>b") == "ab")
    assert(x("a<style>p { color: red; }</style>b") == "ab")
    assert(x("a<SCRIPT TYPE='text/javascript'>if (1 < 2) {}</ScRiPt>b")
      == "ab")
    // unclosed rawtext swallows the rest (HTML5 eof-in-script)
    assert(x("a<script>forever") == "a")
  }

  test("comments, doctype, CDATA, and processing instructions drop") {
    assert(x("a<!-- c <p>x</p> -->b") == "ab")
    assert(x("<!DOCTYPE html>a") == "a")
    assert(x("a<![CDATA[ <p>hidden</p> ]]>b") == "ab")
    assert(x("a<?xml version='1.0'?>b") == "ab")
    assert(x("a<!-- unterminated") == "a")
  }

  test("quoted '>' in attributes does not end the tag") {
    assert(x("""a<a href="x>y" title='p>q'>link</a>b""") == "alinkb")
  }

  test("a '<' not starting a tag is literal text") {
    assert(x("1 < 2 and 2 <3 and <3") == "1 < 2 and 2 <3 and <3")
    assert(x("trailing <") == "trailing <")
  }

  test("entities decode once, left to right, after tag removal") {
    assert(x("&amp; &lt;p&gt; &quot;q&quot; &apos;a&apos;")
      == "& <p> \"q\" 'a'")
    assert(x("&amp;lt;") == "&lt;")            // no double decode
    assert(x("&lt;script&gt;x&lt;/script&gt;") == "<script>x</script>")
    assert(x("&#169;&#x2014;") == "©—")
    assert(x("&nbsp;x") == "\u00A0x")          // NBSP is content
    assert(x("&bogus; &toolongtodecode1234; & x") ==
      "&bogus; &toolongtodecode1234; & x")
    assert(x("&#xZZ; &#; &#999999999;") == "&#xZZ; &#; &#999999999;")
  }

  test("whitespace: collapse runs per line, drop empty lines, trim") {
    assert(x("<p>  a\t\tb  </p>\n\n<p>c</p>") == "a b\nc")
    assert(x("<div></div><div>  </div><div>x</div>") == "x")
    assert(x("a  \f \r b") == "a b")
    assert(x("a \u00A0 b") == "a \u00A0 b")    // U+00A0 not collapsed
    assert(x("") == "")
    assert(x("<p></p>") == "")
  }

  test("full page: head/title kept, chrome stripped in order") {
    val page =
      """<!DOCTYPE html><html><head><title>My&nbsp;Page</title>
        |<style>body { margin: 0; }</style>
        |<script>console.log("<p>");</script></head>
        |<body><!-- nav --><h1>Hello &amp; welcome</h1>
        |<p>First   paragraph.</p>
        |<ul><li>one</li><li>two</li></ul>
        |</body></html>""".stripMargin
    assert(x(page) ==
      "My Page\nHello & welcome\nFirst paragraph.\none\ntwo")
  }

  test("expression: codegen and interpreted agree; null propagates") {
    val df = Seq(
      Some("<p>a &amp; b</p><script>x</script>c"),
      Some(""), None).toDF("h")
    val got = df.select(HtmlToText(col("h")).as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("a & b\nc"), Some(""), None))
    // interpreted path (no codegen) must match
    val interp = graft.functions.KernelCall(HtmlToText,
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "<p>a &amp; b</p><script>x</script>c"))), Nil)
      .eval(null).toString
    assert(interp == "a & b\nc")
  }

  test("HtmlLinks: attribute grammar, decoys, entity decode in hrefs") {
    import graft.functions.HtmlLinks
    def l(h: String): Seq[String] = HtmlLinks.links(h)
    // the three quoting forms, attribute order, boolean attrs before
    assert(l("""<a href="/a">x</a> <a href='/b'>y</a> <A HREF=/c>z</A>""")
      == Seq("/a", "/b", "/c"))
    assert(l("""<a download data-x="1" href = "/late">x</a>""")
      == Seq("/late"))
    // entity decode INSIDE the value; quoted '>' in a sibling attr
    assert(l("""<a title="a > b" href="/q?x=1&amp;y=2">t</a>""")
      == Seq("/q?x=1&y=2"))
    // decoys never leak: script rawtext, comments, closing tags,
    // href on a non-anchor tag, anchor without href
    assert(l("<script>var a = \"<a href='/s'>x</a>\";</script>" +
      "<!-- <a href=/c>c</a> --><link href=/l><a name=n>plain</a>")
      == Seq.empty)
    // document order across nesting; unterminated tag at EOF is safe
    assert(l("""<div><a href="/1">one</a><p><a href="/2">two""")
      == Seq("/1", "/2"))
    assert(l("""<a href="/ok">x</a><a href="/torn""") == Seq("/ok"))
    // expression: codegen path + null propagation
    val df = Seq(Some("""<a href="/a">x</a>"""), None).toDF("h")
    val got = df.select(HtmlLinks(col("h")).as("l")).collect()
    assert(got(0).getSeq[String](0) == Seq("/a"))
    assert(got(1).isNullAt(0))
  }

  test("HtmlAnchors: anchor text with inner-tag strip, ws collapse, " +
      "entity decode, implicit close, rawtext/comment/href-less decoys") {
    import graft.functions.HtmlAnchors
    def a(h: String): Seq[(String, String)] = HtmlAnchors.anchors(h)
    // inner tags removed, newline + runs collapse, ends trimmed
    assert(a("<a href=\"/p\"> first <b>bold</b>\n  link </a>")
      == Seq("/p" -> "first bold link"))
    // entity decode in BOTH href and text; NBSP survives
    assert(a("<a href='/q?x=1&amp;y=2'>D&amp;D&nbsp;guide</a>")
      == Seq("/q?x=1&y=2" -> "D&D guide"))
    // structural tags inside an anchor become a space
    assert(a("<a href=/s>one<br>two<p>three</a>")
      == Seq("/s" -> "one two three"))
    // a new <a> implicitly closes a dangling one; EOF closes the last
    assert(a("<a href=\"/1\">one <a href=\"/2\">two till eof")
      == Seq("/1" -> "one", "/2" -> "two till eof"))
    // decoys: script rawtext + comment anchors vanish, href-less <a>
    // text is NOT attributed to anyone
    assert(a("<script>var s = \"<a href='/d'>x</a>\";</script>" +
      "<a name=x>plain</a><!-- <a href=/c>c</a> -->" +
      "<a href=\"/real\">ok</a>") == Seq("/real" -> "ok"))
    // text before any anchor and between anchors never leaks in
    assert(a("lead <a href=/a>mid</a> tail") == Seq("/a" -> "mid"))
    // literal '<' inside anchor text ("<3" is text, the shared rule)
    assert(a("<a href=/h>i <3 scala</a>") == Seq("/h" -> "i <3 scala"))
    // expression: codegen + null propagation + struct shape
    val df = Seq(Some("<a href=\"/a\">x <b>y</b></a>"), None).toDF("h")
    val got = df.select(HtmlAnchors(col("h")).as("a")).collect()
    val row = got(0).getSeq[org.apache.spark.sql.Row](0)
    assert(row.map(r => (r.getString(0), r.getString(1)))
      == Seq(("/a", "x y")))
    assert(got(1).isNullAt(0))
  }

  test("HtmlMainText: boilerplate blocks drop by length and link " +
      "density; content survives with entities decoded") {
    import graft.functions.HtmlMainText
    def m(h: String, minChars: Int = 25, permille: Int = 300): String =
      HtmlMainText.extract(h, minChars, permille)
    val page =
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a>" +
        " <a href=\"/contact\">Contact</a></nav>" +
        "<p>This paragraph carries the actual article prose &amp; " +
        "survives the density filter easily.</p>" +
        "<div><a href=\"/t1\">one</a> <a href=\"/t2\">two</a> " +
        "<a href=\"/t3\">three</a> <a href=\"/t4\">four</a> related " +
        "links</div>" +
        "<p>A second content paragraph long enough to keep on its " +
        "own merits.</p>" +
        "<footer>&#169; 2026</footer>"
    assert(m(page) ==
      "This paragraph carries the actual article prose & survives " +
        "the density filter easily.\n" +
        "A second content paragraph long enough to keep on its own " +
        "merits.")
    // the density boundary is ≤ (per-mille, integer-exact): anchor
    // 10 chars of 40 = 250‰ keeps at 250, drops at 249
    val edge = "<p>" + "x" * 30 + "<a href=/l>" + "y" * 10 + "</a></p>"
    assert(m(edge, 10, 250) == "x" * 30 + "y" * 10)
    assert(m(edge, 10, 249) == "")
    // minChars is ≥: a 20-char block keeps at 20, drops at 21
    val short = "<p>" + "z" * 20 + "</p>"
    assert(m(short, 20, 0) == "z" * 20)
    assert(m(short, 21, 0) == "")
    // nested anchors track depth; a stray </a> floors at zero and
    // later text counts as plain again
    val nested = "<p></a>" + "w" * 30 + "<a><a>link</a>text</a>tail</p>"
    // anchor "linktext" = 8 of 42 chars = 190‰: drops at 150, keeps
    // at 200 (text inside the OUTER anchor still counts as anchor)
    assert(m(nested, 10, 150) == "")
    assert(m(nested, 10, 200) == "w" * 30 + "linktexttail")
    assert(m("<p></a>" + "w" * 30 + "<a><a>li</a>nk</a>tail</p>",
      10, 120) == "w" * 30 + "linktail") // 4/38 = 105‰ ≤ 120
    // self-closing <a/> opens nothing (ADVICE r12): the text after it
    // is plain, not anchor
    assert(m("<p><a/>" + "v" * 30 + "</p>", 10, 0) == "v" * 30)
    assert(m("<p><a href=\"/x\"/>" + "v" * 30 + "</p>", 10, 0)
      == "v" * 30)
    // an UNTERMINATED <a> is confined to its block: the next block's
    // prose must survive a zero-link-density gate (before the r13
    // floor-reset, one malformed anchor poisoned the whole document)
    assert(m("<p><a href=/x>dangling" + "q" * 20 + "</p>" +
      "<p>" + "r" * 30 + "</p>", 10, 0) == "r" * 30)
    // script/comment decoy anchors never count; td/th space is
    // structural (counts to text, not anchors)
    assert(m("<p><script>\"<a href=/d>spam</a>\"</script>" +
      "plain prose body over the bar</p>", 20, 0)
      == "plain prose body over the bar")
    // whole-page: nav/footer chrome out, blocks join in order
    val df2 = Seq(Some(page), None).toDF("h")
    val got2 = df2.select(HtmlMainText(col("h")).as("t")).collect()
    assert(got2(0).getString(0).startsWith("This paragraph"))
    assert(got2(1).isNullAt(0))
    // codegen ≡ interpreted
    val one = df2.filter(col("h").isNotNull)
    val cg = one.select(HtmlMainText(col("h"))).head.getString(0)
    val interp = one.select(HtmlMainText(col("h")))
      .filter(lit(true)).head.getString(0)
    assert(cg == interp && cg == m(page))
  }
}
