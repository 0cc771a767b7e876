package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_links(html)` — the `<a href>` targets of a page in document
  * order, as `array<string>`: the link-graph feeder between HTML
  * extraction ([[HtmlToText]]) and crawl prioritization
  * ([[graft.core.Graph.pageRank]]) / frontier discovery.
  *
  * Shares [[HtmlToText]]'s tokenizer contract (the same state-machine
  * conventions, NOT regex): comments/CDATA/doctype skipped, script and
  * style rawtext skipped per HTML5 (a decoy `<a href>` inside
  * JavaScript never leaks), quoted `>` inside attributes honored.
  * Attribute parsing: first case-insensitive `href` of each opening
  * `<a>` tag; double-quoted, single-quoted or unquoted values; value
  * entity-decoded (an `&amp;` in a URL is an `&` — the one place
  * entity decode applies INSIDE a tag). `<a>` without an href
  * contributes nothing. Null in → null out. Map-only, codegen'd. */
object HtmlLinks extends Kernel("html_links",
    Seq(StringType), ArrayType(StringType, containsNull = false)) {

  /** Java-facing entry (called from generated code). */
  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(
      links(s.toString).map(UTF8String.fromString).toArray[Any])

  /** href values of opening `<a>` tags, document order, entity-decoded. */
  def links(html: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = html.length
    while (i < n) {
      if (html.charAt(i) != '<') i += 1
      else if (html.startsWith("<!--", i)) {
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
        val end = html.indexOf("]]>", i + 9)
        i = if (end < 0) n else end + 3
      } else if (i + 1 < n &&
          (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
        val end = html.indexOf('>', i + 2)
        i = if (end < 0) n else end + 1
      } else {
        val closing = i + 1 < n && html.charAt(i + 1) == '/'
        val nameAt = if (closing) i + 2 else i + 1
        val name = HtmlToText.tagNameAt(html, nameAt)
        if (name == null) i += 1 // "<3" is text
        else {
          val end = HtmlToText.tagEnd(html, nameAt + name.length)
          if (end < 0) i = n
          else {
            if (!closing && name == "a")
              href(html, nameAt + name.length, end - 1)
                .foreach(v => out += HtmlToText.decodeEntities(v))
            i = end
            if (!closing && (name == "script" || name == "style")) {
              val close = HtmlToText.indexOfIgnoreCase(html, "</" + name, i)
              if (close < 0) i = n
              else {
                val e2 = html.indexOf('>', close)
                i = if (e2 < 0) n else e2 + 1
              }
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** First case-insensitive `href` value in the attribute region
    * [from, until): quoted or unquoted per the HTML attribute
    * grammar. Shared with [[HtmlAnchors]]. */
  private[functions] def href(
      s: String, from: Int, until: Int): Option[String] = {
    var i = from
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' ||
      c == '\f'
    while (i < until) {
      while (i < until && (ws(s.charAt(i)) || s.charAt(i) == '/')) i += 1
      if (i >= until) return None
      val nameStart = i
      while (i < until && !ws(s.charAt(i)) && s.charAt(i) != '=' &&
        s.charAt(i) != '/') i += 1
      val attr = s.substring(nameStart, i)
      while (i < until && ws(s.charAt(i))) i += 1
      var value: String = null
      if (i < until && s.charAt(i) == '=') {
        i += 1
        while (i < until && ws(s.charAt(i))) i += 1
        if (i < until && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
          val q = s.charAt(i)
          i += 1
          val vStart = i
          while (i < until && s.charAt(i) != q) i += 1
          value = s.substring(vStart, i)
          if (i < until) i += 1 // closing quote
        } else {
          val vStart = i
          while (i < until && !ws(s.charAt(i))) i += 1
          value = s.substring(vStart, i)
        }
      }
      if (attr.equalsIgnoreCase("href") && value != null)
        return Some(value)
    }
    None
  }

  def apply(html: Column): Column = call(html)()
}
