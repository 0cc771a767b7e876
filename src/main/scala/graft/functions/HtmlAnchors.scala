package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_anchors(html)` — the `<a href>` links of a page WITH their
  * anchor text, document order, as `array<struct<href, text>>`: the
  * signal [[HtmlLinks]] drops. Anchor text is what WAT link records
  * carry and what ranking / quality pipelines consume (the text OTHER
  * pages use to describe a target is a classic relevance feature).
  *
  * Same tokenizer contract as [[HtmlLinks]]/[[HtmlToText]] (state
  * machine, not regex): comments/CDATA/doctype and script/style
  * rawtext never contribute links OR text; quoted `>` honored. Anchor
  * text = the visible text between the opening `<a href>` and its
  * `</a>` — inner tags (`<b>`, spans, images) are removed, entities
  * decode once, whitespace runs collapse to single spaces, ends
  * trimmed. A new `<a>` implicitly closes a dangling one (the HTML5
  * parser rule — anchors never nest); EOF closes with whatever text
  * accumulated. `<a>` without href contributes nothing. Null in →
  * null out. Map-only, codegen'd. */
object HtmlAnchors extends Kernel("html_anchors", Seq(StringType),
    ArrayType(
      StructType(Seq(
        StructField("href", StringType, nullable = false),
        StructField("text", StringType, nullable = false))),
      containsNull = false)) {

  /** Java-facing entry (called from generated code). */
  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(anchors(s.toString).map { case (h, t) =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(h), UTF8String.fromString(t)))
    }.toArray[Any])

  /** Collapse whitespace runs to one space, trim ends. NBSP survives
    * (it decodes from `&nbsp;` and is deliberate spacing, the
    * [[HtmlToText]] convention). */
  private def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
          c == '\u000B') {
        if (sb.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** (href, anchor text) pairs of opening `<a href>` tags, document
    * order; href entity-decoded, text tag-stripped + entity-decoded +
    * whitespace-normalized. */
  def anchors(html: String): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var curHref: String = null
    val buf = new java.lang.StringBuilder
    def emit(): Unit = if (curHref != null) {
      out += ((curHref, normalizeWs(HtmlToText.decodeEntities(buf.toString))))
      curHref = null
      buf.setLength(0)
    }
    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') {
        if (curHref != null) buf.append(c)
        i += 1
      } else if (html.startsWith("<!--", i)) {
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
        if (name == null) { // "<3" is text
          if (curHref != null) buf.append('<')
          i += 1
        } else {
          val end = HtmlToText.tagEnd(html, nameAt + name.length)
          if (end < 0) i = n
          else {
            if (name == "a") {
              emit() // closes the open anchor: explicitly or implicitly
              if (!closing)
                HtmlLinks.href(html, nameAt + name.length, end - 1)
                  .foreach(v => curHref = HtmlToText.decodeEntities(v))
            } else if (curHref != null &&
                (name == "br" || name == "p" || name == "div" ||
                  name == "li" || name == "td" || name == "th"))
              buf.append(' ') // structural break inside an anchor
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
    emit() // EOF closes a dangling anchor with what accumulated
    out.toSeq
  }

  def apply(html: Column): Column = call(html)()
}
