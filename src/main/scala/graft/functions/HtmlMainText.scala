package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `html_main_text(html)` — BOILERPLATE REMOVAL, the curation step
  * between raw HTML→text extraction and quality filtering (the
  * jusText / trafilatura / Readability family used by RefinedWeb and
  * FineWeb): navigation bars, link farms, cookie banners, and
  * one-line footers are chrome, not corpus; keeping them is the
  * single biggest source of cross-page near-duplicate noise.
  *
  * Deterministic block-density classifier sharing [[HtmlToText]]'s
  * tokenizer contract (state machine, not regex — quoted `>`,
  * comments, doctype/CDATA, and script/style rawtext all behave
  * identically):
  *
  *   1. the page splits into BLOCKS at block-level tag boundaries
  *      (HtmlToText's `BlockTags`); `td`/`th` contribute a space,
  *      inline tags nothing — exactly the visible-text layout;
  *   2. within a block, characters inside `<a …>…</a>` count as
  *      ANCHOR text (nesting-depth tracked; a stray `</a>` floors at
  *      0; a self-closing `<a/>` opens nothing; depth resets at each
  *      block boundary so one unterminated anchor cannot poison the
  *      rest of the document). Entity decode + whitespace
  *      normalization run per block, on the full text and the anchor
  *      text alike;
  *   3. a block is CONTENT iff its normalized length ≥ `minChars`
  *      AND `anchorLen · 1000 ≤ maxLinkPermille · textLen` — link
  *      density in integer per-mille, exact algebra, no float (the
  *      llm-pipeline determinism contract);
  *   4. the surviving blocks join with `\n` in document order.
  *
  * Null → null. Map-only scalar work: at 100 TB this runs inside the
  * same task that parsed the WARC record — no exchange, and dropping
  * boilerplate HERE shrinks every shuffle downstream (dedup
  * signatures, quality scores, tokenization all see less text). */
object HtmlMainText extends Kernel("html_main_text", Seq(StringType), StringType) {

  /** Java-facing entry (called from generated code). */
  def compute(s: UTF8String, minChars: Int, maxPermille: Int): UTF8String =
    UTF8String.fromString(extract(s.toString, minChars, maxPermille))

  def extract(html: String, minChars: Int, maxPermille: Int): String = {
    val out = new java.lang.StringBuilder(html.length)
    val block = new java.lang.StringBuilder(256)
    val anchor = new java.lang.StringBuilder(64)
    var anchorDepth = 0

    def flush(): Unit = {
      val text = HtmlToText.normalizeBlock(
        HtmlToText.decodeEntities(block.toString))
      val aLen = HtmlToText.normalizeBlock(
        HtmlToText.decodeEntities(anchor.toString)).length
      block.setLength(0)
      anchor.setLength(0)
      // anchor scope ends with the block (ADVICE r12): wild HTML is full
      // of unterminated `<a>`s that browsers auto-close; letting one leak
      // across blocks would count every later block as anchor text and
      // silently drop most of the page as link-dense. Block-spanning
      // anchors (card links) lose their cross-block anchor weight — the
      // acceptable direction, since each block is classified alone.
      anchorDepth = 0
      if (text.length >= minChars && text.nonEmpty &&
          aLen.toLong * 1000L <= maxPermille.toLong * text.length) {
        if (out.length > 0) out.append('\n')
        out.append(text)
      }
    }
    def emit(c: Char): Unit = {
      block.append(c)
      if (anchorDepth > 0) anchor.append(c)
    }
    def emitSep(c: Char): Unit = {
      // block-internal separator (td/th space): structural, so it
      // belongs to the full text but never to anchor length
      block.append(c)
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') { emit(c); i += 1 }
      else if (html.startsWith("<!--", i)) {
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
        val end = html.indexOf("]]>", i + 9)
        i = if (end < 0) n else end + 3
      } else if (i + 1 < n &&
          (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
        val end = html.indexOf('>', i + 2) // doctype / PI
        i = if (end < 0) n else end + 1
      } else {
        val closing = i + 1 < n && html.charAt(i + 1) == '/'
        val nameAt = if (closing) i + 2 else i + 1
        val name = HtmlToText.tagNameAt(html, nameAt)
        if (name == null) { emit(c); i += 1 } // "<3" is text
        else {
          val end = HtmlToText.tagEnd(html, nameAt + name.length)
          if (end < 0) i = n // EOF inside tag
          else {
            i = end
            if (!closing && (name == "script" || name == "style")) {
              val close =
                HtmlToText.indexOfIgnoreCase(html, "</" + name, i)
              if (close < 0) i = n
              else {
                val e2 = html.indexOf('>', close)
                i = if (e2 < 0) n else e2 + 1
              }
            }
            if (name == "a") {
              // `<a/>` (XHTML-style or browser-normalized) opens nothing:
              // treating it as an open would poison anchorDepth for the
              // rest of the block (ADVICE r12). tagEnd honors quotes, so
              // html(end-2) == '/' is a genuine self-close marker, never
              // a path character inside an attribute value.
              val selfClosing =
                !closing && end >= 2 && html.charAt(end - 2) == '/'
              if (closing) { if (anchorDepth > 0) anchorDepth -= 1 }
              else if (!selfClosing) anchorDepth += 1
            }
            if (HtmlToText.isBlockTag(name)) flush()
            else if (HtmlToText.isCellTag(name)) emitSep(' ')
          }
        }
      }
    }
    flush()
    out.toString
  }

  /** `min_chars`, `max_link_permille` when the call names none. */
  private[functions] val Defaults = Seq(25, 300)

  def apply(html: Column): Column = call(html)(Defaults: _*)

  def apply(html: Column, minChars: Int, maxLinkPermille: Int): Column =
    call(html)(minChars, maxLinkPermille)
}
