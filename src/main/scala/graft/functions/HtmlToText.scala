package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `html_to_text(html)` — the WET "conversion" step of a crawl
  * pipeline (WARC response payload → visible text) as ONE codegen'd
  * scalar kernel, the stage between [[graft.sources.Warc]] ingestion
  * and the text-quality/dedup operators. Reference behavior:
  * Common Crawl's WET extraction / jusText-free plain strip.
  *
  * Tokenization (a small explicit state machine, NOT regex — naive
  * `<[^>]*>` breaks on quoted `>` in attributes):
  *
  *   1. `<!-- ... -->` comments, `<!doctype>` / `<? ... >`
  *      declarations, and `<![CDATA[ ... ]]>` sections are dropped;
  *   2. `<script>` and `<style>` are raw-text elements — everything
  *      up to the first case-insensitive `</script` / `</style` is
  *      dropped (HTML5 rawtext tokenization, so a `// <b>` inside
  *      script never leaks);
  *   3. every other well-formed tag is replaced by a separator:
  *      newline for block-level tags (`p div br h1..h6 li tr …`),
  *      one space for `td`/`th`, nothing for inline tags (so
  *      `a<b>b</b>` renders `ab` exactly as a browser lays it out);
  *      a `<` not opening a valid tag name is literal text;
  *   4. character references in the REMAINING text are decoded —
  *      named (`amp lt gt quot apos nbsp`) and numeric
  *      (`&#169;` / `&#x2014;`) — one pass, left to right, so
  *      `&amp;lt;` yields the literal `&lt;` (never a second decode);
  *      unknown names pass through untouched. Decode runs AFTER tag
  *      removal, matching HTML semantics (`&lt;script&gt;` is text);
  *   5. whitespace: per line, runs of `[ \t\x0B\f\r]` collapse to one
  *      space and ends are trimmed; empty lines are dropped; the
  *      `\x0B`-explicit class keeps Java and RE2 oracle dialects
  *      byte-identical (see [[NormalizeText]]). U+00A0 from `&nbsp;`
  *      is content, never collapsed.
  *
  * Null → null. Per-row scalar work, map-only — embarrassingly
  * parallel; at 100 TB this runs inside the same task that parsed the
  * WARC record, no extra exchange. */
object HtmlToText extends Kernel("html_to_text", Seq(StringType), StringType) {

  private val BlockTags: Set[String] = Set(
    "html", "head", "body", "title", "p", "div", "br", "hr",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "dl", "dt", "dd", "table", "thead", "tbody", "tfoot", "tr",
    "caption", "blockquote", "pre", "section", "article", "aside",
    "header", "footer", "nav", "main", "figure", "figcaption",
    "form", "fieldset", "address")

  private val CellTags: Set[String] = Set("td", "th")

  private[functions] def isBlockTag(name: String): Boolean =
    BlockTags.contains(name)
  private[functions] def isCellTag(name: String): Boolean =
    CellTags.contains(name)

  /** Single-BLOCK whitespace normalization (the [[HtmlMainText]]
    * segmenter): raw newlines inside one block are source formatting,
    * so the collapse class is `[ \t\x0B\f\r\n]` and the result is one
    * trimmed line. U+00A0 stays content, as in [[normalizeLines]]. */
  private[functions] def normalizeBlock(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\u000B' || c == '\f' ||
          c == '\r' || c == '\n') {
        if (out.length > 0 && out.charAt(out.length - 1) != ' ')
          out.append(' ')
      } else out.append(c)
      i += 1
    }
    var hi = out.length
    while (hi > 0 && out.charAt(hi - 1) == ' ') hi -= 1
    out.substring(0, hi)
  }

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">",
    "quot" -> "\"", "apos" -> "'", "nbsp" -> "\u00A0")

  /** Java-facing entry (called from generated code). */
  def compute(s: UTF8String): UTF8String =
    UTF8String.fromString(extract(s.toString))

  def extract(html: String): String = {
    val stripped = stripTags(html)
    val decoded = decodeEntities(stripped)
    normalizeLines(decoded)
  }

  /** Lowercase tag name starting at `i` (just past `<` or `</`), or
    * null if the first char can't start a tag name. */
  private[functions] def tagNameAt(s: String, i: Int): String = {
    if (i >= s.length) return null
    val c = s.charAt(i)
    if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return null
    var j = i
    while (j < s.length && {
      val d = s.charAt(j)
      (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
        (d >= '0' && d <= '9')
    }) j += 1
    s.substring(i, j).toLowerCase(java.util.Locale.ROOT)
  }

  /** Index just past the `>` closing a tag whose name ends at `from`,
    * honoring quoted attribute values; -1 if EOF inside the tag. */
  private[functions] def tagEnd(s: String, from: Int): Int = {
    var i = from
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    -1
  }

  private[functions] def indexOfIgnoreCase(s: String, target: String, from: Int): Int = {
    var i = from
    val n = s.length - target.length
    while (i <= n) {
      if (s.regionMatches(true, i, target, 0, target.length)) return i
      i += 1
    }
    -1
  }

  private def stripTags(html: String): String = {
    val out = new java.lang.StringBuilder(html.length)
    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c != '<') { out.append(c); i += 1 }
      else if (html.startsWith("<!--", i)) {
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (html.regionMatches(true, i, "<![CDATA[", 0, 9)) {
        val end = html.indexOf("]]>", i + 9)
        i = if (end < 0) n else end + 3
      } else if (i + 1 < n &&
          (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
        val end = html.indexOf('>', i + 2)          // doctype / PI
        i = if (end < 0) n else end + 1
      } else {
        val closing = i + 1 < n && html.charAt(i + 1) == '/'
        val nameAt = if (closing) i + 2 else i + 1
        val name = tagNameAt(html, nameAt)
        if (name == null) { out.append(c); i += 1 }  // "<3" is text
        else {
          val end = tagEnd(html, nameAt + name.length)
          if (end < 0) i = n                         // EOF inside tag
          else {
            i = end
            if (!closing && (name == "script" || name == "style")) {
              // rawtext: drop content up to the first matching close
              val close = indexOfIgnoreCase(html, "</" + name, i)
              if (close < 0) i = n
              else {
                val e2 = html.indexOf('>', close)
                i = if (e2 < 0) n else e2 + 1
              }
            }
            if (BlockTags.contains(name)) out.append('\n')
            else if (CellTags.contains(name)) out.append(' ')
          }
        }
      }
    }
    out.toString
  }

  private[functions] def decodeEntities(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        val semi = s.indexOf(';', i + 1)
        // references are short; a distant ';' means this '&' is literal
        if (semi < 0 || semi > i + 10) { out.append(c); i += 1 }
        else {
          val body = s.substring(i + 1, semi)
          val rep: String =
            if (body.startsWith("#x") || body.startsWith("#X")) {
              try {
                val cp = Integer.parseInt(body.substring(2), 16)
                if (Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            } else if (body.startsWith("#")) {
              try {
                val cp = Integer.parseInt(body.substring(1))
                if (Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp)) else null
              } catch { case _: NumberFormatException => null }
            } else NamedEntities.getOrElse(body, null)
          if (rep == null) { out.append(c); i += 1 }   // unknown: literal
          else { out.append(rep); i = semi + 1 }
        }
      }
    }
    out.toString
  }

  /** Collapse `[ \t\x0B\f\r]+` per line, trim line ends, drop empty
    * lines, trim the document. */
  private def normalizeLines(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    val line = new java.lang.StringBuilder(80)
    def flush(): Unit = {
      // trim trailing space (leading never appended)
      var hi = line.length
      while (hi > 0 && line.charAt(hi - 1) == ' ') hi -= 1
      if (hi > 0) {
        if (out.length > 0) out.append('\n')
        out.append(line, 0, hi)
      }
      line.setLength(0)
    }
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n') flush()
      else if (c == ' ' || c == '\t' || c == '\u000B' || c == '\f' ||
          c == '\r') {
        if (line.length > 0 && line.charAt(line.length - 1) != ' ')
          line.append(' ')
      } else line.append(c)
      i += 1
    }
    flush()
    out.toString
  }

  def apply(html: Column): Column = call(html)()
}
