package graft.functions

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `normalize_text(text)` — the standard pre-dedup text canonicalization
  * (CCNet/RefinedWeb shape) as ONE codegen'd scalar kernel:
  *
  *   1. Unicode normalization (`form` = NFC | NFKC — NFKC folds
  *      ligatures/fullwidth forms, NFC only composes);
  *   2. optional case folding (`String.toLowerCase(Locale.ROOT)`);
  *   3. optional whitespace canonicalization: every run of
  *      `[ \t\n\x0B\f\r]+` becomes one space, then leading/trailing
  *      spaces are stripped. The class is spelled out because Java `\s`
  *      and RE2 `\s` disagree on `\x0B` — with the explicit class the
  *      DuckDB mirror `trim(regexp_replace(x, '[ \t\n\x0B\f\r]+', ' ',
  *      'g'))` is byte-exact. Unicode spaces (U+00A0 …) are deliberately
  *      NOT collapsed — both engines agree they are content.
  *
  * Dedup pipelines run this FIRST so that case/width/spacing variants
  * collapse into the same exact-hash or shingle groups. Null → null.
  * Per-row scalar work, map-only — embarrassingly parallel at any scale.
  */
object NormalizeText extends Kernel("normalize_text", Seq(StringType), StringType) {
  // explicit ASCII-whitespace class — see the \x0B note in the scaladoc
  private val WsRun = Pattern.compile("[ \t\n" + "\u000B" + "\f\r]+")

  def compute(
      s: UTF8String,
      form: String,
      caseFold: Boolean,
      collapseWs: Boolean): UTF8String = {
    var str = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form))
    if (caseFold) str = str.toLowerCase(Locale.ROOT)
    if (collapseWs) {
      str = WsRun.matcher(str).replaceAll(" ")
      var lo = 0
      var hi = str.length
      while (lo < hi && str.charAt(lo) == ' ') lo += 1
      while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
      str = str.substring(lo, hi)
    }
    UTF8String.fromString(str)
  }

  /** `form`, `caseFold`, `collapseWs` when the call names none. */
  private[functions] val Defaults = Seq("NFC", true, true)

  def apply(text: Column): Column = call(text)(Defaults: _*)

  def apply(
      text: Column,
      form: String,
      caseFold: Boolean,
      collapseWs: Boolean): Column =
    call(text)(form, caseFold, collapseWs)

  override def checkConsts(consts: Seq[Any]): Unit = {
    val form = consts.head
    require(form == "NFC" || form == "NFKC", s"form must be NFC|NFKC: $form")
  }
}
