package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cut_spans(text, spans)` → string: the text's whitespace tokens with
  * every token whose index falls inside any `[span_start, span_end)`
  * interval removed, survivors re-joined by single spaces — the
  * span-removal rewrite of
  * [[graft.llm.Spans.removeDuplicatedSpans]] as ONE byte-level pass.
  *
  * The composed form (`filter(split(...), (t, i) => !exists(spans, ...))`
  * + `concat_ws`) evaluates an O(|spans|) `exists` per token and
  * allocates the intermediate token array; under heavy duplication
  * (every doc spanned — the stress worst case) the rewrite dominated
  * the 64× span-removal curve. Here spans are sorted once per row and
  * swept with the token walk ([[TextTokenize]] — `split(trim(text),
  * "\\s+")` exactly), so per-token cost is O(1) amortized and the
  * output buffer is built directly from the surviving byte ranges.
  * Overlapping/unsorted spans are handled (covered-end sweep), so the
  * kernel does not depend on the producer's merged-maximal guarantee.
  *
  * `spans` is `array<struct<span_start: long, span_end: long>>` — the
  * field ORDER is the contract (struct field names are not consulted
  * at eval time). Null text or null spans → null (nullIntolerant);
  * callers keep the `when(spans IS NULL, text)` wrapper for the
  * span-free fast path.
  */
object CutSpans extends Kernel("cut_spans", Nil, StringType) {

  def apply(text: Column, spans: Column): Column = call(text, spans)()

  /** Any two long fields: the field names are not part of the contract. */
  override def checkInputs(types: Seq[DataType]): Option[String] =
    types match {
      case Seq(StringType, ArrayType(s: StructType, _))
          if s.fields.length == 2 && s.fields.forall(_.dataType == LongType) =>
        None
      case _ => Some("cut_spans expects (string, array<struct<long, " +
        s"long>>), got ${Kernel.show(types)}")
    }

  def compute(text: UTF8String, spansData: ArrayData): UTF8String = {
    // no m==0 shortcut: an explicit empty span list still goes through
    // tokenize+rejoin, matching the declared split/concat_ws model
    // (raw-text passthrough is the caller's `when(spans IS NULL, …)`)
    val m = spansData.numElements()
    val starts = new Array[Long](m)
    val ends = new Array[Long](m)
    var k = 0
    while (k < m) {
      val row = spansData.getStruct(k, 2)
      starts(k) = row.getLong(0)
      ends(k) = row.getLong(1)
      k += 1
    }
    // sort span starts (ends ride along) — insertion sort: span lists
    // are per-document small and usually already sorted
    var a = 1
    while (a < m) {
      val s0 = starts(a); val e0 = ends(a)
      var b = a - 1
      while (b >= 0 && starts(b) > s0) {
        starts(b + 1) = starts(b); ends(b + 1) = ends(b); b -= 1
      }
      starts(b + 1) = s0; ends(b + 1) = e0
      a += 1
    }
    val bytes = text.getBytes
    val (tokStarts, tokEnds, count) = TextTokenize.tokenize(bytes)
    val out = new Array[Byte](bytes.length)
    var outLen = 0
    var wrote = false
    var j = 0
    var coveredEnd = Long.MinValue
    var i = 0
    while (i < count) {
      while (j < m && starts(j) <= i) {
        if (ends(j) > coveredEnd) coveredEnd = ends(j)
        j += 1
      }
      if (i >= coveredEnd) { // survivor
        if (wrote) { out(outLen) = 0x20; outLen += 1 }
        val len = tokEnds(i) - tokStarts(i)
        System.arraycopy(bytes, tokStarts(i), out, outLen, len)
        outLen += len
        wrote = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, outLen))
  }
}
