package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_decode(ids)` → string: the exact inverse of the
  * [[BpeEncode]] id scheme. Ids below [[BpeEncode.MergedIdBase]] are
  * Unicode code points (emitted verbatim); ids at or above it index a
  * merge rank, whose result string ([[BpeMerges]] left+right) is
  * emitted. The scheme is bijective — [[BpeMerges]] requires distinct
  * merge results — so `decode(encode(text))` reproduces `text` with
  * its whitespace squeezed out (encode pre-tokenizes on whitespace
  * and concatenates the words' ids; word boundaries are the one thing
  * the id stream does not carry). That squeezed-identity equation is
  * what the `llm_bpe_roundtrip` gate pins corpus-wide.
  *
  * Invalid ids fail LOUDLY with the offending id and array index —
  * an id outside both ranges means the stream was produced by a
  * different vocabulary, and decoding it silently would corrupt every
  * downstream byte. Null input → null (null-intolerant, like encode).
  *
  * Scale shape: pure map stage, whole-stage-codegen'd, the merge
  * table rides as a codegen reference object (KBs) — identical
  * physical profile to [[BpeEncode]]. */
object BpeDecode extends Kernel("bpe_decode", Seq(ArrayType(IntegerType)), StringType) {

  def apply(ids: Column, merges: BpeMerges): Column = call(ids)(merges)

  /** Shared kernel for interpreted eval and generated code. Ids may
    * contain nulls only if the array type says so; [[BpeEncode]]
    * emits containsNull=false, and a null element here fails loudly
    * (it cannot round-trip). */
  def compute(ids: ArrayData, m: BpeMerges): UTF8String = {
    val n = ids.numElements()
    val sb = new java.lang.StringBuilder(n * 2)
    var i = 0
    while (i < n) {
      require(!ids.isNullAt(i),
        s"bpe_decode: null token id at index $i")
      val id = ids.getInt(i)
      if (id >= BpeEncode.MergedIdBase) {
        val rank = id - BpeEncode.MergedIdBase
        require(rank < m.pairs.length,
          s"bpe_decode: merged id $id at index $i exceeds the merge " +
            s"table (${m.pairs.length} merges) — wrong vocabulary")
        sb.append(m.pairs(rank)._1).append(m.pairs(rank)._2)
      } else {
        require(id >= 0 && Character.isValidCodePoint(id),
          s"bpe_decode: id $id at index $i is not a Unicode code point")
        sb.appendCodePoint(id)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
