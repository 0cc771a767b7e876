package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel ([[Kernel]]): 64-bit SimHash of a token array.
  *
  * `simhash64(tokens)` → bigint: per-token FNV-1a 64 hash (the
  * [[MinHashSig.fnv64]] kernel — chosen because an ANSI-SQL oracle can
  * reproduce it), one ±1 vote per bit per token OCCURRENCE (occurrence
  * voting ≡ frequency-weighted voting over distinct tokens), sign
  * assembly: bit i of the result is set iff vote_i > 0.
  *
  * Why an Expression rather than the declarative formulation (VERDICT
  * r03 finding 1): SimHash is a per-row, map-only function of the
  * row-local token array, but the explode → groupBy(doc, tok) →
  * groupBy(doc) form shuffles the entire corpus token stream TWICE to
  * compute it. This kernel runs inside whole-stage codegen on Tungsten
  * `ArrayData` — signature cost becomes a single scan, zero shuffle,
  * exactly like [[MinHashSig]]. At 100 TB that removes the whole
  * token-shuffle volume from the SimHash dedup path.
  */
object SimHash64 extends Kernel("simhash64", Seq(ArrayType(StringType)), LongType) {

  /** Column API: `SimHash64(tokenArray)`. */
  def apply(c: Column): Column = call(c)()

  /** Shared kernel for interpreted eval and generated code. Null tokens
    * are skipped (they contribute no vote), matching the aggregation
    * formulation where a null hash falls out of the conditional sums. */
  def compute(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val s = tokens.getUTF8String(t)
      if (s != null) {
        val h = MinHashSig.fnv64(s)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}
