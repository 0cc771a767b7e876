package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `top_token_ratio(text)` → double: the fraction of a document's
  * whitespace tokens accounted for by its single most frequent token —
  * the Gopher "most common word coverage" pretraining quality rule
  * (boilerplate and templated documents concentrate mass on one token;
  * the rule rejects docs where that fraction is too high).
  *
  * Single byte-level pass reusing the [[TextTokenize]] walker: tokens
  * are counted by their FNV-1a 64 hash in a small open-addressed table
  * (identical tokens hash identically; at 64 bits distinct-token
  * collisions are negligible and the same assumption already underlies
  * every MinHash/winnowing oracle in the suite). Tokenization is
  * `split(trim(text), "\\s+")` exactly — empty tokens from leading /
  * trailing non-space whitespace count like the composed form's empty
  * strings, and "" has one empty token → ratio 1.0.
  *
  * Null text → null (nullIntolerant).
  */
object TopTokenRatio extends Kernel("top_token_ratio", Seq(StringType), DoubleType) {

  def apply(c: Column): Column = call(c)()

  def compute(text: UTF8String): Double = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    // open-addressed hash→count table, capacity 2·count rounded up to a
    // power of two: one flat long/int array pair, no per-token garbage
    var cap = 4
    while (cap < count * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val cnts = new Array[Int](cap)
    val mask = cap - 1
    var best = 0
    var t = 0
    while (t < count) {
      val h = TextTokenize.fnvJoined(bytes, starts, ends, t, t + 1)
      var slot = (java.lang.Long.hashCode(h) & 0x7FFFFFFF) & mask
      while (cnts(slot) != 0 && keys(slot) != h) slot = (slot + 1) & mask
      keys(slot) = h
      cnts(slot) += 1
      if (cnts(slot) > best) best = cnts(slot)
      t += 1
    }
    best.toDouble / count
  }
}
