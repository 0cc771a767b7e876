package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel ([[Kernel]]): repeated word-n-gram fraction of a token
  * array — `1 − distinct/total` over the sliding n-grams, the
  * Gopher/C4-style repetition quality signal.
  *
  * `repeated_ngram_ratio(tokens, n)` → double. Documents shorter than
  * `n` tokens score 0 (they collapse to a single trivially-distinct
  * n-gram, matching the declarative fallback and the SQL oracle's
  * no-rows → 0 branch).
  *
  * Why an Expression: the declarative form materializes the n-gram
  * ARRAY per row — `transform(sequence, slice+concat_ws)` — and then
  * sizes it twice (raw + array_distinct), once per n. At corpus scale
  * that is four array materializations per document for two ratios; it
  * benched as the slowest query in the suite (14 s at sf0.1). This
  * kernel is one linear pass per n: join each window once, count
  * distinct in a hash set, allocate only the joined strings.
  * Token join uses a single space — injective because tokens come from
  * a whitespace split — so distinct counts equal the oracle's distinct
  * joined strings exactly.
  */
object RepeatedNgramRatio extends Kernel("repeated_ngram_ratio",
    Seq(ArrayType(StringType)), DoubleType) {

  /** Column API: `RepeatedNgramRatio(tokenArray, n)`. */
  def apply(c: Column, n: Int): Column = call(c)(n)

  override def checkConsts(consts: Seq[Any]): Unit =
    require(consts.head.asInstanceOf[Int] > 0, "repeated_ngram_ratio: n must be > 0")

  /** Shared kernel for interpreted eval and generated code. Null token
    * elements join as empty strings (split never produces them). */
  def compute(tokens: ArrayData, n: Int): Double = {
    val len = tokens.numElements()
    val total = len - n + 1
    if (total <= 1) return 0.0 // 0 or 1 n-gram → nothing can repeat
    val seen = new java.util.HashSet[String](total * 2)
    var distinct = 0
    var i = 0
    while (i < total) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        val t = tokens.getUTF8String(i + j)
        if (t != null) sb.append(t.toString)
        j += 1
      }
      if (seen.add(sb.toString)) distinct += 1
      i += 1
    }
    (total - distinct).toDouble / total
  }
}
