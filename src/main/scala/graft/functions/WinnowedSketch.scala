package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernel ([[Kernel]]): winnowing fingerprint set of a token
  * array — the distinct minima of every `w`-token sliding window of
  * FNV-1a 64 token hashes (the plagiarism-detection sketch).
  *
  * `winnowed_sketch(tokens, w)` → array<bigint>, distinct values in
  * first-occurrence order. Documents shorter than `w` tokens yield the
  * single global minimum ([[graft.llm.TextAnalysis.winnowed]]'s
  * `.otherwise` branch). Null token entries occupy a window position
  * but contribute no candidate (the declarative `array_min` null-skip);
  * a document with no hashable token yields an empty set.
  *
  * Why an Expression: the declarative form
  * (`transform(sequence(...), i => array_min(slice(hs, i+1, w)))`)
  * allocates a w-element slice per window, re-hashes the token array at
  * each of its three references, and re-scans w elements per window —
  * O(n·w) work and O(n) garbage per row. This kernel hashes each token
  * once and keeps a monotonic deque over the window — O(n) total, the
  * single allocation is the output array. Same disease, same cure as
  * [[RepeatedNgramRatio]] (19×) and [[SimHash64]] (map-only corpus
  * scan); llm_winnow was the slowest query in the suite (6.7 s at
  * sf0.1) before this kernel. The DuckDB oracle is unchanged — same
  * hash, same window minima.
  */
object WinnowedSketch extends Kernel("winnowed_sketch",
    Seq(ArrayType(StringType)), ArrayType(LongType, containsNull = false)) {

  /** Column API: `WinnowedSketch(tokenArray, w)`. */
  def apply(c: Column, w: Int): Column = call(c)(w)

  override def checkConsts(consts: Seq[Any]): Unit = {
    val w = consts.head
    require(w.asInstanceOf[Int] >= 1, s"winnowed_sketch window must be >= 1, got $w")
  }

  /** Shared kernel for interpreted eval and generated code.
    *
    * Hashes are computed once into `hs` (`valid(i)` = non-null token);
    * the sliding minimum runs a monotonic deque of indices whose head
    * is always the current window's min. Distinctness via a HashSet,
    * emission in first-occurrence order.
    */
  def compute(tokens: ArrayData, w: Int): ArrayData = {
    val n = tokens.numElements()
    val hs = new Array[Long](n)
    val valid = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null) { hs(i) = MinHashSig.fnv64(s); valid(i) = true }
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    if (n < w) {
      // short-document branch: single global min over hashable tokens
      var min = Long.MaxValue
      var any = false
      i = 0
      while (i < n) {
        if (valid(i) && (!any || hs(i) < min)) { min = hs(i); any = true }
        i += 1
      }
      if (any) out += min
    } else {
      // deque of indices into hs; values increase from head to tail
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < n) {
        if (valid(i)) {
          while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
          dq(tail) = i
          tail += 1
        }
        // evict entries that fell out of the window [i-w+1, i]
        while (tail > head && dq(head) <= i - w) head += 1
        if (i >= w - 1 && tail > head) {
          val m = hs(dq(head))
          if (seen.add(m)) out += m
        }
        i += 1
      }
    }
    new GenericArrayData(out.result())
  }
}
