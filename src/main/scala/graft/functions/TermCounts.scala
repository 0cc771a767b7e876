package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `term_counts(text, terms)` → array<long>: per-document frequency of
  * each query term, in `terms` order, over the engine's whitespace
  * tokenization (`split(trim(text), "\\s+")` exactly — the
  * [[TextTokenize]] walker).
  *
  * The BM25 term-frequency kernel (VERDICT r06 §3): the composed form
  * evaluated one `filter(toks, _ === t)` pass per query term —
  * O(|terms|·|tokens|) per document, fine for a 3-term probe but a real
  * factor at a 100-term one. This kernel is ONE byte-level pass over the
  * text: each token's FNV-1a 64 hash probes a small open-addressed table
  * of the query terms, and a hit is confirmed by byte equality before
  * counting — per-document cost O(|tokens| + |terms|) with EXACT string
  * semantics (no hash-collision caveat: the hash only routes, bytes
  * decide).
  *
  * Null text → null (nullIntolerant), like the composed form.
  */
object TermCounts extends Kernel("term_counts",
    Seq(StringType), ArrayType(LongType, containsNull = false)) {

  def apply(text: Column, terms: Seq[String]): Column =
    call(text)(new Table(terms))

  def compute(text: UTF8String, table: Table): GenericArrayData =
    table.counts(text)

  /** The query terms and their lookup structure: one constant per call,
    * shipped to the tasks with the plan. */
  final case class Table(terms: Seq[String]) {
    require(terms.nonEmpty, "term_counts needs at least one term")

    // term lookup structure, built once per task: open-addressed hash →
    // term index, collisions resolved by byte comparison at probe time
    @transient private lazy val termBytes: Array[Array[Byte]] =
      terms.map(_.getBytes("UTF-8")).toArray
    // duplicate query terms each count: per term, the indices of all
    // byte-equal terms (almost always just itself) — hit cost stays O(1)
    @transient private lazy val dupGroups: Array[Array[Int]] =
      Array.tabulate(termBytes.length) { i =>
        termBytes.indices.filter(j =>
          java.util.Arrays.equals(termBytes(i), termBytes(j))).toArray
      }
    @transient private lazy val (slotHash, slotIdx, slotMask) = {
      var cap = 4
      while (cap < terms.size * 2) cap <<= 1
      val hs = new Array[Long](cap)
      val ix = new Array[Int](cap)
      java.util.Arrays.fill(ix, -1)
      val mask = cap - 1
      var i = 0
      while (i < termBytes.length) {
        val b = termBytes(i)
        val h = TextTokenize.fnv(b, 0, b.length)
        var s = (java.lang.Long.hashCode(h) & 0x7FFFFFFF) & mask
        // duplicate terms each keep their own slot (first one wins the
        // hash slot; duplicates are counted via the byte-equal chain)
        while (ix(s) != -1) s = (s + 1) & mask
        hs(s) = h; ix(s) = i
        i += 1
      }
      (hs, ix, mask)
    }

    def counts(text: UTF8String): GenericArrayData = {
      val bytes = text.getBytes
      val (starts, ends, count) = TextTokenize.tokenize(bytes)
      val out = new Array[Long](termBytes.length)
      var t = 0
      while (t < count) {
        val s0 = starts(t); val e0 = ends(t)
        val h = TextTokenize.fnv(bytes, s0, e0)
        var s = (java.lang.Long.hashCode(h) & 0x7FFFFFFF) & slotMask
        var probing = true
        while (probing && slotIdx(s) != -1) {
          if (slotHash(s) == h) {
            val cand = termBytes(slotIdx(s))
            if (cand.length == e0 - s0 && {
              var j = 0
              while (j < cand.length && cand(j) == bytes(s0 + j)) j += 1
              j == cand.length
            }) {
              val g = dupGroups(slotIdx(s))
              var i = 0
              while (i < g.length) { out(g(i)) += 1L; i += 1 }
              probing = false
            } else s = (s + 1) & slotMask
          } else s = (s + 1) & slotMask
        }
        t += 1
      }
      new GenericArrayData(out)
    }
  }
}
