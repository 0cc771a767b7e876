package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused text→signature kernels: tokenize + shingle + hash + reduce in
  * ONE byte-level pass over the document, with zero intermediate arrays.
  *
  * The composed formulation (`minhash_sig(array_distinct(ngrams(split(
  * trim(text)))), k)`) materializes three Tungsten arrays per row —
  * the token array, the n-gram string array (each shingle a fresh
  * `concat_ws` allocation), and the distinct set — before the signature
  * kernel reads any of them. Stage anatomy of the signature pipeline
  * (tools/MinhashProfile, sf0.1) put those intermediate stages at ~3×
  * the cost of the signature reduction itself. All three are fused away
  * here:
  *
  *  - tokenization walks the UTF-8 bytes directly (ASCII `\s` is
  *    single-byte, so byte scanning is exact);
  *  - each shingle's FNV-1a 64 hash is accumulated across the token
  *    byte ranges with a 0x20 separator byte — bit-identical to hashing
  *    the `concat_ws(" ", slice(tokens, i+1, n))` string, without
  *    building it;
  *  - `array_distinct` is DROPPED: min over a multiset equals min over
  *    its distinct set, so duplicate shingles cannot change a MinHash
  *    signature (for SimHash, occurrence voting is the documented
  *    semantics already).
  *
  * Exact-equivalence contract (specced in TextSigSpec against the
  * composed form, which survives as the independent mirror):
  *  - `trim` strips 0x20 only (Spark `trim` semantics, not `\s`);
  *  - `split("\\s+", -1)` keeps leading/trailing empty tokens when the
  *    trimmed text begins/ends with non-space whitespace, and maps the
  *    empty string to a single empty token;
  *  - documents shorter than n tokens collapse to ONE shingle of all
  *    their tokens (TextAnalysis.ngrams's `otherwise` branch);
  *  - null text → null signature (nullIntolerant), for BOTH kernels.
  *    The composed simhash chain agrees; the composed MINHASH chain
  *    does not — `concat_ws` swallows the null token array, so it
  *    yields the signature of an empty document and null docs
  *    band-collide with genuinely empty ones. That is an artifact, not
  *    a contract; the fused kernels make null docs fall out of the
  *    banded candidate joins instead (TextSigSpec pins the divergence).
  *
  * The DuckDB oracles for llm_minhash_neardup / llm_neardup_dedup /
  * llm_simhash_neardup are unchanged: same hash, same minima/votes.
  */
object TextTokenize {

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** Token boundaries of `split(trim(text), "\\s+", -1)` as
    * (starts, ends, count) over the byte array. Empty tokens are
    * zero-length ranges. */
  def tokenize(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == 0x20) lo += 1
    while (hi > lo && bytes(hi - 1) == 0x20) hi -= 1
    // pass 1: count tokens (Java split limit=-1 semantics)
    var count = 0
    if (lo == hi) count = 1
    else {
      var i = lo
      if (isWs(bytes(i))) count += 1
      while (i < hi) {
        if (isWs(bytes(i))) {
          while (i < hi && isWs(bytes(i))) i += 1
          if (i == hi) count += 1
        } else {
          while (i < hi && !isWs(bytes(i))) i += 1
          count += 1
        }
      }
    }
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = 0
    if (lo == hi) { starts(0) = lo; ends(0) = lo; t = 1 }
    else {
      var i = lo
      if (isWs(bytes(i))) { starts(t) = i; ends(t) = i; t += 1 }
      while (i < hi) {
        if (isWs(bytes(i))) {
          while (i < hi && isWs(bytes(i))) i += 1
          if (i == hi) { starts(t) = hi; ends(t) = hi; t += 1 }
        } else {
          val s = i
          while (i < hi && !isWs(bytes(i))) i += 1
          starts(t) = s; ends(t) = i; t += 1
        }
      }
    }
    (starts, ends, count)
  }

  private val FnvBasis = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 of the raw bytes [from, until). */
  def fnv(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvBasis
    var i = from
    while (i < until) { h ^= bytes(i) & 0xFF; h *= FnvPrime; i += 1 }
    h
  }

  /** FNV-1a 64 of tokens [from, until) joined by a single 0x20 —
    * bit-identical to `MinHashSig.fnv64(concat_ws(" ", tokens))`. */
  def fnvJoined(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
      from: Int, until: Int): Long = {
    var h = FnvBasis
    var t = from
    while (t < until) {
      if (t > from) { h ^= 0x20; h *= FnvPrime }
      var i = starts(t)
      val e = ends(t)
      while (i < e) { h ^= bytes(i) & 0xFF; h *= FnvPrime; i += 1 }
      t += 1
    }
    h
  }
}

/** `minhash_text(text, k, n)` → array<bigint>: the MinHash signature of
  * the document's word-n-gram shingle set, fused end to end — see
  * [[TextTokenize]]. Output is identical to
  * `MinHashSig(Dedup.shingles(text, n), k)`. */
object MinHashTextSig extends Kernel("minhash_text", Seq(StringType),
    ArrayType(LongType, containsNull = false)) {

  def apply(c: Column, k: Int, n: Int): Column = call(c)(k, n)

  def compute(text: UTF8String, k: Int, n: Int): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    val as = MinHashSig.mixers(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val nShingles = math.max(count - (n - 1), 1)
    val span = if (count - (n - 1) > 0) n else count
    var si = 0
    while (si < nShingles) {
      val h = TextTokenize.fnvJoined(bytes, starts, ends, si, si + span)
      val lo = h & 0x7FFFFFFFL
      val hi = h >>> 31
      var i = 0
      while (i < k) {
        val v = (lo * as(i)) ^ hi
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      si += 1
    }
    new GenericArrayData(sig)
  }
}

/** `shingle_hashes(text, n)` → array<bigint>: the SORTED DISTINCT
  * FNV-1a 64 hashes of the document's word-n-gram shingles, fused —
  * see [[TextTokenize]]. The shingle-set representation for
  * candidate-pair verification: Jaccard on the hash sets equals
  * Jaccard on the shingle strings absent 64-bit collisions (the
  * suite-wide stance), and `array_intersect` over longs beats building
  * and intersecting per-row string arrays. Sorted ascending so the
  * output is deterministic and mirror-friendly. Null text → null
  * (the composed `array_distinct(ngrams(...))` chain instead collapses
  * null to the [""] shingle via `concat_ws` — same artifact the
  * MinHash kernel drops; TextSigSpec pins both). */
object ShingleHashes extends Kernel("shingle_hashes", Seq(StringType),
    ArrayType(LongType, containsNull = false)) {

  def apply(c: Column, n: Int): Column = call(c)(n)

  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    val nShingles = math.max(count - (n - 1), 1)
    val span = if (count - (n - 1) > 0) n else count
    val hs = new Array[Long](nShingles)
    var si = 0
    while (si < nShingles) {
      hs(si) = TextTokenize.fnvJoined(bytes, starts, ends, si, si + span)
      si += 1
    }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted run
    var w = 0
    var r = 0
    while (r < nShingles) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(
      if (w == nShingles) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** `ngram_hashes(text, n)` → array<bigint>: FNV-1a 64 hashes of the
  * document's word n-grams WITH repetitions, in token order — the
  * repetition-preserving sibling of [[ShingleHashes]] (same fused
  * byte-level pass, no sort, no dedup). The unit for frequency-based
  * corpus models (bigram counts, familiarity scoring) where joins and
  * aggregations should move 8-byte hashes, never n-gram strings.
  * Null text → null. */
object NgramHashes extends Kernel("ngram_hashes", Seq(StringType),
    ArrayType(LongType, containsNull = false)) {

  def apply(c: Column, n: Int): Column = call(c)(n)

  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    val nShingles = math.max(count - (n - 1), 1)
    val span = if (count - (n - 1) > 0) n else count
    val hs = new Array[Long](nShingles)
    var si = 0
    while (si < nShingles) {
      hs(si) = TextTokenize.fnvJoined(bytes, starts, ends, si, si + span)
      si += 1
    }
    new GenericArrayData(hs)
  }
}

/** `gram_hashes(text, k)` → array<bigint>: FNV-1a 64 hashes of the
  * document's word k-grams in token order, EMPTY when the document
  * hosts no k-window — element i is the hash of tokens [i, i+k), so
  * `posexplode(gram_hashes(text, k))` IS the positional (start, hash)
  * gram table of span-level dedup. The POSITIONAL sibling of
  * [[NgramHashes]], differing in the short-document contract:
  * frequency models collapse a short doc to one all-tokens gram;
  * span dedup emits NOTHING for a doc with fewer than k tokens
  * (including the empty-after-trim doc, whose single empty token is a
  * `split` artifact, never a gram) — exactly the
  * `size(toks) >= k && !(size == 1 && toks[0] = '')` guard of the
  * composed chain this kernel fuses away (r17, guide §4: that chain —
  * `posexplode(transform(sequence(0, n−k), i => xxhash64(concat_ws(" ",
  * slice(toks, i+1, k)))))` — materialized the token array plus one
  * string allocation per window, O(n·k) bytes per doc, before hashing
  * a single byte). Hash values are internal equality keys (the
  * oracles mirror gram STRINGS): FNV-1a of the single-space-joined
  * window replaces xxhash64 of the same string under the suite-wide
  * collision stance — exact absent 64-bit collisions. Null text →
  * null (posexplode then emits no rows, like the composed chain's
  * null-tokens filter). */
object GramHashes extends Kernel("gram_hashes", Seq(StringType),
    ArrayType(LongType, containsNull = false)) {

  private val Empty = new GenericArrayData(new Array[Long](0))

  def apply(c: Column, k: Int): Column = call(c)(k)

  def compute(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    // no k-window: fewer than k tokens, or the empty-after-trim doc
    // (one zero-length token — a split artifact, not a gram)
    if (count < k || (count == 1 && starts(0) == ends(0))) return Empty
    val n = count - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = TextTokenize.fnvJoined(bytes, starts, ends, i, i + k)
      i += 1
    }
    new GenericArrayData(hs)
  }
}

/** `simhash_text(text)` → bigint: 64-bit SimHash over whitespace
  * tokens, fused — identical to `SimHash64(TextAnalysis.tokens(text))`
  * (per-token-OCCURRENCE voting; empty tokens vote like the composed
  * form's empty strings). */
object SimHashText extends Kernel("simhash_text", Seq(StringType), LongType) {

  def apply(c: Column): Column = call(c)()

  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    val (starts, ends, count) = TextTokenize.tokenize(bytes)
    val votes = new Array[Int](64)
    var t = 0
    while (t < count) {
      val h = TextTokenize.fnvJoined(bytes, starts, ends, t, t + 1)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
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
