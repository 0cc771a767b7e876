package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) tokenizer vocabulary: pieces with
  * their trained counts — the OTHER dominant subword family next to
  * [[BpeMerges]] (Kudo 2018, "Subword Regularization"; the tokenizer
  * Llama/T5-lineage pipelines assume). Training lives in
  * [[graft.llm.Unigram.learn]]; this object is the serve-side artifact
  * the codegen'd kernels close over (the BpeMerges pattern —
  * serializable, transient lookup maps rebuilt per executor).
  *
  * The segmentation objective is pinned EXACT-INTEGER (the repo's
  * cross-engine discipline — a float log-prob sum can tie-break
  * differently across engines at the last ulp, so it is refused):
  * a word's segmentation minimizes, lexicographically,
  *   (1) the number of pieces,
  *   (2) then MAXIMIZES the summed piece counts (the trained unigram
  *       frequencies — the likelihood surrogate: for a fixed piece
  *       count, higher-frequency pieces are the higher-likelihood
  *       segmentation),
  *   (3) then prefers the LONGER final piece of each prefix (the DP's
  *       per-position tie-break, applied at every prefix length — so
  *       ties resolve toward longer pieces late in the word).
  * This is a Viterbi dynamic program over prefix positions — exact,
  * total (every single code point is a valid piece, count 0 when
  * untrained — no UNK), and SQL-mirrorable (the DP unrolls into a
  * recursive CTE with an integer-packed comparison key).
  *
  * Token-id scheme (the [[BpeEncode]] convention): a single-code-point
  * piece's id is its code point; a multi-code-point piece's id is
  * [[UnigramKernel.IdBase]] + its vocab rank under
  * (count DESC, piece ASC in code-point order ≡ UTF-8 byte order —
  * the oracle's collation). */
final class UnigramVocab(
    val pieces: Array[(String, Long)],
    val maxPieceLen: Int) extends Serializable {
  require(maxPieceLen >= 2, "maxPieceLen must be at least 2")
  require(pieces.map(_._1).distinct.length == pieces.length,
    "vocabulary pieces must be distinct")
  require(pieces.forall(_._2 >= 0L), "piece counts must be non-negative")
  require(pieces.forall { case (p, _) =>
    val n = p.codePointCount(0, p.length)
    n >= 1 && n <= maxPieceLen
  }, s"piece code-point lengths must be in [1, $maxPieceLen]")

  /** Multi-code-point pieces in rank order (count DESC, piece ASC in
    * code-point order) — rank = index, id = IdBase + rank. */
  private def multiSorted: Array[String] = pieces
    .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
    .sortWith { case ((pa, ca), (pb, cb)) =>
      ca > cb || (ca == cb && UnigramKernel.cpCompare(pa, pb) < 0)
    }
    .map(_._1)

  @transient private lazy val countMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    pieces.foreach { case (p, c) => m.put(p, c) }
    m
  }

  @transient private lazy val ranked: Array[String] = multiSorted

  @transient private lazy val rankMap: java.util.HashMap[String, Integer] = {
    val r = ranked
    val m = new java.util.HashMap[String, Integer](r.length * 2)
    var i = 0
    while (i < r.length) { m.put(r(i), i); i += 1 }
    m
  }

  /** Trained count of `piece`; 0 for an untrained SINGLE code point
    * (always a valid piece — totality); -1 for an out-of-vocabulary
    * multi-code-point string (not a valid piece). */
  def countOf(piece: String): Long = {
    val v = countMap.get(piece)
    if (v != null) v.longValue
    else if (piece.codePointCount(0, piece.length) == 1) 0L
    else -1L
  }

  /** Token id of a piece the Viterbi emitted. */
  def idOf(piece: String): Int =
    if (piece.codePointCount(0, piece.length) == 1) piece.codePointAt(0)
    else {
      val r = rankMap.get(piece)
      require(r != null, s"not a vocabulary piece: '$piece'")
      UnigramKernel.IdBase + r.intValue
    }

  /** Inverse of [[idOf]] — loud on an id from a different vocabulary. */
  def pieceOfId(id: Int): String =
    if (id < UnigramKernel.IdBase) {
      require(id >= 0 && Character.isValidCodePoint(id),
        s"invalid code-point token id $id")
      new String(Character.toChars(id))
    } else {
      val r = id - UnigramKernel.IdBase
      require(r < ranked.length,
        s"token id $id has no piece in this vocabulary " +
          s"(${ranked.length} ranked pieces) — wrong vocabulary?")
      ranked(r)
    }

  /** (rank, piece, count) of the ranked multi-code-point pieces — the
    * learn gate's output view. */
  def rankedWithCounts: Seq[(Int, String, Long)] =
    ranked.zipWithIndex.map { case (p, i) =>
      (i, p, countMap.get(p).longValue)
    }.toSeq

  override def equals(o: Any): Boolean = o match {
    case v: UnigramVocab => maxPieceLen == v.maxPieceLen &&
      java.util.Arrays.equals(
        pieces.asInstanceOf[Array[AnyRef]], v.pieces.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(pieces.asInstanceOf[Array[AnyRef]]) * 31 +
      maxPieceLen
}

object UnigramKernel {

  /** Ids at or above this are ranked multi-code-point pieces (id − base
    * = rank); below are raw Unicode code points — the
    * [[BpeEncode.MergedIdBase]] convention, same value so downstream
    * id-stream consumers treat both tokenizers uniformly. */
  val IdBase: Int = 1000000

  /** Code-point lexicographic compare ≡ UTF-8 byte order (the oracle's
    * collation; the [[GopherRepetition]] tie-break discipline). */
  def cpCompare(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      if (a.charAt(i) != b.charAt(i))
        return Integer.compare(a.codePointAt(i), b.codePointAt(i))
      i += 1
    }
    Integer.compare(la, lb)
  }

  /** Viterbi segmentation of ONE word under the pinned exact-integer
    * objective (scaladoc on [[UnigramVocab]]). Total: always returns a
    * covering segmentation (single code points are valid pieces). */
  def segmentWord(word: String, v: UnigramVocab): Array[String] = {
    val n = word.codePointCount(0, word.length)
    if (n == 0) return Array.empty[String]
    // code-point boundary offsets (UTF-16 indices)
    val off = new Array[Int](n + 1)
    var ci = 0
    var si = 0
    while (ci < word.length) {
      off(si) = ci
      ci += Character.charCount(word.codePointAt(ci))
      si += 1
    }
    off(n) = word.length
    val ks = new Array[Int](n + 1) // min piece count of the prefix
    val sums = new Array[Long](n + 1) // max summed counts at that k
    val lens = new Array[Int](n + 1) // chosen last-piece cp length
    var i = 1
    while (i <= n) {
      var bk = Int.MaxValue
      var bs = Long.MinValue
      var bo = 0
      val maxO = math.min(v.maxPieceLen, i)
      var o = 1
      while (o <= maxO) {
        val j = i - o
        val c = v.countOf(word.substring(off(j), off(i)))
        if (c >= 0L) {
          val k = ks(j) + 1
          val s = sums(j) + c
          // (1) fewer pieces; (2) higher summed counts; (3) longer piece
          if (k < bk || (k == bk && (s > bs || (s == bs && o > bo)))) {
            bk = k; bs = s; bo = o
          }
        }
        o += 1
      }
      ks(i) = bk; sums(i) = bs; lens(i) = bo
      i += 1
    }
    val out = new Array[String](ks(n))
    var p = n
    var w = ks(n) - 1
    while (p > 0) {
      val j = p - lens(p)
      out(w) = word.substring(off(j), off(p))
      w -= 1
      p = j
    }
    out
  }

  /** Per-thread word → pieces memo (the [[BpeEncode]] cache contract:
    * Zipf corpora re-encode the same words; pure-function cache, reset
    * wholesale on vocabulary change or at the cap). */
  private val CacheCap = 1 << 16
  private final class WordCache {
    var vocab: UnigramVocab = null
    val map = new java.util.HashMap[String, Array[String]](4096)
  }
  private val cache = new ThreadLocal[WordCache] {
    override def initialValue(): WordCache = new WordCache
  }

  private[functions] def segmentCached(word: String, v: UnigramVocab): Array[String] = {
    val wc = cache.get()
    if (wc.vocab ne v) { wc.map.clear(); wc.vocab = v }
    var ps = wc.map.get(word)
    if (ps == null) {
      ps = segmentWord(word, v)
      if (wc.map.size >= CacheCap) wc.map.clear()
      wc.map.put(word, ps)
    }
    ps
  }
}

/** `unigram_segment(text)` → `array<string>` of vocabulary pieces — the
  * training E-step surface ([[graft.llm.Unigram.learn]] counts these
  * over the distinct-word table). Null text → null. */
object UnigramSegment extends Kernel("unigram_segment",
    Seq(StringType), ArrayType(StringType, containsNull = false)) {

  def apply(text: Column, vocab: UnigramVocab): Column = call(text)(vocab)

  /** Text → the pieces of its whitespace words, concatenated in order
    * (the training E-step's view). */
  def compute(text: UTF8String, v: UnigramVocab): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, n) = TextTokenize.tokenize(bytes)
    val out = Seq.newBuilder[UTF8String]
    var t = 0
    while (t < n) {
      if (ends(t) > starts(t)) {
        val word = new String(bytes, starts(t), ends(t) - starts(t), "UTF-8")
        UnigramKernel.segmentCached(word, v)
          .foreach(p => out += UTF8String.fromString(p))
      }
      t += 1
    }
    new GenericArrayData(out.result().toArray[Any])
  }
}

/** `unigram_encode(text)` → `array<int>` of unigram-LM token ids (the
  * [[BpeEncode]] twin for the SentencePiece family). Null → null. */
object UnigramEncode extends Kernel("unigram_encode",
    Seq(StringType), ArrayType(IntegerType, containsNull = false)) {

  def apply(text: Column, vocab: UnigramVocab): Column = call(text)(vocab)

  /** Text → token ids (the serve-side encode). */
  def compute(text: UTF8String, v: UnigramVocab): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, n) = TextTokenize.tokenize(bytes)
    var out = new Array[Int](16)
    var outLen = 0
    var t = 0
    while (t < n) {
      if (ends(t) > starts(t)) {
        val word = new String(bytes, starts(t), ends(t) - starts(t), "UTF-8")
        val ps = UnigramKernel.segmentCached(word, v)
        if (outLen + ps.length > out.length)
          out = java.util.Arrays.copyOf(out,
            math.max(out.length * 2, outLen + ps.length))
        var k = 0
        while (k < ps.length) {
          out(outLen) = v.idOf(ps(k))
          outLen += 1
          k += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, outLen))
  }
}

/** `unigram_decode(ids)` → string — inverse of [[UnigramEncode]]'s id
  * scheme; `decode(encode(text))` equals text with its whitespace
  * squeezed out (the [[BpeDecode]] round-trip equation — word
  * boundaries are the single lossy step). Invalid ids fail loudly.
  * Null ids → null. */
object UnigramDecode extends Kernel("unigram_decode",
    Seq(ArrayType(IntegerType)), StringType) {

  def apply(ids: Column, vocab: UnigramVocab): Column = call(ids)(vocab)

  /** Ids → concatenated pieces (decode; invalid ids fail loudly). */
  def compute(ids: ArrayData, v: UnigramVocab): UTF8String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      sb.append(v.pieceOfId(ids.getInt(i)))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
