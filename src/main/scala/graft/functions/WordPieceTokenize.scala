package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece tokenizer vocabulary — the THIRD canonical subword family
  * next to [[BpeMerges]] and [[UnigramVocab]] (Schuster & Nakajima
  * 2012; the BERT-lineage tokenizer): pieces carry the `##`
  * continuation marker inline (a piece starting with `##` may only
  * match at a non-initial word position; an unmarked piece only at
  * position 0), and ENCODE is greedy longest-match-first — at each
  * position take the longest vocabulary piece that fits, no dynamic
  * program (the [[UnigramVocab]] Viterbi is the contrast).
  *
  * Totality (the engine-wide no-UNK discipline, diverging from BERT's
  * `[UNK]`): every single code point is always a valid piece — initial
  * form id = the code point, continuation form id = [[WordPieceKernel.ContBase]]
  * + code point — so encode never fails and decode is loud-exact.
  * `pieces` holds only the LEARNED multi-code-point pieces, in merge
  * order (rank = index, id = [[WordPieceKernel.MultiBase]] + rank).
  *
  * Marker collision (pinned): the literal string `##` inside a WORD
  * would make an initial merge result indistinguishable from a
  * continuation piece, so [[graft.llm.WordPiece.learnMerges]] refuses
  * corpora whose words contain `##` (the BERT implementations carry
  * the same ambiguity silently; this engine fails loudly instead). */
final class WordPieceVocab(val pieces: Array[String]) extends Serializable {
  require(pieces.distinct.length == pieces.length,
    "vocabulary pieces must be distinct")
  pieces.foreach { p =>
    val content = if (p.startsWith("##")) p.substring(2) else p
    require(content.codePointCount(0, content.length) >= 2,
      s"multi-piece content must be >= 2 code points: '$p'")
  }

  /** Longest piece CONTENT length in code points — the greedy
    * matcher's window bound. */
  val maxContentLen: Int =
    if (pieces.isEmpty) 1
    else pieces.map { p =>
      val c = if (p.startsWith("##")) p.substring(2) else p
      c.codePointCount(0, c.length)
    }.max

  @transient private lazy val rankMap: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), i); i += 1 }
    m
  }

  /** Rank of a formed piece string (with its `##` marker), or -1. */
  def rankOf(formed: String): Int = {
    val r = rankMap.get(formed)
    if (r == null) -1 else r.intValue
  }

  /** Piece CONTENT of a multi-piece rank (marker stripped). */
  def contentOfRank(rank: Int): String = {
    require(rank >= 0 && rank < pieces.length,
      s"rank $rank has no piece in this vocabulary " +
        s"(${pieces.length} pieces) — wrong vocabulary?")
    val p = pieces(rank)
    if (p.startsWith("##")) p.substring(2) else p
  }

  override def equals(o: Any): Boolean = o match {
    case v: WordPieceVocab =>
      java.util.Arrays.equals(
        pieces.asInstanceOf[Array[AnyRef]],
        v.pieces.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(pieces.asInstanceOf[Array[AnyRef]])
}

object WordPieceKernel {

  /** Continuation-single ids: ContBase + code point. Initial singles
    * are the raw code point (the [[BpeEncode]]/[[UnigramKernel]]
    * convention); the bases keep the three ranges disjoint
    * (max code point 0x10FFFF < ContBase; ContBase + 0x10FFFF <
    * MultiBase). */
  val ContBase: Int = 2000000

  /** Learned multi-piece ids: MultiBase + merge rank. */
  val MultiBase: Int = 4000000

  /** Greedy longest-match segmentation of ONE word: at code-point
    * position p, the longest l in [2, min(maxContentLen, n−p)] whose
    * formed string (content, `##`-prefixed unless p = 0) is in the
    * vocabulary wins; otherwise the single code point (always valid).
    * Returns token ids. */
  def segmentWord(word: String, v: WordPieceVocab): Array[Int] = {
    val n = word.codePointCount(0, word.length)
    if (n == 0) return Array.empty[Int]
    val off = new Array[Int](n + 1)
    var ci = 0
    var si = 0
    while (ci < word.length) {
      off(si) = ci
      ci += Character.charCount(word.codePointAt(ci))
      si += 1
    }
    off(n) = word.length
    var out = new Array[Int](math.min(n, 16))
    var outLen = 0
    var pos = 0
    while (pos < n) {
      var l = math.min(v.maxContentLen, n - pos)
      var rank = -1
      while (l >= 2 && rank < 0) {
        val content = word.substring(off(pos), off(pos + l))
        rank = v.rankOf(if (pos == 0) content else "##" + content)
        if (rank < 0) l -= 1
      }
      if (outLen == out.length)
        out = java.util.Arrays.copyOf(out, out.length * 2)
      if (rank >= 0) {
        out(outLen) = MultiBase + rank
        pos += l
      } else {
        val cp = word.codePointAt(off(pos))
        out(outLen) = if (pos == 0) cp else ContBase + cp
        pos += 1
      }
      outLen += 1
    }
    java.util.Arrays.copyOf(out, outLen)
  }

  /** Per-thread word → ids memo (the [[UnigramKernel]] cache contract:
    * Zipf corpora re-encode the same words). */
  private val CacheCap = 1 << 16
  private final class WordCache {
    var vocab: WordPieceVocab = null
    val map = new java.util.HashMap[String, Array[Int]](4096)
  }
  private val cache = new ThreadLocal[WordCache] {
    override def initialValue(): WordCache = new WordCache
  }

  private[functions] def segmentCached(word: String, v: WordPieceVocab): Array[Int] = {
    val wc = cache.get()
    if (wc.vocab ne v) { wc.map.clear(); wc.vocab = v }
    var ids = wc.map.get(word)
    if (ids == null) {
      ids = segmentWord(word, v)
      if (wc.map.size >= CacheCap) wc.map.clear()
      wc.map.put(word, ids)
    }
    ids
  }
}

/** `wordpiece_encode(text)` → `array<int>` of WordPiece token ids (the
  * [[BpeEncode]]/[[UnigramEncode]] sibling). Null → null. */
object WordPieceEncode extends Kernel("wordpiece_encode",
    Seq(StringType), ArrayType(IntegerType, containsNull = false)) {

  def apply(text: Column, vocab: WordPieceVocab): Column = call(text)(vocab)

  /** Text → token ids of its whitespace words, concatenated. */
  def compute(text: UTF8String, v: WordPieceVocab): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, n) = TextTokenize.tokenize(bytes)
    var out = new Array[Int](16)
    var outLen = 0
    var t = 0
    while (t < n) {
      if (ends(t) > starts(t)) {
        val word = new String(bytes, starts(t), ends(t) - starts(t), "UTF-8")
        val ids = WordPieceKernel.segmentCached(word, v)
        if (outLen + ids.length > out.length)
          out = java.util.Arrays.copyOf(out,
            math.max(out.length * 2, outLen + ids.length))
        System.arraycopy(ids, 0, out, outLen, ids.length)
        outLen += ids.length
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, outLen))
  }
}

/** `wordpiece_decode(ids)` → string — inverse of [[WordPieceEncode]]'s
  * id scheme up to whitespace squeezing (the family round-trip
  * equation). Invalid ids fail loudly. Null ids → null. */
object WordPieceDecode extends Kernel("wordpiece_decode",
    Seq(ArrayType(IntegerType)), StringType) {

  def apply(ids: Column, vocab: WordPieceVocab): Column = call(ids)(vocab)

  /** Ids → concatenated piece contents (decode; the marker is the
    * single lossy step beyond word boundaries — both engines squeeze
    * whitespace, the round-trip equation of the other two families).
    * Invalid ids fail loudly. */
  def compute(ids: ArrayData, v: WordPieceVocab): UTF8String = {
    import WordPieceKernel.{ContBase, MultiBase}
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      val id = ids.getInt(i)
      if (id >= MultiBase) sb.append(v.contentOfRank(id - MultiBase))
      else if (id >= ContBase) {
        val cp = id - ContBase
        require(Character.isValidCodePoint(cp),
          s"invalid continuation token id $id")
        sb.appendCodePoint(cp)
      } else {
        require(id >= 0 && Character.isValidCodePoint(id),
          s"invalid code-point token id $id")
        sb.appendCodePoint(id)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
