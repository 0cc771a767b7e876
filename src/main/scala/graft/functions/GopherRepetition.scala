package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `gopher_repetition(text)` → struct of the 13 Gopher repetition
  * metrics (Rae et al. 2021, Appendix A1.1) in ONE pass over the
  * document — the map-only kernel behind
  * [[graft.llm.Repetition.repetitionMetrics]].
  *
  * Every metric is WITHIN-document, so the right physical shape is a
  * codegen'd scalar expression (the [[RepeatedNgramRatio]] precedent:
  * its declarative explode form benched 19× slower), not nine tagged
  * n-gram explodes plus doc-keyed windows: this kernel shuffles
  * nothing and the operator stays inside whole-stage codegen.
  *
  * Semantics are pinned to the declarative/SQL mirror exactly
  * (`llm_gopher_repetition` oracle):
  *  - lines split on `\n`, paragraphs on `\n\n` (leftmost
  *    non-overlapping), BLANK units (empty after SPACE-trim — Spark's
  *    `trim` strips 0x20 only) excluded from both sides of the ratio;
  *  - duplicate unit mass = occurrences beyond the first, unit chars =
  *    code-point length;
  *  - tokens = `split(trim(text), "\s+", -1)` INCLUDING any leading
  *    empty token a post-trim leading `\n` produces (exact parity with
  *    the engine's tokenizer column); n-grams join tokens with one
  *    space; fewer than n tokens → no n-grams;
  *  - top n-gram fraction = top count × gram code-point length /
  *    document code-point length, ties toward the lexicographically
  *    smallest gram in CODE-POINT order (≡ the SQL mirror's UTF-8 byte
  *    collation for ALL inputs — ADVICE r13: raw UTF-16 `compareTo`
  *    would order supplementary-plane grams after U+E000–U+FFFF ones
  *    and diverge from the mirror on non-BMP corpora);
  *  - duplicated n-gram coverage = the position UNION of every
  *    occurrence of a gram seen twice or more, counting covered
  *    NON-EMPTY token code points over total token code points.
  * All divisions are double divisions of exact integers — bit-equal to
  * the mirror. Null text → null (callers coalesce). */
object GopherRepetition extends Kernel("gopher_repetition", Seq(StringType),
    // field order = [[graft.llm.Repetition.GopherThresholds]] order
    StructType(Seq(
      "dup_line_frac", "dup_para_frac",
      "dup_line_char_frac", "dup_para_char_frac",
      "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
      "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
      "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac")
      .map(StructField(_, DoubleType, nullable = false)))) {

  val FieldNames: Seq[String] = dataType.asInstanceOf[StructType].fieldNames.toSeq

  def apply(text: Column): Column = call(text)()

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Code-point lexicographic compare ≡ UTF-8 byte order (the SQL
    * mirror's collation). Differs from `String.compareTo` exactly when
    * the first differing position pits a surrogate pair (a
    * supplementary code point ≥ U+10000) against a char in
    * U+E000–U+FFFF — UTF-16 code units order those backwards. */
  private def cpCompare(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      if (a.charAt(i) != b.charAt(i)) {
        // compare the full code points at the first differing unit
        // (charAt equality above keeps i on aligned boundaries)
        return Integer.compare(a.codePointAt(i), b.codePointAt(i))
      }
      i += 1
    }
    Integer.compare(la, lb)
  }

  /** Spark `trim`: leading/trailing 0x20 only (NOT Java's trim, which
    * also strips control chars — that would diverge on `\n`). */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** (dup_frac, dup_char_frac) over one unit grain. */
  private def unitMetrics(units: Array[String]): (Double, Double) = {
    val counts = new java.util.HashMap[String, Integer]()
    var nu = 0L
    var ch = 0L
    var i = 0
    while (i < units.length) {
      val u = units(i)
      if (trimSpaces(u).nonEmpty) {
        nu += 1
        ch += cpLen(u)
        val c = counts.get(u)
        counts.put(u, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    if (nu == 0) return (0.0, 0.0)
    var du = 0L
    var dch = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.intValue
      if (c > 1) {
        du += c - 1
        dch += (c - 1).toLong * cpLen(e.getKey)
      }
    }
    (du.toDouble / nu, if (ch > 0) dch.toDouble / ch else 0.0)
  }

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val out = new Array[Any](13)
    val (lf, lcf) = unitMetrics(s.split("\n", -1))
    val (pf, pcf) = unitMetrics(s.split("\n\n", -1))
    out(0) = lf; out(1) = pf; out(2) = lcf; out(3) = pcf

    val toks = trimSpaces(s).split("\\s+", -1)
    val tl = cpLen(s)
    // token code-point lengths once; empty tokens carry 0 mass
    val wl = new Array[Int](toks.length)
    var totTok = 0L
    var ti = 0
    while (ti < toks.length) {
      wl(ti) = cpLen(toks(ti))
      totTok += wl(ti)
      ti += 1
    }

    // top n-gram char fraction, n = 2, 3, 4
    var n = 2
    while (n <= 4) {
      var frac = 0.0
      if (toks.length >= n && tl > 0) {
        val counts = new java.util.HashMap[String, Integer]()
        val grams = new Array[String](toks.length - n + 1)
        var i = 0
        while (i <= toks.length - n) {
          val sb = new java.lang.StringBuilder()
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks(i + k))
            k += 1
          }
          val g = sb.toString
          grams(i) = g
          val c = counts.get(g)
          counts.put(g, if (c == null) 1 else c + 1)
          i += 1
        }
        var bestC = 0
        var bestG: String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue
          if (c > bestC ||
              (c == bestC && cpCompare(e.getKey, bestG) < 0)) {
            bestC = c
            bestG = e.getKey
          }
        }
        frac = bestC.toLong * cpLen(bestG) / tl.toDouble
      }
      out(2 + n) = frac // fields 4..6
      n += 1
    }

    // duplicated n-gram coverage, n = 5..10: position union of grams
    // occurring >= 2 times, covered non-empty token mass / total mass
    val cover = new Array[Boolean](toks.length)
    n = 5
    while (n <= 10) {
      var frac = 0.0
      if (toks.length >= n && totTok > 0) {
        val counts = new java.util.HashMap[String, Integer]()
        val grams = new Array[String](toks.length - n + 1)
        var i = 0
        while (i <= toks.length - n) {
          val sb = new java.lang.StringBuilder()
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks(i + k))
            k += 1
          }
          val g = sb.toString
          grams(i) = g
          val c = counts.get(g)
          counts.put(g, if (c == null) 1 else c + 1)
          i += 1
        }
        java.util.Arrays.fill(cover, false)
        i = 0
        while (i < grams.length) {
          if (counts.get(grams(i)).intValue >= 2) {
            var k = i
            while (k < i + n) { cover(k) = true; k += 1 }
          }
          i += 1
        }
        var cw = 0L
        i = 0
        while (i < toks.length) {
          if (cover(i)) cw += wl(i)
          i += 1
        }
        frac = cw.toDouble / totTok
      }
      out(2 + n) = frac // fields 7..12
      n += 1
    }
    new GenericInternalRow(out)
  }
}
