package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Scope

import graft.functions.{WordPieceDecode, WordPieceEncode, WordPieceVocab}

/** WordPiece subword tokenizer TRAINING — the third canonical family
  * (Schuster & Nakajima 2012, the BERT-lineage tokenizer) next to
  * [[Bpe]] (merge by raw pair count) and [[Unigram]] (prune by EM
  * likelihood): WordPiece merges like BPE but scores candidates by the
  * LIKELIHOOD GAIN surrogate `count(l,r) / (count(l) · count(r))` — a
  * pair of individually-rare symbols that almost always co-occur
  * merges before a pair of ubiquitous ones, which is what separates
  * the families on real corpora.
  *
  * Pinned deterministic semantics (both engines replay exactly):
  *  - words = the engine's whitespace tokens over the word-FREQUENCY
  *    table; symbols start as code points, every non-initial one
  *    carrying the `##` continuation marker;
  *  - score is the exact-integer quantization
  *    `score_q = (c_pair · 10^12) div (c_l · c_r)` with c_l, c_r the
  *    CURRENT total symbol counts (c_pair ≤ min(c_l, c_r), so
  *    score_q ≤ 10^12 — always a long; the cross-multiplied exact
  *    fraction order is quantized to 12 digits and that quantization
  *    IS the pinned rule, mirrored bit-for-bit in SQL);
  *  - argmax under (score_q DESC, c_pair DESC, l ASC, r ASC); training
  *    stops early when the best pair count falls below `minPairCount`;
  *  - the merge applies leftmost-non-overlapping (the [[Bpe]] fold),
  *    result = l ++ content(r) — r is always a continuation symbol, so
  *    the result keeps l's marker form.
  *
  * Marker guard: a word containing the literal `##` would make initial
  * and continuation piece strings collide — [[learnMerges]] refuses
  * such corpora loudly (BERT's implementations carry the ambiguity
  * silently; see [[graft.functions.WordPieceVocab]]).
  *
  * Scale shape (100 TB): ONE corpus tokenize feeds the word-frequency
  * aggregate; each round is two bounded map-side-combined aggregates
  * over the distinct-word table (pair counts + symbol counts — the
  * symbol table is alphabet+merges sized, broadcast into the score
  * join), a 1-row argmax, and a declarative fold apply (no UDF, no
  * driver word list). `localCheckpoint` between rounds caps the
  * iterative lineage (the Lloyd pattern). Encode/decode are map-only
  * codegen'd kernels ([[graft.functions.WordPieceEncode]]). */
object WordPiece {

  /** Learn `nMerges` WordPiece merges from the corpus. Returns
    * (left, right, pairCount, scoreQ) in merge order; wrap with
    * [[vocabFromMerges]] for [[encode]]/[[count]]/[[decode]].
    *
    * Like [[Bpe.learnMerges]], the Zipf-bounded distinct-word
    * histogram is collected under the `maxDriverWords` guard and
    * every merge trains in driver memory ([[MergeTrainer
    * .wordPieceMerges]] — 2 Spark jobs total instead of 2·nMerges,
    * VERDICT r15 "Next round" 1), falling back to the distributed
    * loop unchanged past the guard; WordPieceSpec pins the two merge
    * sequences equal on random corpora. */
  def learnMerges(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      minPairCount: Long = 2L,
      maxDriverWords: Long = 2000000L): Seq[(String, String, Long, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    val words = Scope.checkpoint(df.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")))
    if (words.count() <= maxDriverWords) {
      val hist = words.collect().map(r => (r.getString(0), r.getLong(1)))
      hist.find(_._1.contains("##")).foreach { case (w, _) =>
        throw new IllegalArgumentException(
          s"requirement failed: corpus word '$w' contains the literal " +
            "'##' continuation marker — WordPiece piece strings would " +
            "be ambiguous")
      }
      return MergeTrainer.wordPieceMerges(hist.toSeq, nMerges,
        minPairCount)
    }
    // the marker-collision guard: bounded 1-row probe, loud refusal
    val bad = words.filter(col("word").contains("##")).limit(1)
      .collect()
    require(bad.isEmpty,
      s"corpus word '${bad.headOption.map(_.getString(0)).orNull}' " +
        "contains the literal '##' continuation marker — WordPiece " +
        "piece strings would be ambiguous")
    var state = Scope.checkpoint(words.select(
      expr("transform(sequence(1, length(word)), i -> " +
        "CASE WHEN i = 1 THEN substring(word, i, 1) " +
        "ELSE concat('##', substring(word, i, 1)) END)").as("syms"),
      col("cnt")))
    val out = Seq.newBuilder[(String, String, Long, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val pairs = state.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, " +
            "element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
      val symc = state
        .select(col("cnt"), explode(col("syms")).as("s"))
        .groupBy("s").agg(sum("cnt").as("sc"))
      val best = pairs
        .join(broadcast(symc.select(col("s").as("l"), col("sc").as("cl"))),
          Seq("l"))
        .join(broadcast(symc.select(col("s").as("r"), col("sc").as("cr"))),
          Seq("r"))
        .filter(col("c") >= minPairCount)
        .withColumn("sq", expr(
          "(CAST(c AS DECIMAL(38,0)) * 1000000000000) div " +
            "(CAST(cl AS DECIMAL(38,0)) * CAST(cr AS DECIMAL(38,0)))"))
        .orderBy(desc("sq"), desc("c"), col("l"), col("r"))
        .limit(1).select("l", "r", "c", "sq").collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, c, sq) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2), best(0).getLong(3))
        require(r.startsWith("##"),
          s"right merge symbol '$r' is not a continuation form")
        val merged = l + r.substring(2)
        out += ((l, r, c, sq))
        val folded = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
            .otherwise(concat(acc, array(x))))
        state = Scope.checkpoint(state.select(folded.as("syms"), col("cnt")))
      }
      round += 1
    }
    out.result()
  }

  /** The serving vocabulary of a merge table: results in merge order
    * (rank = index — the id scheme on [[graft.functions.WordPieceVocab]]).
    *
    * Two merges CAN legitimately yield the same result string on some
    * corpora (e.g. `abc` via (a,##bc) in one round and (ab,##c) in a
    * later one, each surviving in different words — ADVICE r15); the
    * greedy longest-match encoder only needs ONE id per string, so
    * duplicates are dropped keeping the FIRST rank, and the DuckDB
    * oracle's `wpv` CTE carries the identical min-rank dedup rule. */
  def vocabFromMerges(merges: Seq[(String, String, Long, Long)])
      : WordPieceVocab = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    merges.foreach { case (l, r, _, _) => seen += (l + r.substring(2)) }
    new WordPieceVocab(seen.toArray)
  }

  /** Persist a vocabulary as a SERVABLE artifact — the tokenizer.json
    * of this engine: one parquet of `(rank, piece)` rows (rank = the
    * merge order the id scheme is defined by). Refuses a non-empty
    * target (the index/WET/tar commit discipline). A stored vocabulary
    * makes serving reproducible across sessions and clusters: encode
    * under [[readVocab]] is bit-identical to encode under the trainer's
    * in-memory vocabulary, which the llm_wordpiece_persisted gate pins
    * with the same oracle as the direct path. */
  def writeVocab(
      spark: org.apache.spark.sql.SparkSession,
      vocab: graft.functions.WordPieceVocab,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"vocabulary target $path exists and is not empty")
    import spark.implicits._
    vocab.pieces.zipWithIndex
      .map { case (piece, i) => (i.toLong, piece) }.toSeq
      .toDF("rank", "piece")
      .coalesce(1).write.parquet(path)
  }

  /** Load a vocabulary written by [[writeVocab]]; ranks must be dense
    * 0..n−1 (a hole means a torn or foreign artifact — loud). */
  def readVocab(
      spark: org.apache.spark.sql.SparkSession,
      path: String): graft.functions.WordPieceVocab = {
    val rows = spark.read.parquet(path).select("rank", "piece")
      .collect().sortBy(_.getLong(0))
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getLong(0) == i,
        s"vocabulary at $path has non-dense rank ${r.getLong(0)} " +
          s"at position $i — torn or foreign artifact")
    }
    new graft.functions.WordPieceVocab(rows.map(_.getString(1)))
  }

  /** `array<int>` of WordPiece token ids (null text → null). */
  def encode(text: Column, vocab: WordPieceVocab): Column =
    WordPieceEncode(text, vocab)

  /** Real token count under the WordPiece vocabulary. */
  def count(text: Column, vocab: WordPieceVocab): Column =
    size(encode(text, vocab)).cast("long")

  /** Inverse of [[encode]]: `decode(encode(text))` equals `text` with
    * its whitespace squeezed out (the family round-trip equation). */
  def decode(ids: Column, vocab: WordPieceVocab): Column =
    WordPieceDecode(ids, vocab)
}
