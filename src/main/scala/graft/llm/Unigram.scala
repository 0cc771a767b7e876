package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Scope

import graft.functions.{UnigramDecode, UnigramEncode, UnigramKernel, UnigramSegment, UnigramVocab}

/** Unigram-LM (SentencePiece-style) subword tokenizer TRAINING — the
  * second dominant tokenizer family next to [[Bpe]] (Kudo 2018): seed a
  * candidate vocabulary from corpus substrings, then run hard-EM rounds
  * (Viterbi-segment the corpus under the current piece counts, re-count
  * piece usage, prune), and keep the top pieces. VERDICT r13 task 4.
  *
  * Pinned deterministic semantics (both engines replay exactly):
  *  - words = the engine's whitespace tokens; all counting is over the
  *    DISTINCT-word frequency table (Zipf — words ≪ corpus);
  *  - seed: every code-point substring of length 1..`maxPieceLen` of
  *    every word, weighted by word frequency, overlaps included;
  *    singles (length 1) ALL enter the alphabet with their counts;
  *    multi-code-point candidates need count ≥ `minCount` and the top
  *    `seedSize` survive under (count DESC, piece ASC in UTF-8 byte
  *    order);
  *  - each EM round: Viterbi-segment every distinct word under the
  *    CURRENT vocabulary counts (the exact-integer objective pinned on
  *    [[graft.functions.UnigramVocab]]: fewest pieces, then highest
  *    summed counts, then the longer final piece per prefix),
  *    usage(p) = Σ word-freq ×
  *    uses; the next vocabulary keeps every alphabet single with its
  *    usage (0 allowed — totality) and the multi pieces whose usage
  *    stays ≥ `minCount`;
  *  - final vocabulary = alphabet + the top `vocabSize` multi pieces
  *    under (usage DESC, piece ASC).
  *
  * Scale shape (100 TB): ONE corpus tokenize feeds the word-frequency
  * aggregate; everything after runs over the distinct-word table — the
  * seed explode is words × positions × `maxPieceLen` (bounded by word
  * lengths, not corpus size), each EM round is one map-only
  * [[graft.functions.UnigramSegment]] pass + a vocabulary-bounded
  * usage aggregate, and the only driver state is the vocabulary
  * (`seedSize` + alphabet rows). Encode/decode are map-only codegen'd
  * kernels with the vocabulary shipped as a codegen reference object
  * (the [[graft.functions.BpeEncode]] pattern). */
object Unigram {

  val DefaultMaxPieceLen = 4

  /** Train a unigram vocabulary from the corpus. Returns the
    * [[UnigramVocab]] for [[encode]]/[[decode]]/[[count]]. */
  def learn(
      df: DataFrame,
      textCol: String,
      seedSize: Int = 60,
      vocabSize: Int = 40,
      rounds: Int = 2,
      maxPieceLen: Int = DefaultMaxPieceLen,
      minCount: Long = 2L): UnigramVocab = {
    require(seedSize > 0 && vocabSize > 0 && rounds >= 1,
      "seedSize, vocabSize, rounds must be positive")
    val wc = Scope.checkpoint(df.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")))
    // seed: all code-point substrings, weighted by word frequency.
    // filter() guards the degenerate sequence(1, 0) (Spark generates a
    // DESCENDING sequence there, not an empty one)
    val subs = wc.select(col("cnt"), explode(expr(
      s"""flatten(transform(
         |  filter(sequence(1, $maxPieceLen), L -> L <= length(word)),
         |  L -> transform(sequence(1, length(word) - L + 1),
         |       i -> substring(word, i, L))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val alphabet = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val seed = subs
      .filter(length(col("piece")) >= 2 && col("c") >= minCount)
      .orderBy(desc("c"), asc("piece")).limit(seedSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var singles = alphabet
    var multis = seed
    var r = 0
    while (r < rounds) {
      val v = new UnigramVocab(singles ++ multis, maxPieceLen)
      val usage = wc
        .select(col("cnt"),
          explode(UnigramSegment(col("word"), v)).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("c"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      singles = singles.map { case (p, _) => (p, usage.getOrElse(p, 0L)) }
      multis = multis.flatMap { case (p, _) =>
        val u = usage.getOrElse(p, 0L)
        if (u >= minCount) Some((p, u)) else None
      }
      r += 1
    }
    val top = multis.sortWith { case ((pa, ca), (pb, cb)) =>
      ca > cb || (ca == cb && UnigramKernel.cpCompare(pa, pb) < 0)
    }.take(vocabSize)
    new UnigramVocab(singles ++ top, maxPieceLen)
  }

  /** Persist a vocabulary as a SERVABLE artifact (the
    * [[WordPiece.writeVocab]] discipline): one parquet of
    * `(piece, count, max_piece_len)` rows — counts because the Viterbi
    * objective ranks on them, the window bound as a constant column so
    * the artifact is self-describing. Refuses a non-empty target. */
  def writeVocab(
      spark: org.apache.spark.sql.SparkSession,
      vocab: UnigramVocab,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"vocabulary target $path exists and is not empty")
    import spark.implicits._
    vocab.pieces.toSeq
      .map { case (piece, c) => (piece, c, vocab.maxPieceLen) }
      .toDF("piece", "count", "max_piece_len")
      .coalesce(1).write.parquet(path)
  }

  /** Load a vocabulary written by [[writeVocab]]; the constant
    * `max_piece_len` column must be unanimous (loud otherwise). */
  def readVocab(
      spark: org.apache.spark.sql.SparkSession,
      path: String): UnigramVocab = {
    val rows = spark.read.parquet(path)
      .select("piece", "count", "max_piece_len").collect()
    require(rows.nonEmpty, s"vocabulary at $path is empty")
    val mls = rows.map(_.getInt(2)).distinct
    require(mls.length == 1,
      s"vocabulary at $path carries ${mls.length} distinct " +
        "max_piece_len values — torn or foreign artifact")
    // piece order in the file is irrelevant: UnigramVocab ranks by
    // (count DESC, piece ASC) internally, so the rebuilt vocabulary is
    // id-identical to the trainer's
    new UnigramVocab(
      rows.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1),
      mls(0))
  }

  /** `array<int>` of unigram token ids (null text → null). */
  def encode(text: Column, vocab: UnigramVocab): Column =
    UnigramEncode(text, vocab)

  /** Real token count under the unigram vocabulary. */
  def count(text: Column, vocab: UnigramVocab): Column =
    size(encode(text, vocab)).cast("long")

  /** Inverse of [[encode]]: `decode(encode(text))` equals `text` with
    * its whitespace squeezed out (the [[Bpe.decode]] equation). */
  def decode(ids: Column, vocab: UnigramVocab): Column =
    UnigramDecode(ids, vocab)
}
