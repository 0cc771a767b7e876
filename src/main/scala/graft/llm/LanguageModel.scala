package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet/KenLM-style
  * perplexity filter every web-scale pretraining pipeline runs: train
  * a smoothed bigram model on a (reference or self) corpus, score each
  * document by its perplexity under the model, and gate or bucket on
  * the score. This engine ships the exact-arithmetic core of that
  * stage: distributed bigram counting and map-shaped scoring whose
  * result is bit-deterministic under any partitioning.
  *
  * Model: add-one-smoothed bigram probabilities over whitespace tokens
  * (the engine's [[TextAnalysis.tokens]] walker),
  * p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V), with c(w1,·) the
  * CONTEXT count (bigrams starting with w1) and V the corpus
  * vocabulary size — so probabilities sum to 1 over each context.
  *
  * Determinism contract: per-bigram log-probabilities are quantized to
  * integer MICRO-NATS (`round(ln(p)·10⁶)` as long) before the per-doc
  * sum — an exact integer fold, so the perplexity is independent of
  * partitioning and float-add order (the exact-cents pattern,
  * SURVEY §5), and a SQL mirror reproduces it bit-for-bit.
  *
  * Scale shape (100 TB):
  *  - '''training''' is one shuffle: the raw bigram stream partially
  *    aggregates map-side into (w1, w2) counts, so what crosses the
  *    exchange is vocabulary-bounded, not corpus-bounded; context
  *    counts reduce the COUNTS table (never the stream) and the
  *    vocabulary size is one partial-distinct aggregate.
  *  - '''scoring''' re-scans the corpus once and joins each doc's
  *    bigrams against the model. With `broadcastModel=true` (default —
  *    right whenever the bigram table fits an executor, i.e. vocab² is
  *    bounded) the join is a broadcast hash join: NO shuffle of the
  *    corpus-sized bigram stream, and Zipf-hot bigrams ("of the" in
  *    every document) cost nothing because nothing partitions by
  *    bigram. With `broadcastModel=false` (billion-row models) both
  *    joins shuffle by key and the Zipf head becomes a skew-join
  *    problem — exactly the shape Spark AQE's skew-split handles;
  *    enable AQE on such runs.
  *  - the corpus is scanned twice (train + score) — inherent to
  *    self-trained LM filtering; score-only runs against a persisted
  *    model scan once.
  */
object LanguageModel {

  /** The (idCol, `__toks` token-array) table — the shared scan the
    * self-trained chains materialize ONCE (r17, guide §2.4: the model
    * counts, the vocabulary, and the scoring stream each re-tokenized
    * the corpus before; localCheckpoint makes tokenization a single
    * pass and every consumer a cache read, and truncates the upstream
    * lineage). */
  private def tokTable(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .localCheckpoint()

  /** Bigram stream from a token-array table ([[tokTable]] shape). */
  private def bigramsFromToks(toks: DataFrame, idCol: String): DataFrame =
    toks.filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__toks"), lit(1), size(col("__toks")) - 1).as("w1"),
          slice(col("__toks"), lit(2), size(col("__toks")) - 1).as("w2")))
          .as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))

  /** One row per in-document adjacent token pair: (idCol, w1, w2).
    * Documents with fewer than two tokens contribute nothing. */
  def docBigrams(df: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__toks"), lit(1), size(col("__toks")) - 1).as("w1"),
          slice(col("__toks"), lit(2), size(col("__toks")) - 1).as("w2")))
          .as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
  }

  /** Bigram count table (w1, w2, cb) — the trained model. Map-side
    * combined; output is vocabulary²-bounded. */
  def bigramCounts(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    docBigrams(df, textCol, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))

  /** Persist a corpus-trained model under `path`: `bigrams` (w1, w2,
    * cb), `contexts` (w1, cu) and a one-row `vocab` (v) — the
    * train-once layout behind score-only runs (ONE corpus scan instead
    * of the self-trained path's two) and the stream-static twin. */
  def writeModel(
      df: DataFrame, textCol: String, idCol: String, path: String): Unit = {
    val cb = bigramCounts(df, textCol, idCol)
    cb.write.mode("overwrite").parquet(s"$path/bigrams")
    cb.sparkSession.read.parquet(s"$path/bigrams")
      .groupBy("w1").agg(sum("cb").as("cu"))
      .write.mode("overwrite").parquet(s"$path/contexts")
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .agg(countDistinct(col("__w")).as("v"))
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Score a corpus against an EXTERNALLY-trained model ([[writeModel]]
    * output, or any (w1, w2, cb)/(w1, cu) tables + vocabulary size):
    * the same integer micro-nat arithmetic as [[bigramPerplexity]],
    * identical results when the model was trained on `df` itself.
    * Bigrams absent from the model are dropped from the sum (the
    * in-vocabulary perplexity — a production filter scoring NEW text
    * against a reference model would add an OOV/backoff term here).
    * Works unchanged on a STREAMING `df` (stream-static broadcast
    * joins + an update-mode per-doc aggregation). */
  def scoreAgainstModel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bigrams: DataFrame,
      contexts: DataFrame,
      vocabSize: Long,
      broadcastModel: Boolean = true): DataFrame = {
    // broadcastModel=false must GUARANTEE the shuffle shape (r13):
    // without the hint Catalyst auto-broadcasts any model under
    // spark.sql.autoBroadcastJoinThreshold, silently reinstating the
    // executor-memory profile the caller opted out of
    val cbJ = if (broadcastModel) broadcast(bigrams)
      else bigrams.hint("shuffle_hash")
    val cuJ = if (broadcastModel) broadcast(contexts)
      else contexts.hint("shuffle_hash")
    docBigrams(df, textCol, idCol)
      .join(cbJ, Seq("w1", "w2"))
      .join(cuJ, Seq("w1"))
      .select(col(idCol),
        round(log((col("cb") + lit(1)).cast("double") /
            (col("cu") + lit(vocabSize)).cast("double")) * lit(1e6))
          .cast("long").as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("__lp").as("__slp"))
      .select(col(idCol), col("n_bigrams"),
        round(exp((col("__slp").cast("double") / lit(-1e6)) /
          col("n_bigrams").cast("double")), 6).as("ppl"))
  }

  /** Trigram stream from a token-array table ([[tokTable]] shape). */
  private def trigramsFromToks(toks: DataFrame, idCol: String): DataFrame =
    toks.filter(size(col("__toks")) >= 3)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__toks"), lit(1), size(col("__toks")) - 2).as("w1"),
          slice(col("__toks"), lit(2), size(col("__toks")) - 2).as("w2"),
          slice(col("__toks"), lit(3), size(col("__toks")) - 2).as("w3")))
          .as("__tg"))
      .select(col(idCol), col("__tg.w1").as("w1"),
        col("__tg.w2").as("w2"), col("__tg.w3").as("w3"))

  /** One row per in-document adjacent token TRIPLE:
    * (idCol, w1, w2, w3); documents with < 3 tokens contribute
    * nothing. */
  def docTrigrams(df: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 3)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__toks"), lit(1), size(col("__toks")) - 2).as("w1"),
          slice(col("__toks"), lit(2), size(col("__toks")) - 2).as("w2"),
          slice(col("__toks"), lit(3), size(col("__toks")) - 2).as("w3")))
          .as("__tg"))
      .select(col(idCol), col("__tg.w1").as("w1"),
        col("__tg.w2").as("w2"), col("__tg.w3").as("w3"))
  }

  /** Trigram Stupid Backoff scoring (Brants et al. 2007) — the
    * web-scale LM score that skips normalization: per position,
    *   S(w3|w1w2) = f(w1w2w3)/f(w1w2)            when the trigram is
    *                                              in the model,
    *              = 0.4·f(w2w3)/f(w2)             backing off to the
    *                                              bigram,
    *              = 0.4·0.4·(f(w3)+1)/(N+V)       at the unigram floor
    *                                              (add-one so OOV
    *                                              words score finitely
    *                                              instead of −∞).
    * `train` is the reference corpus (the model); `df` is scored
    * against it — the deployment shape where backoff actually fires
    * (a self-scored corpus never misses its own trigrams). Output:
    * (idCol, n_trigrams, ppl) with the same integer micro-nat fold as
    * [[bigramPerplexity]] — bit-deterministic, SQL-mirrorable. Docs
    * with < 3 tokens are excluded.
    *
    * Scale shape: three count tables (trigram/bigram/unigram), all
    * map-side combined and vocabulary-bounded; one 2-scalar stats row
    * (N, V) rides a broadcast cross join; scoring joins all model
    * tables BROADCAST (`broadcastModel=false` flips them to shuffle +
    * AQE skew-split, as in [[bigramPerplexity]]). */
  def stupidBackoff(
      df: DataFrame,
      train: DataFrame,
      textCol: String,
      idCol: String,
      broadcastModel: Boolean = true): DataFrame = {
    def b(m: DataFrame) = if (broadcastModel) broadcast(m)
      else m.hint("shuffle_hash") // pinned shape, see scoreAgainstModel
    // one tokenize pass over the TRAIN corpus for all three count
    // tables (r17, guide §2.4 — was 3 passes); the scored side keeps
    // its direct single pass (stream-safe: `df` may be unbounded)
    val trainToks = tokTable(train, textCol, idCol)
    val tc = trigramsFromToks(trainToks, idCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__tc"))
    val bc = bigramsFromToks(trainToks, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val uc = trainToks
      .select(explode(col("__toks")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("__cu"))
    val st = uc.agg(sum("__cu").as("__n"), count(lit(1)).as("__v"))
    val s = docTrigrams(df, textCol, idCol)
      .join(b(tc), Seq("w1", "w2", "w3"), "left")
      .join(b(bc.toDF("w1", "w2", "__cb12")), Seq("w1", "w2"), "left")
      .join(b(bc.toDF("w2", "w3", "__cb23")), Seq("w2", "w3"), "left")
      .join(b(uc.toDF("w2", "__cu2")), Seq("w2"), "left")
      .join(b(uc.toDF("w3", "__cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(st))
      .select(col(idCol),
        round(
          when(col("__tc").isNotNull,
            log(col("__tc").cast("double") / col("__cb12").cast("double")))
          .when(col("__cb23").isNotNull,
            log(lit(0.4) *
              (col("__cb23").cast("double") / col("__cu2").cast("double"))))
          .otherwise(
            log(lit(0.4) * lit(0.4) *
              ((coalesce(col("__cu3"), lit(0L)).cast("double") + lit(1.0)) /
                (col("__n") + col("__v")).cast("double")))) * lit(1e6))
          .cast("long").as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum("__lp").as("__slp"))
    s.select(col(idCol), col("n_trigrams"),
      round(exp((col("__slp").cast("double") / lit(-1e6)) /
        col("n_trigrams").cast("double")), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (the gold-standard
    * n-gram smoothing — Kneser & Ney 1995, Chen & Goodman 1998),
    * self-trained like [[bigramPerplexity]]:
    *   P(w2|w1) = (max(c(w1w2)−D, 0) + D·N₁₊(w1·)·P_cont(w2)) / c(w1·)
    *   P_cont(w2) = N₁₊(·w2) / |bigram types|
    * with fixed discount D (default 0.75). The continuation
    * probability is what distinguishes KN: a word seen in MANY
    * contexts ("Francisco" appears often but only after "San") gets
    * low continuation mass — the right behaviour for a quality
    * filter. Self-trained scoring means every bigram is in the model,
    * so P > 0 with no OOV arm (held-out scoring with backoff is
    * [[stupidBackoff]]'s job).
    *
    * Same determinism contract and scale shape as the add-one scorer:
    * integer micro-nat log sums, vocabulary-bounded model tables
    * (counts, per-context (total, distinct-successors), per-word
    * distinct-predecessors, one scalar type count), broadcast scoring
    * joins. Output: (idCol, n_bigrams, ppl). */
  def kneserNeyPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
      discount: Double = 0.75,
      broadcastModel: Boolean = true): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    def b(m: DataFrame) = if (broadcastModel) broadcast(m)
      else m.hint("shuffle_hash") // pinned shape, see scoreAgainstModel
    // one tokenize pass shared by the model counts and the scoring
    // stream (r17, guide §2.4 — the self-trained chain re-tokenized)
    val bg = bigramsFromToks(tokTable(df, textCol, idCol), idCol)
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val ctx = cb.groupBy("w1")
      .agg(sum("__cb").as("__cu"), count(lit(1)).as("__n1f"))
    val bwd = cb.groupBy("w2").agg(count(lit(1)).as("__n1b"))
    val nt = cb.agg(count(lit(1)).as("__nt"))
    val pCont = col("__n1b").cast("double") / col("__nt").cast("double")
    val p = (greatest(col("__cb").cast("double") - lit(discount), lit(0.0))
        + lit(discount) * col("__n1f").cast("double") * pCont) /
      col("__cu").cast("double")
    bg.join(b(cb), Seq("w1", "w2"))
      .join(b(ctx), Seq("w1"))
      .join(b(bwd), Seq("w2"))
      .crossJoin(broadcast(nt))
      .select(col(idCol),
        round(log(p) * lit(1e6)).cast("long").as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("__lp").as("__slp"))
      .select(col(idCol), col("n_bigrams"),
        round(exp((col("__slp").cast("double") / lit(-1e6)) /
          col("n_bigrams").cast("double")), 6).as("ppl"))
  }

  /** Per-document perplexity under the corpus-trained add-one bigram
    * model: (idCol, n_bigrams, ppl), docs with < 2 tokens excluded.
    * ppl = exp(−Σ round(ln p·10⁶) / 10⁶ / n_bigrams), rounded to 6. */
  def bigramPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
      broadcastModel: Boolean = true): DataFrame =
    microNatSums(df, textCol, idCol, broadcastModel)
      .select(col(idCol), col("n_bigrams"),
        round(exp((col("__slp").cast("double") / lit(-1e6)) /
          col("n_bigrams").cast("double")), 6).as("ppl"))

  /** Per-doc integer micro-nat log-prob sums under the corpus-trained
    * add-one bigram model: (idCol, n_bigrams, __slp). The exact-
    * integer core [[bigramPerplexity]] and [[perplexityBuckets]]
    * share. */
  private def microNatSums(
      df: DataFrame,
      textCol: String,
      idCol: String,
      broadcastModel: Boolean): DataFrame = {
    // r17 (guide §2.4): ONE tokenize pass — the bigram counts, the
    // vocabulary, and the scoring stream previously each re-tokenized
    // the corpus (3 scans); all three now read the materialized
    // token-array table.
    val toks = tokTable(df, textCol, idCol)
    val bg = bigramsFromToks(toks, idCol)
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // contexts from the COUNTS table, not the raw stream: sums are
    // equal, input is vocab²-bounded instead of corpus-bounded
    val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
    // the token walker yields [""] for empty/whitespace-only text —
    // exclude that degenerate token from the vocabulary
    val voc = toks.select(explode(col("__toks")).as("__w"))
      .filter(length(col("__w")) > 0)
      .agg(countDistinct(col("__w")).as("__v"))
    // r17: ONE model table — the context totals ride on the bigram
    // rows (cb ⋈ cu pre-joined, a vocab²-bounded model⋈model join), so
    // the CORPUS-SIZED bigram stream pays one join instead of two;
    // identical cb/cu values reach the arithmetic. broadcastModel=false
    // pins shuffle-hash on BOTH joins (the r13 contract: a billion-row
    // model must never auto-broadcast — cu is model-sized too)
    val model =
      if (broadcastModel) cb.join(cu, Seq("w1"))
      else cb.join(cu.hint("shuffle_hash"), Seq("w1"))
    val modelJ = if (broadcastModel) broadcast(model)
      else model.hint("shuffle_hash") // pinned shape, see scoreAgainstModel
    bg.join(modelJ, Seq("w1", "w2"))
      .crossJoin(broadcast(voc))
      .select(col(idCol),
        round(log((col("cb") + lit(1)).cast("double") /
            (col("cu") + col("__v")).cast("double")) * lit(1e6))
          .cast("long").as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("__lp").as("__slp"))
  }

  /** CCNet-style perplexity BUCKETING (Wenzek et al. 2020): split the
    * corpus into `head` / `middle` / `tail` thirds by LM perplexity —
    * the standard pre-training recipe keeps head+middle and drops or
    * down-weights the tail. Everything stays exact integer algebra:
    * the ranking key is `score_micro = (−Σ micro-nat log-probs) div
    * n_bigrams` (avg micro-nats per bigram — monotone in perplexity,
    * no float), and the tertile cutoffs come from a distributed
    * prefix-sum cumsum over the DISTINCT-SCORE table
    * ([[graft.stats.GlobalOrder.exclusivePrefixReleasable]] — r17: continuous
    * scores make distinct count ≈ doc count, so the former
    * single-partition window was the corpus through one task) —
    * `c1 = min score with 3·cum ≥ n`, `c2 = min score with
    * 3·cum ≥ 2n`, ties share the lower bucket, so membership is
    * value-determined and partition-invariant. Returns (idCol, n_bigrams, score_micro,
    * bucket); docs with < 2 tokens are excluded as in
    * [[bigramPerplexity]].
    *
    * Scale shape: model joins broadcast; one groupBy-doc exchange for
    * the sums; the cutoff table is |distinct scores| rows (bounded by
    * doc count but typically tiny) with two single-row scalars
    * broadcast back — no global sort of the corpus anywhere. */
  def perplexityBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      broadcastModel: Boolean = true,
      groupCol: Option[String] = None): DataFrame = {
    val gs = groupCol.toSeq
    val sums = microNatSums(df, textCol, idCol, broadcastModel)
    // the group (CCNet: language) is per-doc metadata the sums lost at
    // the groupBy — one id-keyed join of two doc-count-sized tables
    val withG = groupCol match {
      case Some(g) => sums.join(
        df.select(col(idCol), col(g)), Seq(idCol))
      case None => sums
    }
    // the per-doc score table feeds THREE consumers (the distinct
    // table, the per-group totals, the final labeling join) plus the
    // range partitioner's sampling pass — materialize it once (r17,
    // guide §5: it is doc-count-sized — id, group, two longs — and
    // every consumer otherwise re-executes the whole scoring chain)
    val scores = withG.select(
      (col(idCol) +: gs.map(col)) :+ col("n_bigrams") :+
        expr("(-__slp) div n_bigrams").as("score_micro"): _*)
      .localCheckpoint()
    // DISTINCT-(group, score) table, cumulated by the distributed
    // prefix-sum decomposition (r17, guide §2 — the former
    // Window.partitionBy(groups).orderBy(score) funnelled the whole
    // distinct-score table through ONE task when ungrouped, and
    // through one task per language when grouped; for continuous
    // scores distinct count ≈ doc count, so that is the corpus
    // through one partition at 100 TB. GlobalOrder range-partitions
    // on (group, score), sums per-partition partials — P rows to the
    // driver — and finishes with a partition-local window; the
    // per-group inclusive cumsum is the global exclusive prefix minus
    // the group's first prefix plus the row's own count, recovered
    // with one aggregate-sized join).
    val dist = scores
      .groupBy(gs.map(col) :+ col("score_micro"): _*)
      .agg(count(lit(1)).as("__c"))
    val (pref, _, _) = graft.stats.GlobalOrder.exclusivePrefixReleasable(
      dist, gs.map(col) :+ col("score_micro"), col("__c"), "__excl",
      // no precheckpoint: dist is ONE cheap aggregate over the
      // checkpointed scores table — running it twice (sampling +
      // exchange) measured FASTER than materializing it first
      // (interleaved A/B, 6/8 pairs; OPTIMIZATION_r17.md)
      precheckpoint = false)
    val cum =
      if (gs.isEmpty)
        pref.select(col("score_micro"),
          (col("__excl") + col("__c")).as("__cum"))
      else {
        val goff = pref.groupBy(gs.map(col): _*)
          .agg(min("__excl").as("__goff"))
        pref.join(broadcast(goff), gs)
          .select(gs.map(col) :+ col("score_micro") :+
            (col("__excl") - col("__goff") + col("__c")).as("__cum"): _*)
      }
    val tot = scores.groupBy(gs.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val withTot =
      if (gs.isEmpty) cum.crossJoin(broadcast(tot))
      else cum.join(broadcast(tot), gs)
    val cuts = withTot.groupBy(gs.map(col): _*).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("score_micro")))
        .as("__c1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("score_micro")))
        .as("__c2"))
    val labeled =
      if (gs.isEmpty) scores.crossJoin(broadcast(cuts))
      else scores.join(broadcast(cuts), gs)
    labeled.select(
      (col(idCol) +: gs.map(col)) :+ col("n_bigrams") :+
        col("score_micro") :+
        when(col("score_micro") <= col("__c1"), lit("head"))
          .when(col("score_micro") <= col("__c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"): _*)
  }

  /** CCNet at its ACTUAL grain (r13, VERDICT r12 task 7; Wenzek et
    * al. 2020 §4.4): the unit of perplexity filtering is the
    * PARAGRAPH, not the document — split each doc on `\n`, score and
    * bucket every paragraph under the corpus-trained LM, drop the
    * `tail` paragraphs, and reassemble the survivors in document
    * order. Returns one row per doc with ≥ 1 SCORABLE paragraph:
    * (idCol, n_paras, n_kept, text_clean) — `n_paras` counts scorable
    * paragraphs (≥ 2 tokens; shorter ones carry no bigram signal and
    * are dropped from scoring AND reassembly, pinned), `text_clean`
    * is the kept paragraphs joined with `\n` ('' when all fell to
    * tail). A doc whose every paragraph is kept reassembles
    * byte-identically to its scorable-paragraph join.
    *
    * Scale shape: the split/explode is map-only; scoring is
    * [[perplexityBuckets]]'s chain over the paragraph table (model
    * joins broadcast, one groupBy-paragraph exchange, aggregate-sized
    * cutoffs) keyed by a synthesized `idCol + "_" + position` string
    * key joined back once (paragraph-sized hash join — the
    * perplexityBuckets groupCol shape); reassembly is one
    * groupBy-doc whose per-group state is the doc's own kept
    * paragraphs. */
  def ccnetParagraphs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      keepBuckets: Seq[String] = Seq("head", "middle"),
      broadcastModel: Boolean = true): DataFrame = {
    require(keepBuckets.nonEmpty, "keepBuckets must not be empty")
    // the paragraph table feeds the whole scoring chain AND the
    // reassembly join — materialize the split once (r17, guide §5)
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__ppos", "__ptext")))
      .withColumn("__pkey", concat(col(idCol).cast("string"),
        lit("_"), col("__ppos").cast("string")))
      .localCheckpoint()
    val buckets = perplexityBuckets(
      paras, "__ptext", "__pkey", broadcastModel)
    val scored = paras.join(
      buckets.select(col("__pkey"), col("bucket")), Seq("__pkey"))
    scored
      .withColumn("__keep", col("bucket").isin(keepBuckets: _*))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr("transform(" +
            "sort_array(collect_list(CASE WHEN __keep THEN " +
            "named_struct('p', __ppos, 't', __ptext) END)), x -> x.t)"),
          "\n").as("text_clean"))
  }
}
