package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Scope

/** The C4 cleaning pipeline (Raffel et al. 2020, "Exploring the Limits
  * of Transfer Learning…", JMLR — §2.2's Colossal Clean Crawled Corpus
  * rules), as declarative Spark stages:
  *
  *  1. LINE filters ([[cleanLines]]): keep a line iff it ends in a
  *     terminal punctuation mark, has at least `minLineWords`
  *     whitespace words, and does not mention javascript; rebuild the
  *     page from the kept lines in order.
  *  2. PAGE filters ([[pageVerdict]]): drop pages with fewer than
  *     `minSentences` sentences, pages containing "lorem ipsum" or a
  *     curly brace, and pages with any caller-supplied bad word.
  *  3. THREE-SENTENCE-SPAN dedup ([[dedupSpans]]): of every
  *     three-sentence span occurring more than once across the kept
  *     corpus, keep only the first occurrence (min (doc, position))
  *     and remove the sentences of every other occurrence.
  *
  * Pinned details the paper leaves open (both engines replay these
  * exactly):
  *  - terminal punctuation = `.` `!` `?` `"` on the TRIMMED line;
  *  - sentences = non-overlapping matches of `[^.!?]*[.!?]` over the
  *    line-cleaned text (newlines are ordinary characters), so a
  *    trailing fragment with no terminator — e.g. the closing quote of
  *    a `…!"` line — is not a sentence and does not survive
  *    reassembly;
  *  - span keys are the TRIMMED sentence triple joined with U+0001
  *    (the exact string, never a hash); removal excises the RAW
  *    sentences; reassembly concatenates surviving sentences verbatim
  *    (empty joiner), so an untouched page reassembles byte-identically
  *    to its sentence sequence;
  *  - page predicates run on the line-CLEANED text (boilerplate lines
  *    already dropped must not kill the page), and dedup runs over
  *    page-KEPT documents only (the paper dedups the kept dataset).
  *
  * Scale shape (100 TB): stages 1 and 2 are map-only (explode/filter/
  * re-aggregate by doc id — AQE-coalesced narrow shuffle on the doc
  * key). Stage 3 generates span keys map-only from each page's own
  * sentence array (no per-doc window), finds duplicated keys with one
  * map-side-combined aggregate (hot boilerplate spans partial-combine
  * before the exchange), and joins the fact-sized removal list back
  * on (doc, sentence) — never an all-pairs step, never a
  * single-partition window, never driver-sized state. */
object C4 {

  private val SentenceRe = "[^.!?]*[.!?]"

  /** Line-grain C4 filters. Returns one row per input document:
    * (idCol, n_lines, n_lines_kept, text_lines) where `text_lines` is
    * the kept lines re-joined with `\n` in original order (empty when
    * nothing survives). Null text ≡ empty page.
    *
    * Implemented as PURE array functions over each row's own line
    * array (`filter` over `split` — order is positional, no sort
    * needed), so the stage is map-only: zero shuffle in batch, and the
    * identical plan runs UNCHANGED on an unbounded stream (state-free
    * append mode — the `stream_c4_lines` gate). */
  def cleanLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLineWords: Int = 3): DataFrame = {
    require(minLineWords >= 1, "minLineWords must be at least 1")
    val ls = split(coalesce(col(textCol), lit("")), "\n", -1)
    val keptArr = filter(ls, l => {
      val lt = trim(l)
      lt.rlike("[.!?\"]$") &&
        size(split(lt, "\\s+")) >= minLineWords &&
        !lower(lt).rlike("\\bjavascript\\b")
    })
    df.select(col(idCol),
      size(ls).cast("long").as("n_lines"),
      size(keptArr).cast("long").as("n_lines_kept"),
      array_join(keptArr, "\n").as("text_lines"))
  }

  /** Page-grain C4 filters over the line-cleaned text. Adds
    * (n_sentences, page_kept) to the input. `badWords` must be plain
    * lowercase word tokens (they are spliced into a word-boundary
    * regex); empty list disables that rule. */
  def pageVerdict(
      df: DataFrame,
      textCol: String,
      idCol: String,
      badWords: Seq[String] = Nil,
      minSentences: Int = 5): DataFrame = {
    badWords.foreach(w => require(w.matches("[a-z0-9']+"),
      s"bad word must be a plain lowercase token (got '$w')"))
    val nSent = size(regexp_extract_all(col(textCol),
      lit(SentenceRe), lit(0))).cast("long")
    val badHit =
      if (badWords.isEmpty) lit(false)
      else lower(col(textCol))
        .rlike("\\b(" + badWords.mkString("|") + ")\\b")
    df.withColumn("n_sentences", nSent)
      .withColumn("page_kept",
        col("n_sentences") >= minSentences &&
          !contains(lower(col(textCol)), lit("lorem ipsum")) &&
          !contains(col(textCol), lit("{")) &&
          !badHit)
  }

  /** Corpus-wide three-sentence-span dedup (the C4 rule: "discarded
    * all but one of any three-sentence span occurring more than once").
    * Keeper = the occurrence with the least (idCol, start); every
    * other occurrence's three sentences are removed and the page is
    * reassembled from the survivors in order. Returns one row per
    * input document: (idCol, n_sent_removed, text_clean).
    *
    * Span key = the `\u0001`-joined TRIMMED sentence triple itself,
    * not a 64-bit hash (ADVICE r13: at ~10^11–10^12 spans birthday
    * collisions are expected, and a collision silently removes
    * legitimate distinct sentences — the exact string cannot collide).
    * Keeper selection is ONE map-side-combinable aggregate per key —
    * `groupBy(key).agg(count, min(struct(id, start)))` — joined back
    * to the occurrences (VERDICT r13 task 3: the former
    * `row_number`+`count` windows put every occurrence of one span on
    * one task, so a viral boilerplate span serialized; the aggregate
    * partial-combines hot keys map-side and the join-back rides AQE
    * skew-splitting). */
  def dedupSpans(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    // r17 (guide §1.2/§5): the sentence table feeds THREE consumers
    // (span keys for the keeper aggregate, span keys for the removal
    // join, reassembly) — materialize the regex extraction once
    // instead of re-running it per consumer. localCheckpoint also
    // truncates the upstream line/page-filter lineage, which the
    // removal join would otherwise replay (the r16 before-plan scanned
    // documents.parquet 6× for this operator).
    val withSents = Scope.checkpoint(df.select(col(idCol),
      regexp_extract_all(coalesce(col(textCol), lit("")),
        lit(SentenceRe), lit(0)).as("__ss")))
    // span keys map-only from each page's own sentence array
    val spanArr = when(size(col("__ss")) >= 3,
      transform(sequence(lit(0), size(col("__ss")) - 3),
        i => concat_ws("\u0001",
          trim(element_at(col("__ss"), i + 1)),
          trim(element_at(col("__ss"), i + 2)),
          trim(element_at(col("__ss"), i + 3)))))
      .otherwise(array().cast("array<string>"))
    // keeper key: for integral ids, ONE fixed-width Decimal(38,0)
    // pair encoding (r17, guide §4 — `min(struct)` has a non-mutable
    // aggregation buffer, so the keeper aggregate fell back to
    // SortAggregate and paid two full sorts of the span-occurrence
    // stream; the encoded key hash-aggregates with codegen). Keeper
    // identity is unchanged: the encoding is injective and
    // order-preserving, so min(key) ≡ min(struct) row-for-row.
    val integralId = Keys.isIntegral(df.schema(idCol).dataType)
    def keeperKey(id: org.apache.spark.sql.Column,
        st: org.apache.spark.sql.Column) =
      if (integralId) Keys.pairKey(id, st)
      else struct(id.as("id"), st.as("st"))
    val occ = withSents.select(col(idCol),
      posexplode(spanArr).as(Seq("start", "k")))
    // duplicated keys + their keeper, as ONE partial aggregate
    val dupKeys = occ.groupBy("k")
      .agg(count(lit(1)).as("__cnt"),
        min(keeperKey(col(idCol), col("start"))).as("__keep"))
      .filter(col("__cnt") > 1)
      .select(col("k"), col("__keep"))
    // read twice (reassembly anti-join + the n_sent_removed count);
    // duplicated-occurrence-sized, so the materialization is small
    val removed = Scope.checkpoint(occ.join(dupKeys, Seq("k"))
      .filter(keeperKey(col(idCol), col("start")) =!= col("__keep"))
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + 2)).as("sid"))
      .distinct())
    val sents = withSents.select(col(idCol),
      posexplode(col("__ss")).as(Seq("sid", "sent")))
    val rebuilt = sents.join(removed, Seq(idCol, "sid"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("sid"), col("sent")))),
          x => x.getField("sent")), "").as("text_clean"))
    val nRemoved = removed.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sent_removed"))
    df.select(col(idCol))
      .join(nRemoved, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sent_removed"), lit(0L)).as("n_sent_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** The composed pipeline: line filters → page filters → span dedup
    * over the kept pages. One row per input document:
    * (idCol, n_lines, n_lines_kept, n_sentences, page_kept,
    * n_sent_removed, text_clean) — dropped pages report
    * n_sent_removed 0 and empty text_clean. */
  def clean(
      df: DataFrame,
      textCol: String,
      idCol: String,
      badWords: Seq[String] = Nil,
      minSentences: Int = 5,
      minLineWords: Int = 3): DataFrame = {
    val lines = cleanLines(df, textCol, idCol, minLineWords)
    // r17 (guide §1.2/§5): the line+page filter chain (3 regexes per
    // line + sentence count + bad-word scan) feeds BOTH the span-dedup
    // input and the final join-back — materialize it once. Before, the
    // whole regex chain re-ran for every consumer (6 scans of the
    // corpus in the r16 plan dump); now the corpus is scanned once and
    // every downstream stage reads the doc-sized cleaned table.
    val paged = Scope.checkpoint(pageVerdict(lines, "text_lines", idCol,
      badWords, minSentences))
    val deduped = dedupSpans(
      paged.filter(col("page_kept")), "text_lines", idCol)
    paged.join(deduped, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("n_lines_kept"),
        col("n_sentences"), col("page_kept"),
        coalesce(col("n_sent_removed"), lit(0L)).as("n_sent_removed"),
        when(col("page_kept"), coalesce(col("text_clean"), lit("")))
          .otherwise(lit("")).as("text_clean"))
  }
}
