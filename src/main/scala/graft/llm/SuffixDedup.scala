package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scope

/** Suffix-ranking exact-substring dedup (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better" — the
  * ExactSubstr family): every token position whose k-token window
  * occurs at ≥ 2 corpus positions is duplicated; per document the
  * duplicated windows merge into maximal spans and are CUT (all
  * occurrences removed — the released ExactSubstr semantics; keeping a
  * canonical copy is [[graft.llm.C4]]'s span rule, a different
  * operator).
  *
  * Same SEMANTICS as [[Spans.duplicatedSpans]], different
  * MECHANISM — and the difference is the point at 100 TB:
  *
  *  - the gram-hash path shuffles 8-byte xxhash64 window keys, an
  *    honest-but-documented collision contract that over-deduplicates
  *    once the corpus approaches 2³² windows (birthday bound; the r14
  *    C4 fix bought exact string keys for the same reason, at k× key
  *    width);
  *  - this path is EXACT at any k: a distributed suffix ranking by
  *    prefix doubling (Manber–Myers 1990, recast on DataFrames).
  *    Round j assigns every corpus position an equality-class id for
  *    its 2^j-token window as the PAIR of its two 2^(j−1) classes;
  *    the class id is the MIN (doc, pos) key in the class — equality
  *    classes need a canonical representative, not an order, so no
  *    global position, no global sort, and no driver-side rank table
  *    is ever built. ⌈log₂ k⌉ rounds; each shuffles one class key per
  *    token — never a k-token key, never a monolithic in-memory
  *    suffix array. For INTEGRAL id columns the key is a fixed-width
  *    Decimal(38,0) pair encoding ([[posKey]] — hash-aggregable,
  *    r17); other id types fall back to a variable-width struct
  *    (correct, but the class aggregates sort-aggregate — ADVICE
  *    r16).
  *
  * PLAN SHAPE (r16 optimization round, r17 co-partitioned persists;
  * guide §2.1/§2.4 "remove shuffles outright" / §3.1 join strategy).
  * Each round moves the position table through two exchanges:
  *
  *  1. the SUCCESSOR lookup is a per-document range-frame window —
  *     `max(cls) over (partition by doc order by pos range between h
  *     and h)` picks the class at pos+h (NULL when that position left
  *     the stream) — ONE exchange + doc-bounded sort, replacing the
  *     former (doc, pos+h) self-join (two exchanges, and the unpersisted
  *     join diamond recomputed them per consumer). Window partitions
  *     are per-DOCUMENT, never per-class — a viral class cannot
  *     serialize a task here. The bound is ALL surviving positions of
  *     a document per round (STRONGER than mergeIslands', which sees
  *     only duplicated starts — ADVICE r16): a single pathologically
  *     long document serializes one task per doubling round; corpora
  *     with multi-hundred-MB documents should be chunked upstream;
  *  2. the windowed frame persists REPARTITIONED on (cls, cls2) — the
  *     key BOTH its consumers cluster on (r17): the class aggregate's
  *     partial stage fully combines (one row per class crosses its
  *     exchange instead of one per cache partition) and the join
  *     probe's exchange degenerates to a 1:1 local fetch (Spark keeps
  *     AQE inside cached plans, so the consumer exchanges remain in
  *     the plan but move a fraction of the bytes; forcing static
  *     cache partitioning to delete them measured slower — AQE's
  *     coalescing is worth more);
  *  3. the class aggregate stays a map-side-combinable groupBy (min
  *     key + count) — hot classes partial-aggregate, the reason this
  *     is NOT a window over (cls, cls2) — and the join-back rides a
  *     SHUFFLE_HASH hint (class table is aggregate-sized; no sort of
  *     either side).
  *
  * The windowed frame (`paired`) is the round's ONE persisted
  * materialization: both the aggregate and the probe side read it from
  * cache, so the round's input chain is computed exactly once.
  * Positions whose successor is NULL (doc end, or successor pruned as
  * unique) are filtered BEFORE the aggregate — they exited at the
  * inner class join in the former shape, so dropping them early is
  * outcome-identical and keeps dead rows out of the exchange.
  *
  * The final k-window class is the standard sparse-table composition:
  * with h = 2^⌊log₂ k⌋, a k-window equals another iff their leading
  * and trailing h-windows match — key = (cls_h[pos], cls_h[pos+k−h]),
  * the trailing lookup the same range-frame window.
  *
  * End-of-document handling is rank-native (no sentinels): a position
  * with fewer than 2^j tokens remaining gets a NULL successor class
  * and leaves the stream at round j — which is sound because no
  * surviving window ever needs it: a VALID start p (p + k ≤ n) has
  * p + 2^(j−1) ≤ n − 2^(j−1) at every round, and the same bound holds
  * transitively for every successor a valid start's key depends on,
  * so only dead tail positions drop.
  *
  * SINGLETON PRUNING (VERDICT r15 "Next round" 2): a class with ONE
  * member is a window string occurring ONCE in the corpus — no
  * position keyed through it can ever be duplicated (two equal longer
  * windows would put ≥ 2 members in every sub-window class), so
  * singleton classes drop from the stream at every depth: globally
  * unique tokens before round 1, then per round after the class
  * aggregate. Positions whose SUCCESSOR was pruned get a NULL
  * successor class and leave with the doc-end rows — correct for the
  * same reason (their window contains a unique sub-window). On Zipf
  * corpora this sheds the long unique tail within 2–3 rounds, leaving
  * later rounds to shuffle only genuinely repeated context; on the
  * all-duplicated replica stress corpus it prunes nothing and the
  * decade is unchanged — both recorded in SCALE.md. The final-key
  * `hot` filter is unchanged (a k-window can be unique even when both
  * its h-window halves repeat).
  *
  * Pinned by the LlmSpec property test against [[Spans]]' gram-hash
  * path (identical spans on random corpora — at test scale hash
  * collisions are absent, so the two mechanisms must agree exactly)
  * and the llm_suffix_dedup DuckDB oracle (exact gram strings).
  */
object SuffixDedup {

  /** Canonical class-representative key of one corpus position — the
    * value `min()` picks per equality class. Any DETERMINISTIC
    * INJECTIVE encoding of (id, pos) works: representatives are
    * internal labels — the final output never sees them.
    *
    * r17 (guide §4): integral ids encode to ONE Decimal(38,0)
    * ([[Keys.pairKey]]) so the per-round `min()` class aggregates run
    * as HashAggregate — the struct form's buffer is not a mutable
    * UnsafeRow type, so every round paid TWO SortAggregates (partial +
    * final), each sorting the full position stream (measured: the
    * round cost was dominated by those sorts, plans/r17/
    * llm_suffix_dedup_round_before.txt). Non-integral ids keep the
    * struct form — correct, just sort-aggregated (and the scaladoc's
    * fixed-width claim holds only for integral ids, ADVICE r16). */
  private def posKey(
      idType: org.apache.spark.sql.types.DataType,
      id: org.apache.spark.sql.Column,
      pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (Keys.isIntegral(idType)) Keys.pairKey(id, pos)
    else struct(id, pos)

  /** (idCol, start): every token position opening a duplicated
    * k-window, via the prefix-doubling ranking above. Its persists and
    * checkpoints live in the current [[Scope]]; each round's persist is
    * released as soon as the next round's is filled. */
  def duplicatedWindowStarts(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "window length must be positive")
    val toks = split(trim(col(textCol)), "\\s+")
    // docs shorter than k tokens can host no k-window occurrence and
    // (with per-doc position keys) contribute to no other doc's
    // classes — excluded from the stream entirely
    val docs = df
      .withColumn("__toks", toks)
      .filter(col("__toks").isNotNull && size(col("__toks")) >= k &&
        !(size(col("__toks")) === 1 && element_at(col("__toks"), 1) === ""))
      .select(col(idCol).as("__id"), col("__toks"),
        size(col("__toks")).cast("long").as("__n"))
    // one row per corpus position, entirely map-side: the canonical
    // class representative is the (doc, pos) struct itself — unique by
    // construction, fixed-width, and orderable, so min() canonicalizes
    // without any global offset (the former GlobalOrder prefix sum
    // cost a sampling pass + a range exchange + an offsets join here)
    val base = Scope.persist(docs
      // generator first, arithmetic on its output in a second select
      .select(col("__id"), col("__n"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"),
        col("__tok"),
        // valid k-window starts, judged once here and carried through
        // the rounds as one boolean
        (col("__pos") + k <= col("__n")).as("__valid"))
      .withColumn("__g",
        posKey(df.schema(idCol).dataType, col("__id"), col("__pos")))
      // persist CO-PARTITIONED on the class key its two consumers
      // (class aggregate + SHUFFLE_HASH probe) both cluster on: both
      // read the cache with NO further exchange — the position table
      // crosses ONE shuffle here instead of two downstream (r17,
      // guide §2.1 "remove shuffles outright"; the aggregate's partial
      // exchange was near-full-table because classes are mostly
      // distinct early). Skew unchanged: the probe exchange already
      // clustered hot tokens onto one partition.
      .repartition(col("__tok")))
    base.count()
    // depth-1 classes: min (doc, pos) among equal tokens (exact string
    // equality — the only round that touches token strings); globally
    // unique tokens are singleton classes → pruned before the doubling
    // rounds (scaladoc: SINGLETON PRUNING). Aggregate-sized table,
    // SHUFFLE_HASH probe — no sort of the position stream.
    val cls0 = base.groupBy("__tok")
      .agg(min("__g").as("__cls"), count(lit(1)).as("__nc"))
      .filter(col("__nc") > 1)
      .select(col("__tok"), col("__cls"))
    var ranks: DataFrame = base
      .join(cls0.hint("shuffle_hash"), Seq("__tok"))
      .select(col("__id"), col("__pos"), col("__g"), col("__valid"),
        col("__cls"))
    // the one round cache still read; each round persists its input,
    // fills it, and frees the previous round's
    var cached = base
    // doubling rounds to depth h = 2^⌊log₂ k⌋
    val a = (31 - Integer.numberOfLeadingZeros(k))
    val wDoc = Window.partitionBy("__id").orderBy("__pos")
    var j = 1
    while (j <= a) {
      val h = 1L << (j - 1)
      // successor class at pos+h via a per-doc range frame; NULL
      // (doc end, or successor pruned as unique) exits before the
      // aggregate — both provably non-duplicated
      val paired = Scope.persist(ranks
        .withColumn("__cls2",
          max("__cls").over(wDoc.rangeBetween(h, h)))
        .filter(col("__cls2").isNotNull)
        .repartition(col("__cls"), col("__cls2")))
      paired.count()
      Scope.release(cached)
      cached = paired
      val classes = paired.groupBy("__cls", "__cls2")
        .agg(min("__g").as("__ncls"), count(lit(1)).as("__nc"))
        .filter(col("__nc") > 1) // singleton class = unique window
        .select(col("__cls"), col("__cls2"), col("__ncls"))
      ranks = paired.join(classes.hint("shuffle_hash"),
          Seq("__cls", "__cls2"))
        .select(col("__id"), col("__pos"), col("__g"), col("__valid"),
          col("__ncls").as("__cls"))
      // one round's chain re-enters the analyzer each subsequent round
      // — truncate lineage before the analyzed plan compounds (the
      // starContract lesson); the next round's persist reads the
      // checkpoint, so only the scope's close may free it
      if (j % 3 == 0 && j < a) ranks = Scope.checkpoint(ranks)
      j += 1
    }
    // k-window key = (leading h-class, trailing h-class); the trailing
    // lookup is the same range-frame window (offset 0 degenerates to
    // the row's own class when k is a power of two). A valid start
    // whose trailing position was pruned holds a unique sub-window —
    // dropped, as at the former inner join.
    val h2 = 1L << a
    val keys = Scope.persist(ranks
      .withColumn("__cls2",
        max("__cls").over(wDoc.rangeBetween(k - h2, k - h2)))
      .filter(col("__valid") && col("__cls2").isNotNull)
      .select(col("__id"), col("__pos"), col("__cls"), col("__cls2"))
      .repartition(col("__cls"), col("__cls2")))
    keys.count()
    Scope.release(cached)
    val hot = keys.groupBy("__cls", "__cls2")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("__cls", "__cls2")
    keys.join(hot.hint("shuffle_hash"), Seq("__cls", "__cls2"))
      .select(col("__id").as(idCol), col("__pos").as("start"))
  }

  /** Maximal duplicated-substring spans ≥ k tokens, (idCol,
    * span_start, span_end, n_grams) — [[Spans.duplicatedSpans]]'
    * output shape from the exact suffix-ranking mechanism. */
  def duplicatedSuffixSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame =
    Spans.mergeIslands(duplicatedWindowStarts(df, textCol, idCol, k),
      idCol, k)

  /** The ExactSubstr ACTION: rewrite `textCol` with every duplicated
    * span cut out (the [[Spans.removeDuplicatedSpans]] contract —
    * span-free docs keep their bytes, fully-duplicated docs become the
    * empty string for downstream length gates to judge). */
  def dedupExactSubstrings(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame =
    Spans.cutSpansRewrite(df, duplicatedSuffixSpans(df, textCol, idCol, k),
      textCol, idCol)
}
