package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-span detection — the exact-substring dedup shape
  * (suffix-array dedup's "any ≥k-token substring occurring more than
  * once in the corpus", recast for Spark): every k-token window whose
  * content appears at ≥2 corpus positions is a duplicated gram;
  * per document, overlapping/adjacent duplicated grams merge into
  * MAXIMAL [span_start, span_end) token spans — the regions a
  * substring-level deduper would cut.
  *
  * Scale shape: the gram table is linear in corpus tokens (the
  * irreducible cost of substring-level dedup — a suffix array is the
  * same size); it is hashed to 8-byte keys map-side, so ONE count
  * aggregate (map-side combined) finds hot grams and ONE
  * co-partitioned hash join streams the duplicated occurrences back.
  * The interval merge is a per-document window — parallel across
  * docs, bounded by document length, never a global sort. Same
  * hash-vs-string contract as line dedup: the engine joins 8-byte
  * gram-hash keys (FNV-1a via the fused [[graft.functions.GramHashes]]
  * kernel), exact absent 64-bit collisions.
  */
object Spans {

  /** The positional (idCol?, start, __gh) gram table — one row per
    * k-window occurrence, hash = equality key of the window's
    * single-space-joined tokens, from the fused
    * [[graft.functions.GramHashes]] kernel: ONE byte-level pass, zero
    * intermediate arrays (r17, guide §4). It replaced a composed chain
    * (token array → `transform(sequence)` window slices → one
    * `concat_ws` string allocation per window → xxhash64), which LlmSpec
    * keeps as the independent test mirror; the two differ only in the
    * internal hash function (FNV-1a vs xxhash64 — same equality classes
    * absent 64-bit collisions, the suite-wide stance; the DuckDB
    * oracles mirror gram STRINGS and pin both). */
  private def gramTable(
      df: DataFrame, textCol: String, idCols: Seq[String], k: Int)
      : DataFrame =
    df.select(idCols.map(col) :+ posexplode(
      graft.functions.GramHashes(col(textCol), k))
      .as(Seq("start", "__gh")): _*)

  /** (idCol, span_start, span_end, n_grams): maximal merged token
    * intervals [span_start, span_end) of `df`'s whitespace token
    * streams in which EVERY k-window is duplicated somewhere in the
    * corpus (incl. within the same document — self-repetition is
    * duplication). `n_grams` = duplicated k-windows merged into the
    * span (span length = span_end − span_start ∈ [k, k + n_grams − 1]).
    * Documents shorter than k tokens emit nothing.
    *
    * RUNNER CONTRACT: persists the narrow gram projection (the hot-gram
    * count and the occurrence join both read it — without the cache the
    * tokenize+posexplode subtree executes TWICE, doubling the
    * operator's dominant cost at scale, VERDICT r06 §2) and returns
    * it with its release handle — call the handle once the span table
    * has been materialized, or leave the cache to the session's
    * per-query cache hygiene. */
  def duplicatedSpansReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): (DataFrame, () => Unit) = {
    require(k > 0, "window length must be positive")
    // ONE scan of the corpus: the 20-byte (id, start, gram-hash) rows
    // are cached (disk-spilling) across the two consumers below —
    // linear in corpus tokens, the irreducible substring-dedup size
    val grams = gramTable(df, textCol, Seq(idCol), k)
      // persist CO-PARTITIONED on the gram hash both consumers cluster
      // on (the hot-gram count and the occurrence join) — the count's
      // partial aggregate fully combines (one row per gram crosses its
      // exchange instead of up to P) and the probe exchange becomes a
      // 1:1 local fetch (r17, guide §2.1 — the SuffixDedup base/__tok
      // finding)
      .repartition(col("__gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // materialize before the two consumers race to fill it
    // one map-side-combined count finds grams occurring ≥2 times
    val hot = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__gh")
    val dup = grams.join(hot, Seq("__gh"))
    (mergeIslands(dup, idCol, k), () => { grams.unpersist(); () })
  }

  /** Gaps-and-islands merge of duplicated k-window start positions
    * into MAXIMAL token spans — shared by the gram-hash path above,
    * the decontamination path, and the suffix-ranking path
    * ([[SuffixDedup]], r15). With fixed window k, a sorted start
    * overlaps-or-touches its predecessor iff start − prev ≤ k. The
    * window is per-document — parallel across docs, bounded by doc
    * length, never a global sort. Input: (idCol, start); output:
    * (idCol, span_start, span_end, n_grams). */
  private[graft] def mergeIslands(
      dup: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("start")
    dup
      .withColumn("__brk",
        when(coalesce(col("start") - lag("start", 1).over(w), lit(0L)) > k,
          1L).otherwise(0L))
      .withColumn("__span",
        sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__span"))
      .agg(min("start").cast("long").as("span_start"),
        (max("start") + k).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__span")
  }

  /** The span-cut rewrite shared by every removal path: tokens inside
    * any [span_start, span_end) are cut via the
    * [[graft.functions.CutSpans]] kernel; span-free docs keep their
    * bytes. Input spans: (idCol, span_start, span_end, ...). */
  private[llm] def cutSpansRewrite(
      df: DataFrame, spans: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    val grouped = spans
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    df.join(grouped, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(graft.functions.CutSpans(col(textCol),
            col("__spans"))))
      .drop("__spans")
  }

  /** Maximal token spans of `df` whose EVERY k-window occurs verbatim
    * in `benchmark` — SPAN-LEVEL decontamination (the surgical variant
    * of [[Dedup.contamination]]'s doc-level flag): a long document
    * quoting a benchmark passage loses the passage, not the document.
    * Output shape = [[duplicatedSpansReleasable]] ((idCol, span_start,
    * span_end, n_grams)).
    *
    * Scale shape: the benchmark gram-hash set is DISTINCT'd and
    * broadcast (a benchmark is small by definition — the
    * [[Dedup.contamination]] stance); the corpus is scanned ONCE into
    * (id, start, hash) gram rows and semi-joined map-side, so only
    * contaminated occurrences (≪ corpus) reach the per-document
    * islands window. No cache needed — each input has one consumer. */
  def contaminatedSpans(
      df: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "window length must be positive")
    val bset = gramTable(benchmark, textCol, Seq.empty, k)
      .select("__gh").distinct()
    val grams = gramTable(df, textCol, Seq(idCol), k)
    val dup = grams.join(broadcast(bset), Seq("__gh"))
    mergeIslands(dup, idCol, k)
  }

  /** The decontamination ACTION: rewrite `textCol` with every
    * benchmark-contaminated span cut out (the
    * [[removeDuplicatedSpansReleasable]] contract — span-free docs keep
    * their text byte-for-byte, fully contaminated docs become the empty
    * string for downstream length gates to judge). */
  def removeContaminatedSpans(
      df: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame =
    cutSpansRewrite(df,
      contaminatedSpans(df, benchmark, textCol, idCol, k), textCol, idCol)

  /** The dedup ACTION: rewrite `textCol` with every duplicated span
    * cut out (tokens in no span survive, in original order, rejoined
    * with single spaces — span-free documents keep their text byte-for
    * byte, including original whitespace). A fully-duplicated document
    * becomes the empty string, not a dropped row — downstream length
    * filters decide its fate.
    *
    * Scale shape: the span table is doc-keyed and carries a handful of
    * (start, end) pairs per document (bounded by doc length / k), so
    * the join back is one hash exchange of the corpus against a much
    * smaller side (AQE broadcasts it when it fits); the token cut is a
    * map-only higher-order filter — no explode, no per-token rows.
    * Returns the gram cache's release handle with the rewritten frame
    * (the [[duplicatedSpansReleasable]] RUNNER CONTRACT). */
  def removeDuplicatedSpansReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): (DataFrame, () => Unit) = {
    val (spanTable, release) =
      duplicatedSpansReleasable(df, textCol, idCol, k)
    // the rewrite is the graft.functions.CutSpans kernel: one
    // byte-level pass with a sorted-interval sweep, replacing the
    // composed filter/exists form whose O(|spans|)-per-token cost
    // dominated the 64× stress curve (SCALE.md r07)
    (cutSpansRewrite(df, spanTable, textCol, idCol), release)
  }
}
