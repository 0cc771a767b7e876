package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: lay every document
  * head-to-tail in `idCol` order and split the token stream every
  * `ctxLen` tokens (the standard pretraining layout — documents may
  * span sequence boundaries). The assignment is a closed-form function
  * of the exclusive token prefix sum, so the operator reduces to a
  * GLOBAL ORDERED PREFIX SUM — the textbook case where the naive
  * formulation (one `Window.orderBy` over everything) funnels the full
  * corpus through a single task.
  *
  * Scale shape: the shared
  * [[graft.stats.GlobalOrder.exclusivePrefix]] decomposition
  * — range-partition by `idCol`, P-row partials to the driver,
  * broadcast offsets, partition-local running sum; only the narrow
  * (id, n_tokens) count table ever shuffles.
  */
object Packing {

  /** Per-doc packing assignment:
    * (idCol, n_tokens, token_offset, seq_id, n_seqs_spanned) where
    * `token_offset` is the doc's first-token position in the packed
    * stream, `seq_id = token_offset div ctxLen` the training sequence
    * holding that first token, and `n_seqs_spanned` how many sequences
    * the doc crosses. Token counts come from `tokenCounter` — default
    * the whitespace heuristic ([[TextAnalysis.tokenCount]]); pass
    * [[Bpe.count]] to pack on REAL subword counts.
    *
    * Materializes the range-partitioned count table the returned plan
    * reads (two passes: partial sums + final) in the current
    * [[graft.core.Scope]] (the [[graft.stats.GlobalOrder.exclusivePrefix]]
    * discipline). */
  def packSequences(
      df: DataFrame,
      textCol: String,
      idCol: String,
      ctxLen: Int,
      numParts: Int = 0,
      tokenCounter: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = TextAnalysis.tokenCount)
      : DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    val counts = df.select(col(idCol),
      tokenCounter(col(textCol)).as("n_tokens"))
    val (packed, _) =
      graft.stats.GlobalOrder.exclusivePrefix(
        counts, Seq(col(idCol)), col("n_tokens"), "token_offset", numParts)
    packed
      .withColumn("seq_id", expr(s"token_offset div $ctxLen"))
      .withColumn("n_seqs_spanned",
        expr(s"(token_offset + n_tokens - 1) div $ctxLen") -
          col("seq_id") + lit(1L))
  }

  /** [[packSequences]] in its own scope; the handle closes it. */
  def packSequencesReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      ctxLen: Int): (DataFrame, () => Unit) = {
    val (o, s) =
      graft.core.Scope.run(packSequences(df, textCol, idCol, ctxLen))
    (o, () => s.close())
  }

  /** MATERIALIZE the packed training sequences (r09): every document's
    * token-id array (e.g. [[Bpe.encode]] output) laid head-to-tail in
    * `idCol` order and cut every `ctxLen` ids — one row per training
    * sequence `(seq_id, n_tokens, token_ids)`, the final partial
    * sequence allowed short. The last pipeline mile:
    * [[packSequences]] is the ASSIGNMENT view (which docs
    * land where); this emits the sequences a trainer actually reads.
    *
    * Scale shape: the same
    * [[graft.stats.GlobalOrder.exclusivePrefix]]
    * decomposition computes each doc's token offset over the NARROW
    * (id, count) table; offsets join back to the id arrays (one hash
    * join keyed on the doc id), and tokens explode with their global
    * position — the one token-level shuffle, inherent to the operator
    * (a token's sequence is a global function of the whole corpus).
    * Sequence assembly is a groupBy(seq_id) whose per-group state is
    * bounded by `ctxLen`, so no skew surface exists; the exploded rows
    * are 3 narrow numerics each.
    *
    * The prefix cache lives in the current [[graft.core.Scope]]; close
    * it only AFTER the result is materialized (both prefix passes read
    * the cache; freeing it earlier recomputes the range exchange, whose
    * sampled partitioning the collected partials no longer describe). */
  def materializeSequences(
      df: DataFrame,
      idsCol: String,
      idCol: String,
      ctxLen: Int,
      numParts: Int = 0): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    val counts = df.select(col(idCol),
      coalesce(size(col(idsCol)), lit(0)).cast("long").as("n_tokens"))
    val (packed, _) =
      graft.stats.GlobalOrder.exclusivePrefix(
        counts, Seq(col(idCol)), col("n_tokens"), "token_offset", numParts)
    val toks = df.select(col(idCol), col(idsCol).as("__ids"))
      .join(packed.select(col(idCol), col("token_offset")), Seq(idCol))
      .select(posexplode(col("__ids")).as(Seq("__p", "__tid")),
        col("token_offset"))
      .select(col("__tid"),
        (col("token_offset") + col("__p")).as("__gpos"))
    toks
      .groupBy(expr(s"__gpos div $ctxLen").as("seq_id"))
      .agg(sort_array(collect_list(struct(
        pmod(col("__gpos"), lit(ctxLen.toLong)).as("p"),
        col("__tid").as("t")))).as("pt"))
      .select(col("seq_id"),
        size(col("pt")).cast("long").as("n_tokens"),
        expr("transform(pt, x -> x.t)").as("token_ids"))
  }

  /** No-split BIN packing, decreasing order (r13, VERDICT r12 task 6)
    * — the other packing regime real trainers run (Krell et al. 2021,
    * "Efficient Sequence Packing"): every document lands WHOLE inside
    * one fixed-`ctxLen` bin (no doc spans a boundary, no cross-doc
    * attention contamination), so shorter bins pad and the packing
    * order decides the waste. Processing lengths in DECREASING order
    * (the first-fit-decreasing family) keeps it small; the pinned
    * rule is NEXT-FIT-DECREASING, the family member whose assignment
    * is a CLOSED FORM of the length histogram: equal-length docs are
    * interchangeable (copy index = per-length rank by id), a length
    * class first tops up the open bin (`k0 = min(c, (ctxLen−fill) div
    * L)` copies), the rest fill whole bins of `ctxLen div L` copies,
    * and a bin closes only when the next item cannot fit.
    *
    * Output: (idCol, n_tokens, bin_id, bin_offset) — bins are
    * 0-based, `bin_offset` the doc's first-token position inside its
    * bin; per-bin occupancy never exceeds `ctxLen`.
    *
    * Scale shape: one length-histogram aggregate (≤ `ctxLen` rows —
    * lengths above `ctxLen` are REJECTED loudly, chunk oversize docs
    * with [[Chunk.chunkTokens]] first), a driver fold over it
    * emitting ≤ 2 segment rows per distinct length (head top-up +
    * arithmetic full-bin run), and one broadcast join of the corpus
    * counts against the segment table. Copy indices (the per-length
    * rank by id) come from the shared
    * [[graft.stats.GlobalOrder.exclusivePrefix]] decomposition under
    * the (n_tokens, id) total order minus each class's exclusive start
    * count — a closed form of the histogram already on the driver —
    * NOT a `Window.partitionBy(length)` (VERDICT r13: a window
    * partition is one task, and packed corpora are length-DEGENERATE —
    * after chunking, the modal exactly-`ctxLen` class can hold most of
    * the corpus, so the per-length window serializes at scale while
    * the range-partitioned prefix spreads every class across
    * partitions). No corpus-sized shuffle, no single-partition window,
    * no driver state beyond the histogram.
    *
    * Materializes the prefix decomposition's range-partitioned count
    * table in the current [[graft.core.Scope]] (the [[packSequences]]
    * discipline). */
  def packBinsDecreasing(
      df: DataFrame,
      textCol: String,
      idCol: String,
      ctxLen: Int,
      tokenCounter: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = TextAnalysis.tokenCount)
      : DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    val counts = df.select(col(idCol),
      tokenCounter(col(textCol)).cast("long").as("n_tokens"))
    val hist = counts.groupBy("n_tokens")
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val oversize = hist.filter(_._1 > ctxLen)
    require(oversize.isEmpty,
      s"packBinsDecreasing: ${oversize.map(_._2).sum} docs exceed " +
        s"ctxLen=$ctxLen (longest ${oversize.map(_._1).max} tokens) — " +
        "no-split packing cannot place them; chunk oversize docs first")
    require(hist.forall(_._1 >= 1),
      "packBinsDecreasing: zero-token docs cannot be packed")
    // driver fold over the histogram: (length, copyLo, copyHi, firstBin,
    // copiesPerBin, startOffset) segments; state = (open bin, its fill)
    val segs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    var bin = 0L
    var fill = 0L
    hist.foreach { case (n, c) =>
      val k0 = math.min(c, (ctxLen - fill) / n)
      if (k0 > 0) segs += ((n, 0L, k0 - 1, bin, k0, fill))
      val rem = c - k0
      if (rem == 0) fill += k0 * n
      else {
        val kfull = ctxLen / n
        segs += ((n, k0, c - 1, bin + 1, kfull, 0L))
        val nb = (rem + kfull - 1) / kfull
        bin += nb
        fill = (rem - (nb - 1) * kfull) * n
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    // exclusive class start under the (n_tokens ASC, id ASC) total
    // order — a closed form of the driver-held histogram, carried on
    // the broadcast segment table so the copy index is global rank
    // minus class start (no per-length window)
    val startByLen = {
      var acc = 0L
      hist.sortBy(_._1).map { case (n, c) =>
        val s = acc; acc += c; n -> s
      }.toMap
    }
    val segDf = segs.toSeq
      .map { case (n, lo, hi, b0, per, off0) =>
        (n, lo, hi, b0, per, off0, startByLen(n))
      }
      .toDF("__n", "__lo", "__hi", "__bin0", "__per", "__off0", "__start")
    val (ranked, _) = graft.stats.GlobalOrder.exclusivePrefix(
      counts, Seq(col("n_tokens"), col(idCol)), lit(1L), "__grank")
    ranked
      .join(broadcast(segDf), col("n_tokens") === col("__n") &&
        (col("__grank") - col("__start")).between(col("__lo"), col("__hi")))
      .withColumn("__j", col("__grank") - col("__start"))
      .select(col(idCol), col("n_tokens"),
        expr("__bin0 + ((__j - __lo) div __per)").as("bin_id"),
        (col("__off0") +
          pmod(col("__j") - col("__lo"), col("__per")) * col("n_tokens"))
          .as("bin_offset"))
  }

  /** Sequence-level summary: docs whose first token lands in each
    * packed sequence (`seq_id`, `n_docs_starting`, `n_tokens_starting`)
    * — the packing QA view (every sequence is exactly `ctxLen` tokens
    * by construction except the final partial one; the doc-boundary
    * density is the quantity of interest). */
  def sequenceFill(packed: DataFrame): DataFrame =
    packed.groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs_starting"),
        sum("n_tokens").as("n_tokens_starting"))

  /** Length-bucketed curriculum batching (r15) — the THIRD packing
    * regime next to head-to-tail splitting ([[packSequences]]) and
    * no-split binning ([[packBinsDecreasing]]): docs group into
    * power-of-two LENGTH BUCKETS (`bucket = ⌊log₂ n_tokens⌋` — batches
    * of similar lengths waste ≤ 2× padding by construction), buckets
    * order ascending (short → long, the classic easy-first length
    * curriculum), and within each bucket the order is the
    * deterministic FNV id-hash shuffle (the [[Mixing.shardShuffle]]
    * key — reproducible, RNG-free). Batch boundaries RESET per bucket
    * (a batch never mixes buckets; each bucket's final batch may run
    * short — the padded-tail every bucketed trainer schedules).
    *
    * Pinned integer rule (both engines): `bucket =
    * length(bin(greatest(n_tokens, 1))) − 1` — binary digit count,
    * never a float log2 (log(8)/log(2) can land below 3.0 and floor
    * wrong); `bucket_pos` = dense 0-based rank under the total order
    * (bucket, fnv64(id), id); `batch_id = bucket_pos div batchSize`,
    * `slot = bucket_pos mod batchSize`.
    *
    * Scale shape: buckets are FEW (≤ 64) and huge, so a per-bucket
    * window is one task per bucket — the exact skew cliff the r14
    * packing de-skew removed. Ranks ride the shared
    * [[graft.stats.GlobalOrder]] decomposition instead (one narrow
    * range exchange, P-row partials), and the per-bucket offset comes
    * from a bucket-bounded aggregate broadcast back. Returns
    * (idCol, n_tokens, bucket, bucket_pos, batch_id, slot); the prefix
    * cache lives in the current [[graft.core.Scope]]. */
  def lengthCurriculumBatches(
      df: DataFrame,
      textCol: String,
      idCol: String,
      batchSize: Int,
      tokenCounter: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = c => TextAnalysis.tokenCount(c))
      : DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val narrow = df.select(col(idCol),
        coalesce(tokenCounter(col(textCol)), lit(0L)).as("n_tokens"))
      .withColumn("bucket",
        (length(bin(greatest(col("n_tokens"), lit(1L)))) - 1).cast("long"))
      .withColumn("__hv",
        graft.functions.Fnv64(col(idCol).cast("string")))
    val (ranked, _) =
      graft.stats.GlobalOrder.exclusivePrefix(
        narrow, Seq(col("bucket"), col("__hv"), col(idCol)),
        lit(1L), "__gpos")
    val starts = ranked.groupBy("bucket")
      .agg(min("__gpos").as("__bstart"))
    ranked.join(broadcast(starts), Seq("bucket"))
      .withColumn("bucket_pos", col("__gpos") - col("__bstart"))
      .select(col(idCol), col("n_tokens"), col("bucket"),
        col("bucket_pos"),
        expr(s"bucket_pos div $batchSize").as("batch_id"),
        pmod(col("bucket_pos"), lit(batchSize.toLong)).as("slot"))
  }
}
