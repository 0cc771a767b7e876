package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope
import org.apache.spark.sql.Column

/** BM25 relevance scoring of a corpus against a query term set — the
  * classic retrieval ranking (Robertson/Spärck Jones), used in
  * training-data pipelines to rank documents against a topic probe or
  * to build weak relevance labels.
  *
  * Scale shape (100 TB): two passes, neither shuffles the corpus.
  * Pass 1 computes the corpus statistics the formula needs — N, total
  * token count, and per-QUERY-term document frequencies — as ONE
  * aggregate whose width is |terms| + 2 (map-side combined, one
  * driver-sized row). Pass 2 embeds those statistics as literals and
  * scores every document map-only. Unlike a search engine there is no
  * inverted index: the corpus-scan formulation is the right shape
  * when every document gets a score (index construction would itself
  * cost the full scan the score pass already pays).
  */
object Rank {

  /** (idCol, bm25): Okapi BM25 with the standard "+1" idf smoothing,
    * whitespace tokens (exact term match, [[TextAnalysis.tokenCount]]
    * tokenization). Per-term contributions are summed in `terms`
    * order (fixed fold order — mirrors can reproduce the float sum
    * exactly). Null/empty documents score 0 for every term.
    *
    * Term frequencies come from the [[graft.functions.TermCounts]]
    * kernel: ONE byte-level pass per document building all |terms|
    * counts (hash-routed, byte-confirmed — exact string semantics), so
    * per-document cost is O(|tokens| + |terms|) rather than the
    * composed form's O(|terms|·|tokens|) — the r06 probe-size caveat
    * (VERDICT r06 §3) removed. */
  def bm25(
      df: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "at least one query term")
    val base = df.select(col(idCol),
      graft.functions.TermCounts(col(textCol), terms).as("__tc"),
      coalesce(TextAnalysis.tokenCount(col(textCol)), lit(0L))
        .as("__ntok"))
    // pass 1: |terms|+2 numbers to the driver — never the data
    val aggs = sum("__ntok").as("__sumtok") +:
      terms.indices.map { i =>
        sum(when(element_at(col("__tc"), i + 1) > 0L, 1L).otherwise(0L))
          .as(s"__df$i")
      }
    val row = base.agg(count(lit(1)).as("__n"), aggs: _*).head()
    val n = row.getLong(0)
    val avgdl = row.getLong(1).toDouble / n
    // pass 2: map-only; idf constants folded driver-side
    val dl = coalesce(col("__ntok").cast("double"), lit(0.0))
    val score = terms.indices.map { i =>
      val dfreq = row.getLong(2 + i).toDouble
      val idf = math.log((n.toDouble - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
      val tf = coalesce(
        element_at(col("__tc"), i + 1).cast("double"), lit(0.0))
      lit(idf) * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
    base.select(col(idCol), score.as("bm25"))
  }

  /** Postings-table inverted index over whitespace terms:
    * `(term, doc_id, dl, tf)` — one row per distinct (term, document)
    * pair with its term frequency and the document's token length.
    * This is the index [[bm25]] deliberately skips (score-everything
    * wants the corpus scan); it pays off the moment MANY queries hit
    * the same corpus — [[retrieveTopK]] scans the corpus once per
    * INDEX BUILD, not once per query.
    *
    * Scale shape: one token explode (map-only) + ONE (term, doc)
    * aggregate with map-side combine. The result is term-partitioned
    * by the aggregate's own exchange — exactly the layout the
    * query-side term join wants. */
  def invertedIndex(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"),
        TextAnalysis.tokenCount(col(textCol)).as("dl"))
      .select(col("doc_id"), col("dl"),
        explode(col("__toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))

  /** Batch BM25 retrieval: top-k documents per query, any number of
    * queries at once, through the [[invertedIndex]] postings
    * formulation. `queries` is `(queryIdCol: long, termsCol:
    * array<string>)`; duplicate terms within one query are the
    * caller's bug (they would double-count).
    *
    * Only documents containing at least one query term are candidates
    * (a no-hit query returns no rows). Scores are the same Okapi
    * formula as [[bm25]]; per-document contributions fold in QUERY
    * TERM ORDER (array_sort on the term position before the fold), so
    * the double sum is reproducible across partitionings and engines.
    * Ranking order is (score DESC, doc_id ASC) — a total order.
    *
    * Scale shape (100 TB corpus, thousands of queries): two corpus
    * passes regardless of query count — the 2-number stats aggregate
    * and the index build, whose query-relevant slice is CHECKPOINTED
    * fact-sized so document frequencies and scoring both reuse it
    * (a real deployment persists [[invertedIndex]] once and skips the
    * build entirely). Query terms BROADCAST against the postings, so
    * matching is map-side; the per-(query, doc) fold is one
    * fact-sized shuffle; the final top-k is the k-bounded
    * map-side-combined [[graft.functions.TopKByScore]] — nothing is
    * ever globally sorted. */
  def retrieveTopK(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      queries: DataFrame,
      queryIdCol: String,
      termsCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // corpus stats: two numbers to the driver, never the data
    val st = corpus.agg(count(lit(1)).as("__n"),
      sum(coalesce(TextAnalysis.tokenCount(col(textCol)), lit(0L)))
        .as("__sumdl")).head()
    scoreAgainstPostings(invertedIndex(corpus, textCol, idCol),
      st.getLong(0), st.getLong(1), queries, queryIdCol, termsCol,
      k, k1, b)
  }

  /** Shared scoring tail of [[retrieveTopK]] /
    * [[retrieveTopKIndexed]]: postings × broadcast query terms →
    * fixed-order contribution fold → k-bounded top-k. */
  private def scoreAgainstPostings(
      post: DataFrame,
      n: Long,
      sumdl: Long,
      queries: DataFrame,
      queryIdCol: String,
      termsCol: String,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    require(k > 0, "k must be positive")
    require(n > 0, "empty corpus")
    val avgdl = sumdl.toDouble / n
    val qt = queries.select(col(queryIdCol).as("query_id"),
      posexplode(col(termsCol)).as(Seq("qpos", "term")))
    val hits = Scope.checkpoint(post.join(
      broadcast(qt.select("term").distinct()), Seq("term")))
    val dfreq = hits.groupBy("term")
      .agg(count(lit(1)).as("dfreq"))
    val tf = col("tf").cast("double")
    val dl = col("dl").cast("double")
    val idf = log((lit(n.toDouble) - col("dfreq").cast("double") + 0.5) /
      (col("dfreq").cast("double") + 0.5) + 1.0)
    val contrib: Column = idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl)))
    hits.join(broadcast(qt), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        struct(col("qpos"), contrib.as("c")).as("__pc"))
      .groupBy("query_id", "doc_id")
      .agg(collect_list(col("__pc")).as("__pcs"))
      .select(col("query_id"), col("doc_id"),
        aggregate(array_sort(col("__pcs")), lit(0.0),
          (acc, x) => acc + x.getField("c")).as("score"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("score"), col("doc_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("pos").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
  }

  /** Integer scale of one reciprocal-rank-fusion contribution:
    * a rank-r hit (0-based) in any input list contributes exactly
    * `RrfScale div (k0 + r + 1)` — the Cormack/Clarke/Büttcher 2009
    * RRF term `1/(k0 + rank)` carried as an exact integer so fused
    * scores are bit-reproducible and SQL-mirrorable (no float sums
    * whose association order a mirror would have to replay). 10^12
    * keeps 12 significant digits against the conventional k0 = 60
    * while the worst-case sum (every list, rank 0) stays far inside
    * both long and double-exact range. */
  val RrfScale = 1000000000000L

  /** Reciprocal-rank fusion of any number of ranked lists — the
    * standard hybrid-retrieval combiner (lexical BM25 ⊕ semantic ANN ⊕
    * anything else that ranks): every input row contributes
    * `RrfScale div (k0 + rank + 1)` to its (query, doc) pair, pairs
    * sum across lists, and the top `k` per query survive under
    * (rrf_score DESC, doc_id ASC). A document missing from a list
    * simply gets no contribution from it — RRF needs ranks only,
    * never the incomparable raw scores, which is why it is THE fusion
    * rule when one list is a float BM25 and the other a cosine.
    *
    * Inputs must each carry `(query_id, rank, doc_id)` with 0-based
    * ranks and per-list-unique (query, doc) pairs — exactly the shape
    * [[retrieveTopK]] / [[retrieveTopKIndexed]] and the
    * [[Similarity]] `*JoinTopK` family emit (rename `corpus_id` →
    * `doc_id`, or use [[hybridTopK]]).
    *
    * Returns (query_id, rank, doc_id, rrf_score, n_lists) — the fused
    * 0-based rank, the exact integer score, and how many input lists
    * surfaced the document (the audit column: n_lists = input count
    * marks consensus hits).
    *
    * Scale shape (100 TB corpus, thousands of queries): the input
    * lists are already k-bounded per query, so everything here moves
    * candidate-sized data — one union + one map-side-combinable
    * (query, doc) aggregate, the k-bounded
    * [[graft.functions.TopKByScore]] per query, and a candidate-sized
    * join-back for the audit columns. Nothing rescans the corpus and
    * nothing is globally sorted. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0, "k must be positive")
    require(k0 >= 0, "k0 must be non-negative")
    val prepared = lists.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("rank").cast("long").as("rank"),
      col("doc_id").cast("long").as("doc_id")))
    // candidate pairs: bounded by queries × Σ per-list k — small; the
    // checkpoint keeps the top-k and the audit join-back from running
    // the upstream retrieval twice
    val cands = Scope.checkpoint(prepared.reduce(_.unionByName(_))
      .select(col("query_id"), col("doc_id"),
        expr(s"$RrfScale div ($k0 + rank + 1)").as("__c"))
      .groupBy("query_id", "doc_id")
      .agg(sum("__c").as("rrf_score"), count(lit(1)).as("n_lists")))
    // rrf_score < 2^53 by construction, so the double round trip
    // through the k-bounded aggregate is exact; the emitted score
    // still comes from the integer column via the join-back
    cands
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(
        col("rrf_score").cast("double"), col("doc_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("pos").cast("long").as("rank"),
        col("col.id").as("doc_id"))
      .join(cands, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("n_lists"))
  }

  /** Hybrid lexical + semantic retrieval: [[rrfFuse]] over a BM25
    * list ([[retrieveTopK]] shape: `query_id, rank, doc_id, score`)
    * and an embedding list (the [[Similarity]] `*JoinTopK` shape:
    * `query_id, rank, cosine, corpus_id`) under one id space. At
    * corpus scale the semantic side is
    * [[Similarity.ivfJoinTopK]] (probe-pruned) and the lexical side
    * [[retrieveTopKIndexed]] (bucket-pruned) — the fuse is list-sized
    * either way. */
  def hybridTopK(
      lexical: DataFrame,
      semantic: DataFrame,
      k: Int,
      k0: Int = 60): DataFrame =
    rrfFuse(Seq(
      lexical.select(col("query_id"), col("rank"), col("doc_id")),
      semantic.select(col("query_id"), col("rank"),
        col("corpus_id").as("doc_id"))), k, k0)

  /** Number of term-hash buckets a persisted index is partitioned
    * into. 64 keeps directory counts trivial while a q-term probe
    * still reads ≤ |terms|/64 of the postings bytes. */
  val IndexBuckets = 64

  private[graft] def termBucket(term: Column): Column =
    pmod(xxhash64(term), lit(IndexBuckets.toLong))

  /** Persist [[invertedIndex]] as a SERVABLE index: postings parquet
    * PARTITIONED by the term-hash bucket (so a query's probe prunes at
    * the directory level — the llm_ann_ivf_persisted economics applied
    * to text retrieval), plus a 1-row `_stats` side table carrying the
    * corpus constants the scorer needs. Refuses a non-empty target
    * (the WET/tar commit discipline: never silently merge into an
    * existing index). */
  def writeIndex(
      corpus: DataFrame, textCol: String, idCol: String, path: String)
      : Unit = {
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(path)) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).isEmpty,
      s"index target $path exists and is not empty")
    val st = corpus.agg(count(lit(1)).as("n"),
      coalesce(sum(coalesce(TextAnalysis.tokenCount(col(textCol)),
        lit(0L))), lit(0L)).as("sumdl"))
    st.write.parquet(s"$path/_stats")
    invertedIndex(corpus, textCol, idCol)
      .withColumn("bucket", termBucket(col("term")))
      .repartition(IndexBuckets, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$path/postings")
  }

  /** Append a NEW batch of documents to a persisted index — the daily
    * incremental path (build once, then index only the new crawl):
    * the batch's postings land in the same term-hash bucket layout
    * (parquet append — existing files untouched), and the stats side
    * table is replaced atomically (write-new, delete-old, rename) with
    * the summed corpus constants, so a serve after append is
    * BIT-IDENTICAL to an index built from the union in one shot.
    *
    * Contract (documented, not checked — checking would cost a
    * corpus-sized join): batches must be DISJOINT in `idCol`;
    * re-appending an already-indexed document double-counts its
    * postings. Single-writer: an append racing a serve can expose the
    * new postings before the new stats (same discipline as every
    * persisted artifact in this engine). */
  def appendToIndex(
      corpus: DataFrame, textCol: String, idCol: String, path: String)
      : Unit = {
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsP = new org.apache.hadoop.fs.Path(s"$path/_stats")
    require(fs.exists(statsP),
      s"$path is not an index (no _stats) — use writeIndex first")
    val old = spark.read.parquet(s"$path/_stats").head()
    val add = corpus.agg(count(lit(1)).as("n"),
      coalesce(sum(coalesce(TextAnalysis.tokenCount(col(textCol)),
        lit(0L))), lit(0L)).as("sumdl")).head()
    invertedIndex(corpus, textCol, idCol)
      .withColumn("bucket", termBucket(col("term")))
      .repartition(IndexBuckets, col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/postings")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_stats_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.range(1).select(
        lit(old.getLong(0) + add.getLong(0)).as("n"),
        lit(old.getLong(1) + add.getLong(1)).as("sumdl"))
      .write.parquet(tmp.toString)
    fs.delete(statsP, true)
    require(fs.rename(tmp, statsP),
      s"failed to swap $tmp into place as $statsP")
  }

  /** Compact a persisted index after appends — the small-files
    * maintenance half of the lifecycle (every [[appendToIndex]] adds
    * one file per bucket; a year of daily appends is 365 files per
    * directory): each term-hash bucket whose parquet file count
    * reached `minFiles` is re-read and rewritten as ONE file, swapped
    * in under the bucket's own directory name; buckets below the
    * threshold stay byte-untouched (the
    * `zorderOptimize`/`compactMinhashIndex` bounded-rewrite
    * discipline). Postings CONTENT is untouched, so serving results
    * are identical before and after. Returns the number of buckets
    * rewritten — a second immediate call returns 0.
    *
    * Crash safety (ADVICE r13 — the old delete-then-rename left a
    * reader-invisible index if the process died between the two): the
    * swap is RENAME-ASIDE — write the compacted copy to
    * `.opt_bucket=N`, rename the live bucket to `.old_bucket=N`,
    * rename the compacted copy in, then delete the old — so at every
    * instant at least one complete copy of the bucket sits under a
    * recoverable name, and every crash point is UNAMBIGUOUS: this
    * method heals leftovers before compacting (`.opt_` with the live
    * bucket present = torn write, delete; `.old_` with the bucket
    * missing = crash between renames, roll the old copy back; `.old_`
    * with the bucket present = crash before the final delete, drop
    * it). [[retrieveTopKIndexed]] fails loudly if it finds a bucket
    * stranded mid-swap instead of silently serving without its
    * postings. */
  def optimizeIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      minFiles: Int = 4): Int = {
    require(minFiles >= 2, "minFiles must be at least 2")
    val postDir = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = postDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(postDir),
      s"$path is not an index (no postings) — use writeIndex first")
    // the shared rename-aside protocol (extracted to BucketSwap in r15,
    // now also behind the IVF index lifecycle)
    graft.sources.BucketSwap.healSwapLeftovers(fs, postDir)
    graft.sources.BucketSwap.compactBuckets(
      spark, postDir, "bucket=", minFiles)
  }

  /** [[retrieveTopK]] against a PERSISTED index: identical results,
    * but the corpus is never touched — the probe reads only the
    * term-hash bucket partitions its query vocabulary lands in
    * (partition-pruned scan; at most |distinct terms| of the
    * [[IndexBuckets]] directories), and the stats side table is one
    * row. The amortization story: build once, serve any number of
    * query batches at selected-bytes cost. */
  def retrieveTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      termsCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // a bucket stranded mid-compaction-swap (its only copy under a
    // dot-prefixed name the parquet reader skips) would silently serve
    // wrong scores — fail loudly instead (ADVICE r13); run
    // optimizeIndex to heal
    val postDir = new org.apache.hadoop.fs.Path(s"$indexPath/postings")
    val pfs = postDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.BucketSwap.requireNoStranded(pfs, postDir,
      s"index $indexPath")
    val st = spark.read.parquet(s"$indexPath/_stats").head()
    // probe buckets: hash the query vocabulary through the SAME
    // engine-side xxhash64 the writer used (a tiny local frame, not a
    // reimplementation that could drift)
    val bucketIds = queries
      .select(explode(col(termsCol)).as("term"))
      .select(termBucket(col("term"))).distinct()
      .collect().map(_.getLong(0))
    val post = spark.read.parquet(s"$indexPath/postings")
      .filter(col("bucket").isin(bucketIds.toIndexedSeq: _*))
    scoreAgainstPostings(post, st.getLong(0), st.getLong(1),
      queries, queryIdCol, termsCol, k, k1, b)
  }
}
