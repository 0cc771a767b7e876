package graft.tools

/** Plan audit (dev tool): prints formatted physical plans for key queries
  * and flags scale anti-patterns — cartesian products where not expected,
  * missing parquet filter pushdown, missing broadcast on capped key
  * joins. Output reviewed in SCALE.md. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val dir = "/root/testdata/sf0.01"

    val interesting = Seq(
      "f1_filter_expr", "f2_mask_semijoin", "j2_key_broadcast_join",
      "tpch_join_revenue", "a7_hist1d", "t6_binned_percentile_cut",
      "t7_rate_cut", "llm_minhash_neardup", "llm_sim_topk", "w4_rechunk",
      "llm_simhash_neardup", "llm_decontaminate", "llm_pack_sequences",
      "llm_line_dedup", "llm_classifier_score",
      "asof_join_clicks", "asof_join_bcast", "interval_join_signup",
      "sessionize_gap", "llm_weighted_sample",
      "rolling_7d_minmax", "interval_join_agg",
      "tpch_q1_pricing", "llm_heavy_hitters", "llm_vocab_sketch",
      "funnel_signup_purchase", "w6_quantile_sketch",
      "llm_lm_perplexity", "llm_shard_shuffle", "llm_robots_filter",
      "llm_dsir_weights", "llm_sitemap_ingest", "llm_fetch_backoff",
      "llm_revisit_select",
      "llm_hits", "llm_html_main", "llm_warc_revisit",
      "llm_sitemap_recursive", "llm_ccnet_by_lang",
      "llm_retrieval_topk", "llm_c4_clean", "llm_gopher_repetition",
      "llm_token_drift")

    // allowed nested-loop joins: tiny driver-generated pair sets, plus
    // the classifier's ONE-ROW dense-model broadcast (a deliberate
    // map-only crossJoin — the build side is a single array row). The
    // LM queries carry the same shape: crossJoin(broadcast(vocabSize))
    // is a one-row scalar broadcast, not a pair blow-up
    // (llm_containment builds the same C(20,2) pair set as
    // llm_ngram_jaccard; the audit sees its plan now that the query
    // returns its distributed frame)
    val nestedLoopAllowed = Set("llm_ngram_jaccard", "llm_containment",
      "llm_classifier_score",
      "llm_lm_perplexity", "llm_lm_bigrams", "llm_lm_backoff",
      "llm_lm_kneser_ney",
      // the recall GATE's ground truth is brute-force by design — the
      // one place all-pairs is the point (bounded: sampled query set
      // broadcast against the corpus; production paths are IVF/LSH)
      "llm_ann_recall",
      // DSIR's crossJoin(broadcast(totals)) is a ONE-ROW scalar
      // broadcast against the 4096-row bucket spine (the LM vocabSize
      // shape); the corpus-sized gram stream goes through a
      // BroadcastHashJoin, never the BNLJ
      "llm_dsir_weights", "llm_dsir_select",
      // HITS renormalizes each half-step against a ONE-ROW total
      // (crossJoin(broadcast(1 row)) — the DSIR/LM scalar shape);
      // CCNet bucketing broadcasts the one-row global cutoff pair,
      // and BOTH variants inherit the LM's one-row vocab-size
      // crossJoin (the llm_lm_perplexity shape)
      "llm_hits", "llm_ccnet_buckets", "llm_ccnet_by_lang",
      // the shuffle-model variant keeps the one-row vocab crossJoin
      "llm_lm_shuffle",
      // paragraph-grain CCNet inherits the full LM chain (one-row
      // vocab-size + one-row cutoff-pair scalar broadcasts)
      "llm_ccnet_paragraphs",
      // the NFD packing gate's padding-waste columns crossJoin a
      // ONE-ROW summary aggregate (n_bins/waste totals) — the DSIR/LM
      // scalar shape; the corpus-sized assignment join itself is the
      // broadcast HISTOGRAM-segment join, never a pair blow-up
      "llm_pack_ffd")

    // full sweep, building each query exactly ONCE (several query
    // builders are eager — persist/count/collect at plan-build time):
    // print the formatted plan for the interesting subset, and check
    // EVERY plan for all-pairs joins unless explicitly allow-listed
    var bad = 0
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        if (interesting.contains(name)) {
          println(s"\n========== $name ==========")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).take(4000))
        }
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") &&
            !nestedLoopAllowed.contains(name)) {
          println(s"!! $name: CartesianProduct found"); bad += 1
        }
        if (plan.contains("BroadcastNestedLoopJoin") &&
            !nestedLoopAllowed.contains(name)) {
          println(s"!! $name: BroadcastNestedLoopJoin found"); bad += 1
        }
      } catch { case e: Throwable =>
        println(s"!! $name: plan build failed: ${e.getMessage}"); bad += 1
      }
      spark.catalog.clearCache()
    }

    // pushdown check: a filter on a parquet column must reach the scan
    val f = graft.SparkEntry.queries("f1_filter_expr")(spark, dir)
    val scan = f.queryExecution.executedPlan.toString
    if (!scan.contains("PushedFilters: [")) {
      println("!! f1: no PushedFilters in scan"); bad += 1
    }
    val j2 = graft.SparkEntry.queries("j2_key_broadcast_join")(spark, dir)
    if (!j2.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")) {
      println("!! j2: key join is not broadcast"); bad += 1
    }
    // the persisted-IVF probe must be a PARTITION-PRUNED scan: the
    // nprobe list filter has to land in the scan's PartitionFilters
    // (non-empty brackets), not just as a post-scan Filter
    val ivf = graft.SparkEntry.queries("llm_ann_ivf_persisted")(spark, dir)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    if (!ivfPlan.matches("(?s).*PartitionFilters: \\[[^\\]].*")) {
      println("!! llm_ann_ivf_persisted: probe scan is not partition-pruned")
      bad += 1
    }
    // LM scoring: the (pre-joined cb ⋈ cu) model join against the
    // corpus-sized bigram stream must be a BROADCAST hash join — the
    // stream never partitions by bigram (Zipf-hot keys would skew a
    // shuffle). r17: the two model tables fused into ONE broadcast,
    // so exactly 1 BHJ on the stream (the vocab scalar rides a BNLJ)
    val lm = graft.SparkEntry.queries("llm_lm_perplexity")(spark, dir)
    val lmPlan = lm.queryExecution.executedPlan.toString
    val nBhj = "BroadcastHashJoin".r.findAllIn(lmPlan).length
    if (nBhj < 1) {
      println(s"!! llm_lm_perplexity: expected a broadcast model join, found $nBhj")
      bad += 1
    }
    // the broadcastModel=false variant must be the OPPOSITE shape
    // (r13): the model-build join AND the stream join shuffle-hash,
    // ZERO broadcast hash joins — the hint has to hold against
    // auto-broadcast of a small model; the one-row vocab scalar still
    // rides a BNLJ, which is fine
    val lmS = graft.SparkEntry.queries("llm_lm_shuffle")(spark, dir)
    val lmSPlan = lmS.queryExecution.executedPlan.toString
    val nShj = "ShuffledHashJoin".r.findAllIn(lmSPlan).length
    val nBhjS = "BroadcastHashJoin".r.findAllIn(lmSPlan).length
    if (nShj < 2 || nBhjS > 0) {
      println("!! llm_lm_shuffle: expected 2 shuffle-hash joins " +
        s"(model build + stream) and no broadcast, found shj=$nShj bhj=$nBhjS")
      bad += 1
    }
    // backoff: five model tables (tc, bc×2, uc×2), all broadcast —
    // the corpus trigram stream must never partition by n-gram
    val bo = graft.SparkEntry.queries("llm_lm_backoff")(spark, dir)
    val nBo = "BroadcastHashJoin".r
      .findAllIn(bo.queryExecution.executedPlan.toString).length
    if (nBo < 5) {
      println(s"!! llm_lm_backoff: expected 5 broadcast model joins, found $nBo")
      bad += 1
    }
    // sitemap funnel: the robots dim must broadcast (map-only verdict
    // on the frontier facts) and the declarative parse must not have
    // fallen out of codegen into a Scala UDF
    val sm = graft.SparkEntry.queries("llm_sitemap_ingest")(spark, dir)
    val smPlan = sm.queryExecution.executedPlan.toString
    if (!smPlan.contains("BroadcastHashJoin")) {
      println("!! llm_sitemap_ingest: robots dim join is not broadcast")
      bad += 1
    }
    if (smPlan.toLowerCase.contains("scalaudf")) {
      println("!! llm_sitemap_ingest: sitemap parse planned a ScalaUDF")
      bad += 1
    }
    // backoff schedule: BOTH per-host dims (directives + retry-after)
    // must be broadcast joins — the URL facts shuffle once, by host,
    // for the window only
    val fb = graft.SparkEntry.queries("llm_fetch_backoff")(spark, dir)
    val nFb = "BroadcastHashJoin".r
      .findAllIn(fb.queryExecution.executedPlan.toString).length
    if (nFb < 3) { // robots verdict dim + directives + backoff
      println(s"!! llm_fetch_backoff: expected 3 broadcast dim joins, found $nFb")
      bad += 1
    }
    // batch retrieval (r13): the query-term spine and the doc-frequency
    // table must BROADCAST against the postings — the corpus never
    // shuffles by term for the probe side
    val rt = graft.SparkEntry.queries("llm_retrieval_topk")(spark, dir)
    val nRt = "BroadcastHashJoin".r
      .findAllIn(rt.queryExecution.executedPlan.toString).length
    if (nRt < 2) {
      println(s"!! llm_retrieval_topk: expected >= 2 broadcast joins " +
        s"(query terms, doc frequencies), found $nRt")
      bad += 1
    }
    // unigram encode (r14): the serve-side kernel must stay a MAP-ONLY
    // codegen'd expression — no exchange, no Generate/Window, no
    // ScalaUDF in a bare scan→encode plan (the gate query's
    // posexplode/orderBy are its own view, audited here without them)
    {
      val udocs = spark.read.parquet(s"$dir/documents.parquet")
      val uv = graft.llm.Unigram.learn(udocs, "text")
      val up = udocs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.llm.Unigram.encode(
          org.apache.spark.sql.functions.col("text"), uv).as("ids"))
      val upPlan = up.queryExecution.executedPlan.toString
      if (upPlan.contains("Exchange") || upPlan.contains("Generate") ||
          upPlan.contains("Window") ||
          upPlan.toLowerCase.contains("scalaudf")) {
        println("!! unigram encode: kernel plan is not map-only " +
          "(exchange/generate/window/udf found)")
        bad += 1
      }
    }
    // NFD packing (r14, VERDICT r13 task 1): the copy index must ride
    // the GlobalOrder decomposition — every window in the plan
    // partitions on __pid (the range-partition id), NEVER on the
    // length class (a per-length window is one task per class, and
    // packed corpora are length-degenerate)
    val pf = graft.SparkEntry.queries("llm_pack_ffd")(spark, dir)
    val pfPlan = pf.queryExecution.executedPlan.toString
    val nWinSpecs = "windowspecdefinition\\(".r.findAllIn(pfPlan).length
    val nPidSpecs = "windowspecdefinition\\(__pid".r.findAllIn(pfPlan).length
    if (pfPlan.contains("windowspecdefinition(n_tokens")) {
      println("!! llm_pack_ffd: per-length window regressed (one task " +
        "per length class)"); bad += 1
    }
    if (nWinSpecs == 0 || nWinSpecs != nPidSpecs) {
      println(s"!! llm_pack_ffd: expected every window partitioned by " +
        s"__pid, found $nPidSpecs/$nWinSpecs"); bad += 1
    }
    // Gopher repetition (r13): all 13 metrics ride the single-pass
    // kernel — the plan must carry NO Generate (explode) and NO Window
    // (the discarded 9-explode formulation would reintroduce both)
    val gr = graft.SparkEntry.queries("llm_gopher_repetition")(spark, dir)
    val grPlan = gr.queryExecution.executedPlan.toString
    if (grPlan.contains("Generate") || grPlan.contains("Window")) {
      println("!! llm_gopher_repetition: kernel path regressed to " +
        "explode/window")
      bad += 1
    }
    // C4 span dedup (r14 reshape, pinned r15): keeper selection is ONE
    // map-side-combinable aggregate on the exact span key `k` — no plan
    // the query executes may carry a Window (the discarded
    // row_number+count formulation put every occurrence of a viral
    // boilerplate span on one task), and the span-key aggregate shows
    // up in exactly one of them. The rule reads EVERY executed plan:
    // the aggregate runs inside the checkpoint of the removed-sentence
    // table, so the returned frame's own plan never contains it.
    val (c4Run, c4Plans) = Run.capturePlans(spark, dir, "llm_c4_clean")
    c4Run.left.foreach { e =>
      println(s"!! llm_c4_clean: run failed: ${e.getMessage}"); bad += 1
    }
    if (c4Plans.exists(_._2.contains("Window"))) {
      println("!! llm_c4_clean: a Window regressed into the span-dedup " +
        "stage")
      bad += 1
    }
    val kAggPlans = c4Plans.filter { case (_, txt) =>
      "Keys \\[\\d+\\]: \\[k#\\d+\\]".r.findFirstIn(txt).isDefined }
    if (kAggPlans.size != 1) {
      println(s"!! llm_c4_clean: expected the span-key aggregate in " +
        s"exactly one executed plan, found it in ${kAggPlans.size} " +
        s"(${kAggPlans.map(_._1).mkString(",")})")
      bad += 1
    }
    // tokenizer fertility (r14, pinned r15; wordpiece added r15): all
    // THREE subword kernels ride ONE corpus scan into ONE group-sized
    // aggregate — no Window, no Generate, no ScalaUDF, and no
    // exchanges beyond the aggregate's
    {
      val fdocs = spark.read.parquet(s"$dir/documents.parquet")
      val fvoc = graft.llm.Unigram.learn(fdocs, "text")
      val wvoc = graft.llm.WordPiece.vocabFromMerges(
        graft.llm.WordPiece.learnMerges(fdocs, "text", nMerges = 4))
      val fert = graft.llm.TokenizerEval.fertility(fdocs, "text", "source",
        Seq("bpe" -> ((c: org.apache.spark.sql.Column) =>
          graft.llm.Bpe.count(c)),
          "unigram" -> ((c: org.apache.spark.sql.Column) =>
            graft.llm.Unigram.count(c, fvoc)),
          "wordpiece" -> ((c: org.apache.spark.sql.Column) =>
            graft.llm.WordPiece.count(c, wvoc))))
      val fPlan = fert.queryExecution.executedPlan.toString
      if (fPlan.contains("Window") || fPlan.contains("Generate") ||
          fPlan.toLowerCase.contains("scalaudf")) {
        println("!! tokenizer fertility: window/generate/udf regressed " +
          "into the three-kernel pass")
        bad += 1
      }
      val nFx = "Exchange".r.findAllIn(fPlan).length
      if (nFx > 2) {
        println(s"!! tokenizer fertility: expected <= 2 exchanges " +
          s"(the group aggregate), found $nFx")
        bad += 1
      }
    }
    // wordpiece encode (r15): the greedy kernel must stay a MAP-ONLY
    // codegen'd expression, exactly like the unigram/bpe encode audits
    {
      val wdocs = spark.read.parquet(s"$dir/documents.parquet")
      val wv = graft.llm.WordPiece.vocabFromMerges(
        graft.llm.WordPiece.learnMerges(wdocs, "text", nMerges = 4))
      val wp = wdocs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.llm.WordPiece.encode(
          org.apache.spark.sql.functions.col("text"), wv).as("ids"))
      val wpPlan = wp.queryExecution.executedPlan.toString
      if (wpPlan.contains("Exchange") || wpPlan.contains("Generate") ||
          wpPlan.contains("Window") ||
          wpPlan.toLowerCase.contains("scalaudf")) {
        println("!! wordpiece encode: kernel plan is not map-only " +
          "(exchange/generate/window/udf found)")
        bad += 1
      }
    }
    // hilbert value (r15): the bit-plane fold is ONE codegen'd
    // expression — a bare scan→hilbert plan carries no exchange, no
    // Generate/Window, no ScalaUDF
    {
      val hdocs = spark.read.parquet(s"$dir/documents.parquet")
      val c = org.apache.spark.sql.functions.col _
      val hp = hdocs.select(c("doc_id"),
        graft.core.Layout.hilbertValue(
          org.apache.spark.sql.functions.pmod(c("doc_id"),
            org.apache.spark.sql.functions.lit(64L)),
          org.apache.spark.sql.functions.pmod(c("n_chars"),
            org.apache.spark.sql.functions.lit(64L)), 6).as("h"))
      val hPlan = hp.queryExecution.executedPlan.toString
      if (hPlan.contains("Exchange") || hPlan.contains("Generate") ||
          hPlan.contains("Window") ||
          hPlan.toLowerCase.contains("scalaudf")) {
        println("!! hilbert value: fold plan is not map-only " +
          "(exchange/generate/window/udf found)")
        bad += 1
      }
      // d-D Skilling transform (r16): same contract — the plane fold +
      // finish lambda is one expression, no exchange/generate/window/udf
      val h3 = hdocs.select(c("doc_id"),
        graft.core.Layout.hilbertValueN(Seq(
          org.apache.spark.sql.functions.pmod(c("doc_id") * 37L,
            org.apache.spark.sql.functions.lit(16L)),
          org.apache.spark.sql.functions.pmod(c("n_chars"),
            org.apache.spark.sql.functions.lit(16L)),
          org.apache.spark.sql.functions.pmod(c("doc_id") * 91L,
            org.apache.spark.sql.functions.lit(16L))), 4).as("h"))
      val h3Plan = h3.queryExecution.executedPlan.toString
      if (h3Plan.contains("Exchange") || h3Plan.contains("Generate") ||
          h3Plan.contains("Window") ||
          h3Plan.toLowerCase.contains("scalaudf")) {
        println("!! hilbertN value: d-D fold plan is not map-only " +
          "(exchange/generate/window/udf found)")
        bad += 1
      }
    }
    // length-curriculum batching (r15): buckets are few and huge, so
    // every window in the plan must partition on __pid (the GlobalOrder
    // range-partition id), NEVER on the bucket — the llm_pack_ffd
    // de-skew contract applied to the third packing regime
    {
      val cdocs = spark.read.parquet(s"$dir/documents.parquet")
      val (lc, lcScope) = graft.core.Scope.run(graft.llm.Packing
        .lengthCurriculumBatches(cdocs, "text", "doc_id", 32))
      val lcPlan = lc.queryExecution.executedPlan.toString
      lcScope.close()
      val nW = "windowspecdefinition\\(".r.findAllIn(lcPlan).length
      val nPid = "windowspecdefinition\\(__pid".r.findAllIn(lcPlan).length
      if (lcPlan.contains("windowspecdefinition(bucket")) {
        println("!! length curriculum: per-bucket window regressed " +
          "(one task per bucket)"); bad += 1
      }
      if (nW == 0 || nW != nPid) {
        println(s"!! length curriculum: expected every window " +
          s"partitioned by __pid, found $nPid/$nW"); bad += 1
      }
    }
    // hybrid RRF (r15): the fusion never re-sorts — candidates are
    // k-bounded upstream, the per-query top-k is the bounded aggregate,
    // so the fused plan must carry NO Window (a row_number fusion would
    // put every candidate of a query on one task)
    val hy = graft.SparkEntry.queries("llm_hybrid_rrf")(spark, dir)
    if (hy.queryExecution.executedPlan.toString.contains("Window")) {
      println("!! llm_hybrid_rrf: a Window regressed into the fusion")
      bad += 1
    }
    println(s"\naudit ${if (bad == 0) "CLEAN" else s"$bad issue(s)"}")
    spark.stop()
  }
}
