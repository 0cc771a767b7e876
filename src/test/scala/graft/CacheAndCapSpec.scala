package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import graft.llm._

/** Round-6 hardening: null-signature banding, capped bucket collection,
  * TopKByScore NaN/null contract, and the zero-net-cache lifecycle of
  * the LLM pipelines (VERDICT r05 §4 / ADVICE r05). */
class CacheAndCapSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words appear in this sentence here"),
    (3L, "the quick brown fox jumps over the lazy dog"),
    (4L, "spark catalyst optimizer plans declarative dataframe queries fast")
  ).toDF("doc_id", "text")

  test("null-text docs never become LSH candidates (minhash)") {
    val withNulls = docs.unionByName(Seq(
      (100L, null.asInstanceOf[String]),
      (101L, null.asInstanceOf[String]),
      (102L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sigs = Dedup.minhashSignatures(withNulls, "text", "doc_id", k = 64)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 16, rows = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the groupBy banding treats NULL keys as equal — without the
    // null-signature filter, 100/101/102 would all pair up
    assert(!cands.exists { case (a, b) => a >= 100L || b >= 100L })
    assert(cands.contains((0L, 3L))) // real dups still found
  }

  test("null-text docs never become SimHash candidates") {
    val withNulls = docs.unionByName(Seq(
      (100L, null.asInstanceOf[String]),
      (101L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val cands = Dedup.simhashCandidates(
      Dedup.simhash(withNulls, "text", "doc_id"), "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((0L, 3L)))
  }

  test("oversized buckets are dropped whole, small buckets kept exactly") {
    // 5 exact copies share every band; maxBucket = 4 drops every bucket
    val copies = (0L until 5L).map(i => (i, "same text in every copy"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(copies, "text", "doc_id", k = 64)
    assert(Dedup.lshCandidates(sigs, "doc_id", 16, 4, maxBucket = 4)
      .count() == 0L)
    // at maxBucket = 5 the bucket survives and all C(5,2) pairs emerge
    assert(Dedup.lshCandidates(sigs, "doc_id", 16, 4, maxBucket = 5)
      .count() == 10L)
    // same cap semantics on the simhash side
    assert(Dedup.simhashCandidates(
      Dedup.simhash(copies, "text", "doc_id"), "doc_id",
      maxHamming = 3, maxBucket = 4).count() == 0L)
    assert(Dedup.simhashCandidates(
      Dedup.simhash(copies, "text", "doc_id"), "doc_id",
      maxHamming = 3, maxBucket = 5).count() == 10L)
  }

  test("hybrid pair expansion: join path ≡ row-local path") {
    // 30 docs in 3 near-dup families → non-trivial buckets; forcing
    // rowLocalCap = 1 sends EVERY bucket down the streamed-join path,
    // which must produce the identical candidate set
    val fams = (0L until 30L).map { i =>
      val fam = i % 3
      (i, s"family $fam shares almost all words doc$i tail${i % 5}")
    }.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(fams, "text", "doc_id", k = 64)
    def pairs(cap: Int) =
      Dedup.lshCandidates(sigs, "doc_id", 16, 4, rowLocalCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRowLocal = pairs(256)
    val viaJoin = pairs(1)
    assert(viaRowLocal == viaJoin && viaRowLocal.nonEmpty)

    val sh = Dedup.simhash(fams, "text", "doc_id")
    def spairs(cap: Int) =
      Dedup.simhashCandidates(sh, "doc_id", maxHamming = 10,
        rowLocalCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(spairs(256) == spairs(1) && spairs(256).nonEmpty)
  }

  test("capped collect buffers bound memory but lose no small bucket") {
    // one hot key (1000 members) + many small keys, cap = 10: the hot
    // key's buffer retains at most cap+1 entries (not 1000) and is
    // filtered out; small keys are collected exactly
    val rows = (0 until 1000).map(i => ("hot", i.toLong)) ++
      (0 until 50).map(i => (s"k${i % 10}", i.toLong))
    val out = rows.toDF("k", "v")
      .groupBy("k")
      .agg(graft.functions.CappedCollectLong(col("v"), 10).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("hot").size == 11) // cap+1: oversize detectable, bounded
    (0 until 10).foreach { i =>
      assert(out(s"k$i").sorted ==
        (0 until 50).filter(_ % 10 == i).map(_.toLong).sorted)
    }
    val pairs = rows.toDF("k", "v")
      .groupBy("k")
      .agg(graft.functions.CappedCollectLongPairs(
        col("v"), col("v") * 2, 10).as("ps"))
      .filter(col("k") === "k3")
      .select(explode(col("ps")).as("p"))
      .select(col("p.id"), col("p.v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 50).filter(_ % 10 == 3)
      .map(i => (i.toLong, i.toLong * 2)).toSet)
  }

  test("topk_by: NaN ranks first (Spark sort order), nulls are dropped") {
    val df = Seq(
      (1L, Option(1.0)), (2L, Option(Double.NaN)), (3L, Option(0.5)),
      (4L, Option.empty[Double]), (5L, Option(2.0)))
      .toDF("id", "score").withColumn("g", lit("a"))
    val got = df.groupBy("g")
      .agg(graft.functions.TopKByScore(col("score"), col("id"), 3).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.id")).as[Long].collect().toSeq
    // NaN > 2.0 > 1.0 under Spark's double ordering; null row dropped
    assert(got == Seq(2L, 5L, 1L))
    // window mirror (with the documented not-null prefilter) agrees
    val mirror = df.filter(col("score").isNotNull && col("id").isNotNull)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(desc("score"), asc("id"))))
      .filter(col("rn") <= 3).orderBy("rn")
      .select("id").as[Long].collect().toSeq
    assert(mirror == got)
  }

  private def rddIds = spark.sparkContext.getPersistentRDDs.keySet

  test("LLM cache-holding pipelines leave zero net cached tables") {
    spark.catalog.clearCache()
    assert(GraftSqlBridge.cacheIsEmpty(spark))
    val dir = "/root/testdata/sf0.001"
    // every query that persists intermediates (directly or through the
    // library) — each built in its own Scope, materialized fully, and
    // the scope closed: the session cache must end empty and the
    // persistent-RDD set where it started
    val names = Seq("llm_ngram_jaccard", "llm_containment",
      "llm_minhash_neardup", "llm_neardup_dedup", "llm_simhash_neardup",
      // GlobalOrder prefix-sum users (ADVICE r06: exclusivePrefix used
      // to persist with no owner)
      "llm_token_budget", "llm_pack_sequences", "llm_score_percentile",
      // gram-cache users (VERDICT r06 §2: single-scan dup spans)
      "llm_dup_spans", "llm_dup_span_removal")
    val before0 = rddIds
    names.foreach { n =>
      assert(scoped(SparkEntry.queries(n)(spark, dir).count()) >= 0L)
    }
    assert(GraftSqlBridge.cacheIsEmpty(spark),
      "a pipeline left a persisted intermediate behind")
    assert((rddIds -- before0).isEmpty, "a pipeline left RDD blocks behind")
    // library-level pipelines, end to end. The near-dup stages are
    // localCheckpoints — RDD persists the SQL cache never sees — so the
    // persistent-RDD set must come back unchanged too.
    val before = rddIds
    assert(scoped(Dedup.dedupNearSimhash(docs, "text", "doc_id",
      maxHamming = 0).count()) == 4L) // exact dup 3 collapses
    assert((rddIds -- before).isEmpty, "simhash dedup leaked RDD blocks")
    // jaccard(0,1) = 0.75 < 0.8 → survives
    assert(scoped(Dedup.dedupNearMinhash(docs, "text", "doc_id").count()) == 4L)
    assert((rddIds -- before).isEmpty, "minhash dedup leaked RDD blocks")
    // every other pipeline kind: materialize inside a scope, close it,
    // and the persistent-RDD set must be back where it started —
    // persists AND checkpoints (the GlobalOrder input checkpoint, the
    // SuffixDedup round checkpoint at k = 16)
    def freesAll(what: String)(run: => org.apache.spark.sql.DataFrame)
        : Unit = {
      val before = rddIds
      scoped(run.collect())
      assert((rddIds -- before).isEmpty, s"$what leaked RDD blocks")
    }
    val pair = Seq((0L, 1L)).toDF("ida", "idb")
    val twice = docs.withColumn("text",
      concat_ws(" ", col("text"), col("text"))) // ≥ 16 tokens per doc
    freesAll("span removal")(
      Spans.removeDuplicatedSpans(docs, "text", "doc_id", 3))
    freesAll("sequence packing")(
      Packing.packSequences(docs, "text", "doc_id", ctxLen = 4))
    freesAll("sequence materialization")(
      Packing.materializeSequences(
        docs.select(col("doc_id"),
          transform(split(col("text"), " "), length(_)).as("ids")),
        "ids", "doc_id", ctxLen = 4))
    freesAll("length curriculum")(
      Packing.lengthCurriculumBatches(docs, "text", "doc_id", batchSize = 2))
    freesAll("token budget")(
      Select.takeTokenBudget(docs, "text", "doc_id",
        col("doc_id").cast("double"), budget = 20L))
    freesAll("percentile rank")(
      graft.stats.GlobalOrder.percentileRank(
        docs.select("doc_id"), Seq(col("doc_id"))))
    freesAll("suffix dedup k=16")(
      SuffixDedup.dedupExactSubstrings(twice, "text", "doc_id", 16))
    freesAll("jaccard verify")(
      Dedup.verifyJaccard(pair, docs, "text", "doc_id"))
    freesAll("containment verify")(
      Dedup.verifyContainment(pair, docs, "text", "doc_id"))
    val idxPath = "target/test_release_index"
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") =!= 3L), "text", "doc_id", idxPath)
    freesAll("index near-dups")(
      Dedup.nearDupsAgainstIndex(
        docs.filter(col("doc_id") === 3L), "text", "doc_id",
        spark.read.parquet(idxPath)))
    // the three release-handle forms are the scope's close
    def handleFreesAll(what: String)(
        run: => (org.apache.spark.sql.DataFrame, () => Unit)): Unit = {
      val before = rddIds
      val (out, rel) = run
      out.collect()
      rel()
      assert((rddIds -- before).isEmpty, s"$what leaked RDD blocks")
    }
    handleFreesAll("minhash dedup handle")(
      Dedup.dedupNearMinhashReleasable(docs, "text", "doc_id"))
    handleFreesAll("span removal handle")(
      Spans.removeDuplicatedSpansReleasable(docs, "text", "doc_id", 3))
    handleFreesAll("sequence packing handle")(
      Packing.packSequencesReleasable(docs, "text", "doc_id", ctxLen = 4))
    assert(GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("prefix caches nobody used to release are owned by the scope") {
    // packBinsDecreasing, perplexityBuckets and aucExact dropped the
    // prefix-sum cache handle and relied on a session-wide sweep; in a
    // scope their range-partitioned persist is freed at close
    spark.catalog.clearCache()
    def leavesNothing(what: String)(run: => org.apache.spark.sql.DataFrame)
        : Unit = {
      val before = rddIds
      scoped(run.collect())
      assert((rddIds -- before).isEmpty, s"$what leaked RDD blocks")
      assert(GraftSqlBridge.cacheIsEmpty(spark), s"$what left a SQL cache")
    }
    leavesNothing("bin packing")(
      Packing.packBinsDecreasing(docs, "text", "doc_id", ctxLen = 32))
    leavesNothing("perplexity buckets")(
      LanguageModel.perplexityBuckets(docs, "text", "doc_id"))
    leavesNothing("exact AUC")(
      Train.aucExact(docs.select(col("doc_id").cast("double").as("s"),
        (col("doc_id") % 2 === 0).as("y")), col("s"), col("y")))
  }

  test("a cache the caller holds survives the scope") {
    spark.catalog.clearCache()
    val pairs = Seq((0L, 1L), (1L, 3L), (2L, 4L)).toDF("ida", "idb")
      .persist()
    pairs.count()
    val held = rddIds
    def stillCached(): Unit = {
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the caller's pairs cache was evicted")
      assert(held.subsetOf(rddIds), "the caller's cached blocks were freed")
    }
    // driver union-find path, distributed star contraction, and a
    // rename-only projection of the caller's frame (which canonicalizes
    // to the same cached plan)
    val comps = scoped(Dedup.nearDupComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(comps == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L, 4L -> 2L))
    stillCached()
    assert(scoped(Dedup.nearDupComponents(pairs, driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap) == comps)
    stillCached()
    scoped(Dedup.nearDupComponents(pairs.toDF("a", "b")).collect())
    stillCached()
    // the near-dup pipeline's survivor stage over the same pairs
    val survivors = scoped(Dedup.nearDupSurvivors(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq)
    assert(survivors == Seq(0L, 2L))
    stillCached()
    assert((rddIds -- held).isEmpty, "the scope left its own blocks behind")
    pairs.unpersist()
    // outside any scope a pipeline's own early release still frees what
    // it materialized
    val fresh = Seq((7L, 8L)).toDF("ida", "idb")
    assert(Dedup.nearDupComponents(fresh).count() == 2L)
    assert(fresh.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a persist the caller made in the same scope survives the pipeline") {
    // the caller's pairs are a scope persist over a scope checkpoint it
    // has already released, so a pairs frame freed by the pipeline would
    // recompute from missing checkpoint blocks
    spark.catalog.clearCache()
    val before = rddIds
    val none = org.apache.spark.storage.StorageLevel.NONE
    val (_, scope) = graft.core.Scope.run {
      val base = graft.core.Scope.checkpoint(
        Seq((0L, 1L), (1L, 3L), (2L, 4L), (5L, 6L)).toDF("ida", "idb"))
      val pairs = graft.core.Scope.persist(base.filter(col("ida") < 5L))
      assert(pairs.count() == 3L)
      graft.core.Scope.release(base)
      val comps = Dedup.nearDupComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L, 4L -> 2L))
      assert(pairs.storageLevel != none, "union-find path freed the caller's persist")
      assert(Dedup.nearDupComponents(pairs, driverEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == comps)
      assert(pairs.storageLevel != none, "star contraction freed the caller's persist")
      assert(Dedup.nearDupSurvivors(docs, "doc_id", pairs)
        .select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
      assert(pairs.storageLevel != none, "survivors freed the caller's persist")
      // the caller's own release is the one that frees it
      graft.core.Scope.persist(pairs)
      graft.core.Scope.release(pairs)
      assert(pairs.storageLevel != none, "a nested persist/release freed it")
      graft.core.Scope.release(pairs)
      assert(pairs.storageLevel == none, "the caller's release kept it")
      graft.core.Scope.persist(pairs)
    }
    scope.close()
    assert((rddIds -- before).isEmpty, "the scope left its own blocks behind")
    assert(GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("near-dup plans stay flat behind a persisted input") {
    // A persisted stage nests the cached plans of the stages it reads
    // inside its own InMemoryRelation; with two branches reading each
    // stage, the plan AQE re-prints on every stage completion grows
    // ~5× per stage (thousands of InMemoryRelation copies behind a
    // persisted input). Checkpointed stages are plan leaves.
    // 60 families of 4: a doc, its exact copy, the doc plus one word
    // (jaccard 38/39 over word 3-shingles) and an unrelated doc — the
    // copy and the near-dup (ids ≡ 1, 2 mod 4) are the ones dropped
    val d = (0L until 240L).map { i =>
      val fam = i / 4
      val base = (0 until 40).map(j => s"f${fam}w$j").mkString(" ")
      (i, i % 4 match {
        case 0 | 1 => base
        case 2 => base + " edited"
        case _ => s"unrelated doc $i " + base.reverse
      })
    }.toDF("doc_id", "text")
    def survivors(in: org.apache.spark.sql.DataFrame): Set[Long] = {
      val (out, rel) = Dedup.dedupNearMinhashReleasable(in, "text", "doc_id")
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      rel()
      ids
    }
    val expected = survivors(d)
    val input = d.persist() // one caller persist, as in a curation run
    input.count()
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.sql.execution.ui._
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val got =
      try {
        val ids = survivors(input)
        org.apache.spark.GraftListenerBus.drain(sc)
        ids
      } finally {
        sc.removeSparkListener(listener)
        input.unpersist()
      }
    val counts = plans.toArray(Array.empty[String])
      .map("InMemoryRelation".r.findAllIn(_).length)
    assert(counts.nonEmpty, "no SQL plan events were recorded")
    assert(counts.max <= 10,
      s"a plan holds ${counts.max} InMemoryRelation copies")
    assert(got == expected)
    assert(got == (0L until 240L).filter(i => i % 4 == 0 || i % 4 == 3).toSet)
  }
}
