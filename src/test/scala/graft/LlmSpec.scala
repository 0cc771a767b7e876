package graft

import org.apache.spark.sql.functions._
import graft.llm._

/** Dedup / similarity / text-analysis / multimodal kernels. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different words appear in this sentence here"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "spark catalyst optimizer plans declarative dataframe queries fast")
  ).toDF("doc_id", "text")

  test("exact dedup keeps first id per content group") {
    val survivors = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("shingles produce distinct n-grams; short docs degrade gracefully") {
    val sh = docs.filter(col("doc_id") === 0)
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .head.getSeq[String](0)
    assert(sh.contains("the quick brown"))
    assert(sh.size == 7) // 9 tokens → 7 trigrams, all distinct
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).head.getSeq[String](0)
    assert(short == Seq("two words"))
  }

  test("minhash estimate tracks exact jaccard; LSH finds the near-dup") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 64)
    val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 16, rows = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 3L))) // exact dup always collides
    assert(cands.contains((0L, 1L)) || cands.contains((1L, 3L))) // near-dup
    val est = Dedup.estimateJaccard(
      Dedup.lshCandidates(sigs, "doc_id", 16, 4), sigs, "doc_id")
      .filter(col("ida") === 0 && col("idb") === 3)
      .head.getDouble(2)
    assert(est == 1.0) // identical docs → identical signatures
    // exact verify agrees with hand jaccard for (0,1): 6 shared of 8 union
    val ver = Dedup.verifyJaccardReleasable(
      Seq((0L, 1L)).toDF("ida", "idb"), docs, "text", "doc_id")._1
      .head.getDouble(2)
    assert(math.abs(ver - 6.0 / 8.0) < 1e-12)
  }

  test("containment: a quoted subset scores 1.0 on the smaller side") {
    // doc 20 is a strict prefix-quote of doc 21 → all of 20's shingles
    // appear in 21; jaccard stays well below 1
    val d = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val r = Dedup.verifyContainmentReleasable(
        Seq((20L, 21L)).toDF("ida", "idb"), d, "text", "doc_id")._1
      .head()
    assert(r.getAs[Double]("containment_a") == 1.0)
    assert(r.getAs[Double]("containment_b") < 0.5)
    assert(r.getAs[Double]("jaccard") < 0.5)
  }

  test("simhash: identical docs get identical hashes, near-dups are close") {
    val sh = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(1L)) <
      java.lang.Long.bitCount(sh(0L) ^ sh(2L)))
    val cands = Dedup.simhashCandidates(
      Dedup.simhash(docs, "text", "doc_id"), "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((0L, 3L)))
  }

  test("connected components: both paths agree on random graphs") {
    // seeded random edge lists; the driver union-find and the
    // distributed label propagation must produce identical labelings
    val rnd = new scala.util.Random(42)
    (0 until 8).foreach { _ =>
      val n = 2 + rnd.nextInt(20)
      val edges = (0 until (1 + rnd.nextInt(25)))
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("ida", "idb")
        val fast = Dedup.nearDupComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = Dedup.nearDupComponents(df, driverEdgeLimit = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fast == dist, s"mismatch on edges $edges")
      }
    }
  }

  test("connected components: distributed fallback matches union-find") {
    // driverEdgeLimit = 0 forces the iterative label-propagation path
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("ida", "idb")
    val it = Dedup.nearDupComponents(pairs, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connected components + near-dup survivors") {
    // chain 10-11-12, pair 20-21, isolated 30
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("ida", "idb")
    val comps = Dedup.nearDupComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    val corpus = Seq(10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val survivors = Dedup.nearDupSurvivors(corpus, "doc_id", pairs)
      .as[Long].collect().sorted
    assert(survivors.toSeq == Seq(10L, 20L, 30L))
  }

  test("end-to-end simhash and embedding dedup keep one copy per cluster") {
    // docs 0 and 3 are identical → hamming 0 → one survivor
    val surv = Dedup.dedupNearSimhashReleasable(
        docs, "text", "doc_id", maxHamming = 0)._1
      .select("doc_id").as[Long].collect().sorted
    assert(surv.contains(0L) && !surv.contains(3L))
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact dup of 0
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val esurv = Dedup.dedupNearEmbedding(embs, "embedding", "vec_id",
        planes = 6, minCosine = 0.99)
      .select("vec_id").as[Long].collect().sorted
    assert(esurv.toSeq == Seq(0L, 2L))
  }

  test("end-to-end minhash dedup keeps one copy per near-dup cluster") {
    val survivors = Dedup.dedupNearMinhashReleasable(docs, "text", "doc_id",
        jaccardThreshold = 0.7)._1
      .select("doc_id").as[Long].collect().sorted
    // 0 and 3 identical (jaccard 1.0) and 1 near-dup of both (0.75):
    // one survivor (id 0) for {0,1,3}; 2 and 4 untouched
    assert(survivors.toSeq == Seq(0L, 2L, 4L))
  }

  test("cosine and brute-force top-k") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(embs, "embedding", "vec_id",
      Array(1.0f, 0.0f, 0.0f), 2).collect()
    assert(top(0).getLong(0) == 0L && math.abs(top(0).getDouble(1) - 1.0) < 1e-12)
    assert(top(1).getLong(0) == 1L)
  }

  test("quantized top-k: pool ≥ corpus reduces to exact brute force") {
    val embs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 1.3 + d * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 11).head.getSeq[Float](1).toArray
    val exact = Similarity.bruteForceTopK(embs, "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // pool covers the corpus → the rerank IS brute force
    val full = Similarity.quantizedTopK(embs, "embedding", "vec_id", q, 5,
      poolK = 60).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == exact.toSeq)
    // narrow pool still recovers the exact match at rank 1
    val narrow = Similarity.quantizedTopK(embs, "embedding", "vec_id", q, 3,
      poolK = 8).collect()
    assert(narrow(0).getLong(0) == 11L)
    assert(math.abs(narrow(0).getDouble(1) - 1.0) < 1e-9)
    assert(narrow.length == 3)
  }

  test("hyperplane LSH: ANN finds the exact match and planes are stable") {
    val embs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.9 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 7)
      .head.getSeq[Float](1).toArray
    val top = Similarity.annTopK(embs, "embedding", "vec_id", q, 3, 8)
      .collect()
    assert(top(0).getLong(0) == 7L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
    // deterministic planes
    val p1 = Similarity.planes(4, 8); val p2 = Similarity.planes(4, 8)
    assert(p1.zip(p2).forall { case (a, b) => a.sameElements(b) })
  }

  test("hyperplane LSH on an empty corpus fails with a clear message") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.hyperplaneSignature(empty, "embedding", 8)
    }
    assert(e.getMessage.contains("empty corpus"))
    // explicit dim sidesteps the first-row probe entirely
    assert(Similarity.hyperplaneSignature(empty, "embedding", 8, dim = 4)
      .count() == 0L)
  }

  test("text analysis: tokens, quality, lang-id, fingerprints") {
    val q = TextAnalysis.qualityMetrics(docs, col("text"))
      .filter(col("doc_id") === 0).head()
    assert(q.getAs[Long]("n_tokens") == 9L)
    val langs = docs.select(TextAnalysis.langId(col("text")).as("l"))
      .as[String].collect()
    assert(langs.take(4).forall(_ == "en")) // "the" hits en stopwords
    // all-zero stopword counts → "und"
    val und = Seq("xyzzy plugh").toDF("text")
      .select(TextAnalysis.langId(col("text"))).head.getString(0)
    assert(und == "und")
    // fingerprint: equal texts → equal, different → different
    val fps = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(3L) && fps(0L) != fps(2L))
    val w = docs.select(TextAnalysis.winnowed(col("text"), 4).as("w"))
      .head.getSeq[Long](0)
    assert(w.nonEmpty)
  }

  test("winnowed: native kernel matches the declarative mirror") {
    // short (< w), exactly-w, repetition-heavy, and long mixed docs
    val texts = Seq(
      "one",
      "a b c",
      "a b c d",
      "x x x x x x x x",
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (w <- Seq(2, 4, 7)) {
      val both = texts.select(col("doc_id"),
        TextAnalysis.winnowed(col("text"), w).as("nat"),
        TextAnalysis.winnowedDeclarative(col("text"), w).as("dec"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"w=$w doc=${r.getLong(0)}: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
      }
    }
  }

  test("annJoin links query table to corpus through shared buckets") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact copy of corpus 0
      (101L, Array(0.0f, 0.98f, 0.2f, 0.0f))).toDF("vec_id", "embedding")
    val linked = Similarity.annJoin(corpus, queries, "embedding", "vec_id",
        nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // identical vectors share every plane sign → guaranteed link
    val exact = linked.filter(t => t._1 == 100L && t._2 == 0L)
    assert(exact.length == 1 && math.abs(exact.head._3 - 1.0) < 1e-6)
    // bucketed join must not produce all pairs
    assert(linked.length < 2 * 3)
    // top-k reduction: rank 0 of query 100 is its exact corpus copy
    val top = Similarity.annJoinTopK(corpus, queries, "embedding",
        "vec_id", k = 1, nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(top.contains((100L, 0, 0L)))
    assert(top.forall(_._2 == 0)) // k = 1 → only rank 0 rows
  }

  test("embedding near-dup: LSH buckets find the duplicated vector") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact dup of 0
      (2L, Array(0.99f, 0.14f, 0.0f, 0.0f)), // near-dup of 0 (cos≈0.99)
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDups(embs, "embedding", "vec_id",
        planes = 6, minCosine = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every LSH bucket → the (0,1) pair is
    // guaranteed; distant pairs must not pass the cosine verify
    assert(dups.contains((0L, 1L)))
    assert(!dups.exists(p => p._1 == 3L || p._2 == 3L || p._2 == 4L))
  }

  test("PairExpansion.bucketPairs: exact below cap, drop-whole above") {
    val members = (0L until 10L).map(i => (1, i)).toDF("b", "id")
    // one bucket of 10 at the cap: all C(10,2) ordered pairs, via
    // multiple slice blocks (cap 3 → 4 slices)
    val all = PairExpansion.bucketPairs(members, Seq("b"), "id",
        maxBucket = 10, rowLocalCap = 3, dedupPairs = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == 45 && all.toSet.size == 45)
    assert(all.forall(p => p._1 < p._2))
    // over the cap: the bucket is dropped WHOLE; a small bucket in the
    // same frame survives untouched
    val mixed = members.union(Seq((2, 100L), (2, 101L)).toDF("b", "id"))
    val capped = PairExpansion.bucketPairs(mixed, Seq("b"), "id",
        maxBucket = 9, rowLocalCap = 3, dedupPairs = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("contaminated spans: benchmark passage located and cut") {
    val passage = "alpha beta gamma delta epsilon zeta"
    val bench = Seq((0L, s"prefix words $passage suffix words"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, s"intro tokens here $passage outro tokens here"),
      (11L, "a completely clean document with original content only"))
      .toDF("doc_id", "text")
    val spans = Spans.contaminatedSpans(corpus, bench,
        "text", "doc_id", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the 6-token passage at token offset 3: k=4 windows [3..5] merge
    // into [3, 9); the clean doc emits nothing
    assert(spans == Seq((10L, 3L, 9L)))
    val removed = Spans.removeContaminatedSpans(corpus, bench,
        "text", "doc_id", 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(removed(10L) == "intro tokens here outro tokens here")
    // span-free docs keep their text byte-for-byte
    assert(removed(11L) ==
      "a completely clean document with original content only")
  }

  test("incremental dedup: new batch vs persisted fingerprint index") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark physics data"),
      (3L, "yet another unrelated corpus document body of words here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "a genuinely novel document with no corpus overlap at all"),
      (12L, null.asInstanceOf[String])) // null text: no fingerprint
      .toDF("doc_id", "text")
    val path = "target/test_mh_index"
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", path)
    // index stores fingerprints only — signatures + shingle hashes
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet == Set("doc_id", "sig", "shingles"))
    assert(idx.count() == 3)
    val (pairs, release) = Dedup.nearDupsAgainstIndexReleasable(
      fresh, "text", "doc_id", idx, jaccardThreshold = 0.8)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    release()
    // exactly the planted duplicate, at jaccard 1.0; the novel and
    // null-text docs produce nothing
    assert(got == Seq((10L, 1L, 1.0)))
    // close the loop: append the batch's survivors (the novel doc) and
    // re-check a copy of it against the grown index
    Dedup.appendToMinhashIndex(
      fresh.filter(col("doc_id") === 11L), "text", "doc_id", path)
    val idx2 = spark.read.parquet(path)
    assert(idx2.count() == 4)
    val day2 = Seq(
      (20L, "a genuinely novel document with no corpus overlap at all"))
      .toDF("doc_id", "text")
    val (p2, rel2) = Dedup.nearDupsAgainstIndexReleasable(
      day2, "text", "doc_id", idx2, jaccardThreshold = 0.8)
    val got2 = p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    rel2()
    assert(got2 == Seq((20L, 11L))) // caught by yesterday's append
  }

  test("minhash index compaction: dead ids dropped, queries unchanged, " +
      "file count bounded") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark physics data"),
      (3L, "yet another unrelated corpus document body of words here"),
      (4L, "a fourth corpus document which later gets deduped away"))
      .toDF("doc_id", "text")
    val path = "target/test_mh_compact"
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", path)
    // simulate an accidental double-append of doc 2's fingerprints
    Dedup.appendToMinhashIndex(corpus.filter(col("doc_id") === 2L),
      "text", "doc_id", path)
    assert(spark.read.parquet(path).count() == 5) // 4 + 1 dup row
    // docs 1..3 stay live; 4 was deduped away since its append
    val n = Dedup.compactMinhashIndex(spark, path,
      Seq(1L, 2L, 3L).toDF("id"), "doc_id", targetRowsPerFile = 2L)
    assert(n == 3)
    val idx = spark.read.parquet(path)
    assert(idx.count() == 3) // dup row collapsed, dead id gone
    assert(idx.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // ceil(3/2) = 2 data files — the bounded-file-count contract
    val files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 2, s"expected 2 data files, got $files")
    // queries against the compacted index: live dup still caught,
    // the dead id can no longer produce candidates
    val probe = Seq(
      (30L, "the quick brown fox jumps over the lazy dog tonight"),
      (31L, "a fourth corpus document which later gets deduped away"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupsAgainstIndexReleasable(
        probe, "text", "doc_id", idx, jaccardThreshold = 0.8)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((30L, 1L)))
  }

  test("PairExpansion.bucketPairs: duplicate membership rows tolerated") {
    // ADVICE r09: duplicate (bucket, id) rows must not emit ida == idb
    // or duplicate pairs — the member list is deduped after collection
    val dup = Seq((1, 5L), (1, 5L), (1, 7L), (1, 7L), (1, 9L))
      .toDF("b", "id")
    val got = PairExpansion.bucketPairs(dup, Seq("b"), "id",
        maxBucket = 10, rowLocalCap = 2, dedupPairs = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 3 &&
      got.toSet == Set((5L, 7L), (5L, 9L), (7L, 9L)))
    // a bucket that is ALL duplicates of one id yields nothing
    val mono = Seq((2, 3L), (2, 3L), (2, 3L)).toDF("b", "id")
    assert(PairExpansion.bucketPairs(mono, Seq("b"), "id",
      maxBucket = 10, rowLocalCap = 2, dedupPairs = false).count() == 0)
  }

  test("PairExpansion.bucketPairsBipartite: per-bucket cross, per-side caps") {
    val left = Seq((1, 0L), (1, 1L), (2, 2L)).toDF("b", "qid")
    val right = Seq((1, 10L), (1, 11L), (1, 12L), (2, 13L)).toDF("b", "cid")
    val all = PairExpansion.bucketPairsBipartite(left, right, Seq("b"),
        "qid", "cid", maxBucketLeft = 10, maxBucketRight = 10,
        rowLocalCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket 1: 2×3 cross; bucket 2: 1×1 — never cross-bucket
    assert(all == Set((0L, 10L), (0L, 11L), (0L, 12L),
      (1L, 10L), (1L, 11L), (1L, 12L), (2L, 13L)))
    // cap the corpus side at 2: bucket 1 (3 corpus members) drops whole
    val capped = PairExpansion.bucketPairsBipartite(left, right, Seq("b"),
        "qid", "cid", maxBucketLeft = 10, maxBucketRight = 2,
        rowLocalCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2L, 13L)))
  }

  test("embeddingNearDups: hot signature bucket drops at the cap") {
    // five identical vectors collapse to ONE signature bucket
    val embs = (0L until 5L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val uncapped = Dedup.embeddingNearDups(embs, "embedding", "vec_id",
      planes = 6, minCosine = 0.99)
    assert(uncapped.count() == 10) // C(5,2), all cosine 1.0
    val capped = Dedup.embeddingNearDups(embs, "embedding", "vec_id",
      planes = 6, minCosine = 0.99, maxBucket = 4)
    assert(capped.count() == 0) // drop-whole: deterministic, no subset
  }

  test("ivfCentroidsSplit: mega-cluster re-split preserves SemDeDup recall") {
    // skewed fixture: two 20-copy duplicate blobs in orthogonal
    // directions that an initial k=1 quantizer lumps into ONE
    // 40-member cluster. Identical vectors assign identically, so each
    // blob moves between lists as an atom — the split either separates
    // the blobs or doesn't (no fragmentation), keeping the outcome
    // exactly determined.
    val blobs = ((0 until 20).map { i =>
      (i.toLong, Array(1.0f, 0.0f, 0.0f, 0.0f))
    } ++ (0 until 20).map { i =>
      (20L + i, Array(0.0f, 0.0f, 1.0f, 0.0f))
    }).toDF("vec_id", "embedding")
    val maxCluster = 25
    // cap WITHOUT split: the oversized cluster is dropped whole →
    // silent recall loss (everything "survives")
    val lumped = Similarity.ivfCentroidsLloyd(blobs, "embedding",
      "vec_id", k = 1, iters = 2)
    assert(Dedup.dedupSemantic(blobs, "embedding", "vec_id", lumped,
      0.9, maxCluster = maxCluster).count() == 40)
    // split training: every list lands under the cap…
    val cents = Similarity.ivfCentroidsSplit(blobs, "embedding", "vec_id",
      k = 1, maxCluster = maxCluster, iters = 2)
    val sizes = Similarity.ivfAssign(blobs, "embedding", cents)
      .groupBy("ivf_list").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= maxCluster), s"sizes: ${sizes.mkString(",")}")
    // …and capped SemDeDup now equals uncapped brute force (all-pairs
    // cosine + the same smaller-id-neighbor drop rule)
    val survivors = Dedup.dedupSemantic(blobs, "embedding", "vec_id",
        cents, 0.9, maxCluster = maxCluster)
      .select("vec_id").as[Long].collect().toSet
    val a = blobs.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = blobs.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val bruteDropped = a.crossJoin(b)
      .filter(col("ida") < col("idb"))
      .filter(Similarity.cosine(col("ea"), col("eb")) >= 0.9)
      .select("idb").as[Long].collect().toSet
    val bruteSurvivors = (0L until 40L).toSet -- bruteDropped
    assert(survivors == bruteSurvivors,
      s"split-path survivors $survivors != brute $bruteSurvivors")
  }

  test("MJPEG-AVI: RIFF walk + real JDK JPEG decode, closed-form histogram") {
    val id = 7L
    val frames = 4
    val avi = Multimodal.syntheticMjpegAvi(id, 16, 8, frames)
    val dec = new Multimodal.MjpegAviDecoder(8)
    val f = dec.decodeBatch(Seq(avi)).head
    assert(f(0) == 16f && f(1) == 8f && f(2) == frames.toFloat &&
      f(3) == 25f)
    // uniform frames at multiples of 16 are JPEG round-trip fixed
    // points → the histogram is the closed form of (id, frame)
    val expected = Array.ofDim[Float](8)
    (0 until frames).foreach { fr =>
      expected(((id * 31 + fr * 13) % 16).toInt * 16 / 32) += 16 * 8
    }
    assert(f.drop(4).toSeq == expected.toSeq)
    // frame striding: n_frames still counts all, histogram every 2nd
    val f2 = new Multimodal.MjpegAviDecoder(8, frameStride = 2)
      .decodeBatch(Seq(avi)).head
    assert(f2(2) == frames.toFloat && f2.drop(4).sum == 2 * 16 * 8)
    // poison pills: null, garbage, RIFF-but-truncated → all-zero
    val pills = dec.decodeBatch(Seq(null, Array[Byte](1, 2, 3),
      "RIFF".getBytes("US-ASCII") ++ Array[Byte](1, 0, 0, 0) ++ "AVI ".getBytes("US-ASCII")))
    assert(pills.forall(_.forall(_ == 0f)))
  }

  test("ivfJoinTopK: per-query nprobe lists, capped join, bounded top-k") {
    val cents = Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0))
    val corpus = Similarity.ivfAssign(Seq(
      (10L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // list 0
      (11L, Array(0.95f, 0.0f, 0.1f, 0.0f)), // list 0
      (12L, Array(0.1f, 0.9f, 0.0f, 0.0f)),  // list 1
      (13L, Array(0.0f, 0.0f, 0.9f, 0.0f))   // list 2
    ).toDF("vec_id", "embedding"), "embedding", cents)
    val queries = Seq(
      (0L, Array(1.0f, 0.05f, 0.0f, 0.0f)), // lists {0, 1}
      (1L, Array(0.0f, 0.05f, 1.0f, 0.0f))  // lists {2, 1}
    ).toDF("vec_id", "embedding")
    // probe lists: nearest-2, ties to the lower list id
    val probes = Similarity.ivfProbeLists(queries, "embedding", cents, 2)
      .select("vec_id", "probe_rank", "ivf_list")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(probes == Set((0L, 0, 0), (0L, 1, 1), (1L, 0, 2), (1L, 1, 1)))
    val top = Similarity.ivfJoinTopK(corpus, queries, "embedding",
        "vec_id", k = 2, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    // query 0 probes lists 0+1 → candidates {10, 11, 12}; top-2 by
    // cosine are the list-0 neighbors; 13 (list 2) never considered
    val q0 = top.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    assert(q0.toSeq == Seq(10L, 11L) || q0.toSeq == Seq(11L, 10L))
    assert(!top.exists(t => t._1 == 0L && t._3 == 13L))
    // query 1's rank-0 is the list-2 vector
    assert(top.filter(_._1 == 1L).minBy(_._2)._3 == 13L)
    // per-side cap: corpus list 0 has 2 members; cap 1 drops it whole
    val capped = Similarity.ivfJoinTopK(corpus, queries, "embedding",
        "vec_id", k = 2, cents, nprobe = 2, maxBucketCorpus = 1)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(!capped.exists(t => t._2 == 10L || t._2 == 11L))
    assert(capped.contains((1L, 13L)))
  }

  test("persisted IVF index: partition-pruned probe == in-memory probe") {
    val vecs = (0 until 40).map { i =>
      val base = Array(0.0f, 0.0f, 0.0f, 0.0f)
      base(i % 4) = 1.0f
      base((i + 1) % 4) = 0.05f * (i / 4)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsLloyd(vecs, "embedding", "vec_id",
      k = 4, iters = 2)
    val q = Array(1.0f, 0.02f, 0.0f, 0.0f)
    val path = java.nio.file.Files
      .createTempDirectory("ivf_index_spec").toString + "/idx"
    Similarity.writeIvfIndex(vecs, "embedding", cents, path)
    val probe = Similarity.ivfTopK(spark.read.parquet(path),
      "embedding", "vec_id", q, k = 5, cents)
    // the nprobe filter must land in the scan's PartitionFilters —
    // a pruned file listing, not a post-scan row filter
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]].*"), plan.take(2000))
    val inMem = Similarity.ivfTopK(
      Similarity.ivfAssign(vecs, "embedding", cents),
      "embedding", "vec_id", q, k = 5, cents)
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inMem.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("BPE encode: greedy lowest-rank-leftmost merges, total id scheme") {
    // expected ids from an independent reference implementation of the
    // pinned spec (leftmost occurrence of the lowest-rank pair, code
    // point ids for single symbols, MergedIdBase + rank for merges)
    val cases = Seq(
      "theory" -> Seq(1000001, 1000010, 121), // the | or | y
      "thin" -> Seq(1000000, 1000002), // th | in (not t|hin)
      "and" -> Seq(1000004), // multi-level: a+n → an, an+d → and
      "processing" -> Seq(1000021, 99, 1000011, 115, 1000018),
      "standard" -> Seq(1000012, 1000004, 1000015, 100),
      "中文测试" -> Seq(20013, 25991, 27979, 35797), // raw code points
      "a" -> Seq(97))
    val df = cases.zipWithIndex
      .map { case ((w, _), i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Bpe.encode(col("text")).as("ids"))
      .orderBy("doc_id").collect()
      .map(r => r.getSeq[Int](1).toSeq)
    assert(got.toSeq == cases.map(_._2))
    // documents concatenate word encodings; extra whitespace collapses;
    // null text → null; whitespace-only text → empty array
    val doc = Seq((0L, "  theory   thin\tand "), (1L, null),
      (2L, "   \t ")).toDF("doc_id", "text")
    val rows = doc.select(col("doc_id"), Bpe.encode(col("text")).as("ids"))
      .orderBy("doc_id").collect()
    assert(rows(0).getSeq[Int](1) ==
      Seq(1000001, 1000010, 121, 1000000, 1000002, 1000004))
    assert(rows(1).isNullAt(1))
    assert(rows(2).getSeq[Int](1).isEmpty)
    // count: real subword counts differ from the whitespace heuristic
    val c = doc.filter(col("doc_id") === 0)
      .select(Bpe.count(col("text")), TextAnalysis.tokenCount(col("text")))
      .head()
    assert(c.getLong(0) == 6L && c.getLong(1) == 3L)
  }

  test("BPE decode: squeezed-identity round trip; invalid ids loud") {
    import spark.implicits._
    // decode(encode(x)) == x with whitespace squeezed (word boundaries
    // are the single lossy step) — incl. multi-level merges, multi-byte
    // code points, punctuation, leading/trailing/internal whitespace
    val texts = Seq("the theory of things", "  thin\tand\nthe 中文测试 ",
      "a", "punct, ends. here!", "", "   ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        Bpe.decode(Bpe.encode(col("text"))).as("dec"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.toSeq == texts.map(_.replaceAll("\\s+", "")))
    // raw id stream: merged rank 1 ("th"+"e" → "the"), code point 'o',
    // multi-byte code point '中'
    val ids = Seq((0L, Seq(1, 2, 3))).toDF("doc_id", "ids")
    val dec = ids.select(Bpe.decode(
      org.apache.spark.sql.functions.typedlit(Seq(1000001, 111, 20013))))
      .head().getString(0)
    assert(dec == "theo中")
    // null in → null out
    val nul = Seq((0L, null.asInstanceOf[Seq[Int]])).toDF("doc_id", "ids")
    assert(nul.select(Bpe.decode(col("ids"))).head().isNullAt(0))
    // invalid ids fail loudly with index context: rank past the merge
    // table, and a non-code-point below the merged base
    for (bad <- Seq(1000000 + Bpe.defaultMerges.pairs.length, 0x110000, -1)) {
      val e = intercept[Exception] {
        ids.select(Bpe.decode(
          org.apache.spark.sql.functions.typedlit(Seq(bad)))).head()
      }
      assert(e.getMessage.contains("bpe_decode") ||
        Option(e.getCause).exists(_.getMessage.contains("bpe_decode")))
    }
    // SQL surface round trip
    graft.functions.GraftFunctions.register(spark)
    val sq = spark.sql(
      "SELECT bpe_decode(bpe_encode('  thin and\tthe ')) AS t").head()
    assert(sq.getString(0) == "thinandthe")
  }

  test("BPE learnMerges: distributed trainer == reference; overlap + ties") {
    // independent reference: classic Sennrich training over the
    // word-count dict (count every adjacent position, merge the
    // highest count — ties count DESC then (l, r) — via a leftmost
    // non-overlapping fold)
    def ref(texts: Seq[String], n: Int): Seq[(String, String, Long)] = {
      val wc = scala.collection.mutable.Map.empty[String, Long]
      texts.foreach(_.trim.split("\\s+").filter(_.nonEmpty)
        .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1))
      var st = wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
      val out = Seq.newBuilder[(String, String, Long)]
      var done = false
      for (_ <- 0 until n if !done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        st.foreach { case (w, syms) =>
          syms.sliding(2).filter(_.size == 2).foreach(p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + wc(w))
        }
        if (pc.isEmpty) done = true
        else {
          val ((l, r), c) = pc.minBy { case ((l, r), c) => (-c, l, r) }
          if (c < 2) done = true
          else {
            out += ((l, r, c))
            st = st.view.mapValues(_.foldLeft(Vector.empty[String]) {
              (acc, x) =>
                if (acc.nonEmpty && acc.last == l && x == r)
                  acc.init :+ (l + r)
                else acc :+ x
            }).toMap
          }
        }
      }
      out.result()
    }
    val texts = Seq(
      "low low low low low", "lower lower widest",
      "newest newest newest widest", "aaaa aaaa aa",
      "the theme thesis", "zz zz zz zz")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnMerges(df, "text", nMerges = 6)
    val expect = ref(texts, 6)
    assert(got == expect, s"got $got\nexpect $expect")
    // overlap counting: "aaaa" has THREE (a,a) positions; the fold
    // merges leftmost non-overlapping → [aa, aa]
    val aa = Bpe.learnMerges(
      Seq((0L, "aaaa aaaa")).toDF("doc_id", "text"), "text", 2)
    assert(aa.head._1 == "a" && aa.head._2 == "a" && aa.head._3 == 6L)
    assert(aa(1) == ("aa", "aa", 2L))
    // learned merges drive the encoder end to end
    val m = new graft.functions.BpeMerges(
      got.map(t => (t._1, t._2)).toArray)
    val enc = df.select(Bpe.encode(col("text"), m).as(s"ids"))
      .collect().map(_.getSeq[Int](0))
    assert(enc.forall(_.nonEmpty))
  }

  test("BPE batched driver training ≡ distributed loop on random " +
      "corpora, incl. non-BMP tie-breaks (r16)") {
    import spark.implicits._
    // maxDriverWords = 0 forces the distributed loop; the default
    // takes the in-memory path — the sequences must match exactly,
    // including argmax ties under Spark's UTF-8 string order (the
    // odd-trial alphabet pits U+F000 against U+1F600, where Java's
    // UTF-16 compareTo orders the OPPOSITE way)
    val rnd = new scala.util.Random(20260817L)
    (0 until 6).foreach { trial =>
      val alphabet: Array[String] =
        if (trial % 2 == 0) Array("a", "b", "c", "d")
        else Array("a", "", new String(Character.toChars(0x1F600)))
      val texts = (0 until 30).map { _ =>
        (0 until (1 + rnd.nextInt(4))).map { _ =>
          (0 until (1 + rnd.nextInt(5)))
            .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        }.mkString(" ")
      }
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val nM = 1 + rnd.nextInt(5)
      val drv = Bpe.learnMerges(df, "text", nM)
      val dist = Bpe.learnMerges(df, "text", nM, 2L, maxDriverWords = 0L)
      assert(drv == dist,
        s"trial $trial (nM=$nM): driver $drv\n distributed $dist")
    }
  }

  test("BPE merge table validates distinct results; chunkIds windows arrays") {
    intercept[IllegalArgumentException] {
      // ("a","bc") and ("ab","c") both yield "abc"
      new graft.functions.BpeMerges(Array("a" -> "bc", "ab" -> "c"))
    }
    // pair-key injectivity (ADVICE r09): the table holds ("a\u0000","b");
    // the DIFFERENT pair ("a","\u0000b") concatenates to the same string,
    // so a separator-keyed map would return rank 0 for it — the
    // length-prefixed key must not
    val nul = new graft.functions.BpeMerges(Array("a\u0000" -> "b"))
    assert(nul.rankOf("a\u0000", "b") == 0)
    assert(nul.rankOf("a", "\u0000b") == -1)
    val ids = Seq((0L, Seq(1, 2, 3, 4, 5)), (1L, Seq.empty[Int]))
      .toDF("doc_id", "ids")
    val chunks = Chunk.chunkIds(ids, "ids", "doc_id", size = 3, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    // stride 2: starts 0, 2, 4 → [1,2,3], [3,4,5], [5]; empty doc: none
    assert(chunks.length == 3)
    assert(chunks.map(_.getSeq[Int](4)).toSeq ==
      Seq(Seq(1, 2, 3), Seq(3, 4, 5), Seq(5)))
    assert(chunks.map(_.getLong(3)).toSeq == Seq(3L, 3L, 1L))
  }

  test("SQL surface: minhash_sig and histogram2d via functionRegistry") {
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("docs_sql")
    val sig = spark.sql(
      """SELECT doc_id, minhash_sig(split(text, ' '), 16) AS sig
        |FROM docs_sql WHERE doc_id IN (0, 3) ORDER BY doc_id""".stripMargin)
      .collect().map(_.getSeq[Long](1))
    assert(sig(0) == sig(1)) // identical docs → identical signatures
    val h = spark.sql(
      """SELECT histogram2d(doc_id, doc_id, 0.0, 4.0, 2, 0.0, 4.0, 2) AS h
        |FROM docs_sql""".stripMargin).head.getSeq[Long](0)
    assert(h.sum == 5L && h(0) == 2L && h(3) == 3L) // ids 0,1 | 2,3,4
    val fp = spark.sql(
      "SELECT fingerprint64(text) AS fp FROM docs_sql ORDER BY doc_id")
      .as[Long].collect()
    assert(fp(0) == fp(3) && fp(0) != fp(2)) // matches the Column API
    val cs = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(0.6D, 0.8D)) AS c")
      .head.getDouble(0)
    assert(math.abs(cs - 0.6) < 1e-12)
    val sh = spark.sql(
      """SELECT simhash64(split(text, ' ')) AS s FROM docs_sql
        |WHERE doc_id IN (0, 3) ORDER BY doc_id""".stripMargin)
      .as[Long].collect()
    assert(sh(0) == sh(1)) // identical docs → identical simhash
    val fv = spark.sql("SELECT fnv64('abc') AS h").head.getLong(0)
    assert(fv == graft.functions.MinHashSig.fnv64(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    val bp = spark.sql("SELECT bpe_encode('thin and') AS ids")
      .head.getSeq[Int](0)
    assert(bp == Seq(1000000, 1000002, 1000004)) // th | in | and
  }

  test("nearest_centroid: assignment, tie-break to lower index, integral input") {
    import graft.functions.NearestCentroid
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)),    // → list 0
      (1L, Array(9.0f, 1.0f)),    // → list 1
      (2L, Array(1.0f, 9.0f)),    // → list 2
      (3L, Array(5.0f, 0.0f))     // equidistant to 0 and 1 → lower index 0
    ).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        NearestCentroid(col("embedding"), cents).as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 0))
    // integral arrays widen like the float path
    val ints = Seq((0L, Array(9, 1))).toDF("vec_id", "embedding")
      .select(NearestCentroid(col("embedding"), cents)).head.getInt(0)
    assert(ints == 1)
  }

  test("cosine_sim widens integral element types like the HOF form did") {
    val c = Seq((Array(3, 4), Array(3.0, 4.0)))
      .toDF("ia", "da")
      .select(Similarity.cosine(col("ia"), col("da"))).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("distributed Lloyd training separates clear clusters") {
    // three tight clusters; init = the 4 smallest ids (two from cluster
    // A) — two rounds must pull centroids onto the cluster means
    val pts = Seq(
      (0L, Array(0.0f, 0.1f)), (1L, Array(0.1f, 0.0f)),
      (2L, Array(10.0f, 0.0f)), (3L, Array(10.1f, 0.1f)),
      (4L, Array(0.0f, 10.0f)), (5L, Array(0.1f, 10.1f)),
      (6L, Array(10.0f, 10.0f)), (7L, Array(10.1f, 9.9f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsLloyd(pts, "embedding", "vec_id",
      k = 4, iters = 2)
    assert(cents.length == 4)
    // every point ends within 0.2 of its assigned centroid
    val assigned = Similarity.ivfAssign(pts, "embedding", cents)
    val maxDist = assigned.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val c = cents(r.getInt(2))
      math.sqrt(v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.max
    assert(maxDist < 0.2, s"worst assignment distance $maxDist")
  }

  test("repeated n-gram ratio: exact fractions, short docs score zero") {
    val d = Seq(
      (0L, "a b a b a b"),          // 2-grams: ab ba ab ba ab → 5 total, 2 distinct
      (1L, "all words are unique"), // no repeats
      (2L, "x")                     // shorter than n → 0
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        TextAnalysis.repeatedNgramRatio(col("text"), 2).as("rep"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(0L) - 3.0 / 5.0) < 1e-12)
    assert(r(1L) == 0.0)
    assert(r(2L) == 0.0)
  }

  test("imageio decoder: synthetic PNG round-trips to exact pixel stats") {
    val png = Multimodal.syntheticPng(5L, 4, 3)
    assert(png.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47)) // PNG magic
    val dec = new Multimodal.ImageIoDecoder(8)
    val f = dec.decodeBatch(Seq(png)).head
    assert(f(0) == 4.0f && f(1) == 3.0f)
    // histogram matches the closed-form pixel formula
    val expect = Array.ofDim[Int](8)
    for (y <- 0 until 3; x <- 0 until 4)
      expect(((5 * 31 + x * 7 + y * 13) % 256) / 32) += 1
    assert(f.drop(2).map(_.toInt).toSeq == expect.toSeq)
    assert(expect.sum == 12)
    // garbage bytes → all-zero features, no exception
    val bad = dec.decodeBatch(Seq(Array[Byte](1, 2, 3), null))
    assert(bad.forall(_.forall(_ == 0.0f)))
  }

  test("imageio decoder: >8-bit rasters bin in range; mid-decode failures poison-pill") {
    // 16-bit grayscale PNG: samples span the full 0..65535 range — the
    // pre-ADVICE-r04 indexing (sample/32) would overflow the bin array
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val raster = img.getRaster
    for (y <- 0 until 4; x <- 0 until 6)
      raster.setSample(x, y, 0, (x * 11000 + y * 3000) % 65536)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val dec = new Multimodal.ImageIoDecoder(8)
    val f = dec.decodeBatch(Seq(out.toByteArray)).head
    assert(f(0) == 6.0f && f(1) == 4.0f)
    assert(f.drop(2).map(_.toInt).sum == 24) // every sample binned, none dropped
    // expected bins: 16-bit sample >> 8 → 8-bit domain, then /32
    val expect = Array.ofDim[Int](8)
    for (y <- 0 until 4; x <- 0 until 6)
      expect((((x * 11000 + y * 3000) % 65536) >> 8) / 32) += 1
    assert(f.drop(2).map(_.toInt).toSeq == expect.toSeq)
    // a payload with a valid PNG signature but truncated body makes the
    // PNG plugin throw mid-read → documented all-zero, not a partial
    // vector or escaped exception
    val truncated = Multimodal.syntheticPng(1L, 5, 5).take(30)
    val bad = dec.decodeBatch(Seq(truncated))
    assert(bad.head.forall(_ == 0.0f))
  }

  test("wav decoder: synthetic PCM16 round-trips to exact sample stats") {
    val wav = Multimodal.syntheticWav(5L, 60)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF") // WAV magic
    val dec = new Multimodal.WavDecoder(8)
    val f = dec.decodeBatch(Seq(wav)).head
    assert(f(0) == 8000.0f && f(1) == 60.0f)
    // histogram matches the closed-form sample formula
    val expect = Array.ofDim[Int](8)
    for (i <- 0 until 60)
      expect((((5 * 31 + i * 7) % 65536) / 8192).toInt) += 1
    assert(f.drop(2).map(_.toInt).toSeq == expect.toSeq)
    assert(expect.sum == 60)
    // garbage bytes → all-zero features, no exception
    val bad = dec.decodeBatch(Seq(Array[Byte](9, 9, 9), null))
    assert(bad.forall(_.forall(_ == 0.0f)))
    // truncated RIFF header (valid magic, malformed structure) → the
    // poison-pill zero vector, never a partial [rate, frames, ...]
    val cut = dec.decodeBatch(Seq(wav.take(16)))
    assert(cut.head.forall(_ == 0.0f))
  }

  test("IMA-ADPCM decoder: state machine, odd-nibble cap, multi-block, poison") {
    val dec = new Multimodal.ImaAdpcmWavDecoder(8)
    // odd nibble count: 41 nibbles → 42 samples, final high nibble unused
    val wav = Multimodal.syntheticImaAdpcmWav(5L, 41)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val f = dec.decodeBatch(Seq(wav)).head
    assert(f(0) == 8000.0f && f(1) == 42.0f)
    // reference decode: replay the closed-form stream through imaStep
    var pred = ((5L * 31) % 65536 - 32768).toInt
    var sidx = (5L % 89).toInt
    val expect = Array.ofDim[Int](8)
    expect((pred + 32768) / 8192) += 1
    for (i <- 0 until 41) {
      val st = Multimodal.imaStep(pred, sidx, ((5L * 7 + i * 5) % 16).toInt)
      pred = st._1; sidx = st._2
      expect((pred + 32768) / 8192) += 1
    }
    assert(f.drop(2).map(_.toInt).toSeq == expect.toSeq)
    assert(expect.sum == 42)
    // clamps actually engage on a long one-direction run: all nibbles 7
    // push the predictor up to +32767 and the step index to 88
    val up = {
      val base = Multimodal.syntheticImaAdpcmWav(0L, 80)
      base // id 0: pred0 = -32768, sidx0 = 0
    }
    // overwrite the nibble payload with 0x77 (two 7-nibbles per byte)
    val dataOff = up.length - 44 // 4 hdr + 40 payload bytes of the data chunk
    val up2 = up.clone()
    for (k <- 0 until 40) up2(dataOff + 4 + k) = 0x77.toByte
    val fUp = dec.decodeBatch(Seq(up2)).head
    assert(fUp(1) == 81.0f && fUp(9) > 0) // top bin reached, no overflow
    // two blocks concatenate: decoder resets state per block header.
    // 40 nibbles → blockAlign 24; data is the generator's LAST chunk,
    // so doubling its payload in place makes a well-formed 2-block file
    val one = Multimodal.syntheticImaAdpcmWav(9L, 40)
    val f1 = dec.decodeBatch(Seq(one)).head
    val ba = 24
    val di = one.length - (8 + ba)
    assert(new String(one, di, 4, "US-ASCII") == "data")
    val two = one ++ one.slice(di + 8, di + 8 + ba)
    two(di + 4) = (2 * ba).toByte        // data size 24 → 48 (LE byte 0)
    two(4) = ((two.length - 8) & 0xFF).toByte
    two(5) = (((two.length - 8) >> 8) & 0xFF).toByte
    val f2 = dec.decodeBatch(Seq(two)).head
    assert(f2(1) == 2 * f1(1))
    assert(f2.drop(2).map(_.toInt).toSeq ==
      f1.drop(2).map(v => 2 * v.toInt).toSeq)
    // poison pills: null, garbage, truncated RIFF, and a PCM wav (wrong
    // format tag for THIS decoder) → all-zero
    val pcm = Multimodal.syntheticWav(5L, 60)
    val pills = dec.decodeBatch(Seq(null, Array[Byte](1, 2, 3),
      wav.take(16), pcm))
    assert(pills.forall(_.forall(_ == 0f)))
  }

  test("y4m video decoder: geometry, frames, luma histogram, stride, poison") {
    val vid = Multimodal.syntheticY4m(5L, 16, 8, 4)
    assert(new String(vid.take(9), "US-ASCII") == "YUV4MPEG2")
    val dec = new Multimodal.Y4mDecoder(8)
    val f = dec.decodeBatch(Seq(vid)).head
    assert(f(0) == 16.0f && f(1) == 8.0f && f(2) == 4.0f && f(3) == 25.0f)
    // luma histogram matches the closed-form sample formula
    val expect = Array.ofDim[Int](8)
    for (fr <- 0 until 4; i <- 0 until 128)
      expect((((5 * 31 + fr * 13 + i * 7) % 256) / 32).toInt) += 1
    assert(f.drop(4).map(_.toInt).toSeq == expect.toSeq)
    assert(expect.sum == 4 * 128)
    // frame striding: only frames 0 and 2 histogrammed, n_frames still 4
    val s2 = new Multimodal.Y4mDecoder(8, frameStride = 2)
      .decodeBatch(Seq(vid)).head
    assert(s2(2) == 4.0f)
    val expect2 = Array.ofDim[Int](8)
    for (fr <- Seq(0, 2); i <- 0 until 128)
      expect2((((5 * 31 + fr * 13 + i * 7) % 256) / 32).toInt) += 1
    assert(s2.drop(4).map(_.toInt).toSeq == expect2.toSeq)
    // poison pills: garbage, null, truncated mid-frame, bad chroma tag
    val cut = vid.take(vid.length - 10)
    val badChroma = ("YUV4MPEG2 W4 H4 F25:1 C410\nFRAME\n" + "x" * 64)
      .getBytes("US-ASCII")
    val bad = dec.decodeBatch(Seq(Array[Byte](9, 9), null, cut, badChroma))
    assert(bad.forall(_.forall(_ == 0.0f)))
  }

  test("multimodal: batched feature extraction is deterministic, frames sample") {
    val bin = docs.withColumn("payload", col("text").cast("binary"))
    val f1 = Multimodal.extractFeatures(bin, "payload", "doc_id",
      new Multimodal.FakeDecoder(8), batchSize = 2)
      .orderBy("doc_id").collect().map(_.getSeq[Float](1))
    val f2 = Multimodal.extractFeatures(bin, "payload", "doc_id",
      new Multimodal.FakeDecoder(8), batchSize = 3)
      .orderBy("doc_id").collect().map(_.getSeq[Float](1))
    f1.zip(f2).foreach { case (a, b) => assert(a == b) } // batch-size invariant
    assert(math.abs(f1(0).map(_.toDouble).sum - 1.0) < 1e-6) // normalized
    val frames = Multimodal.sampleFrames(bin, "payload", 10, 2)
      .select(size(col("frames"))).head.getInt(0)
    assert(frames >= 1)
    val meta = Multimodal.withBinaryMeta(bin, "payload")
      .filter(col("doc_id") === 0).head()
    assert(meta.getAs[Long]("n_bytes") == 43L)
  }

  test("decontamination: shared-shingle counts and anti-join removal") {
    // benchmark = doc 0; doc 1 shares 6 of its 7 trigrams ("...lazy cat"
    // is the only novel one), docs 2 and 4 share none
    val bench = docs.filter(col("doc_id") === 0)
    val corpus = docs.filter(col("doc_id").isin(1L, 2L, 4L))
    val hits = Dedup.contamination(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 6L))
    val clean = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq == Seq(2L, 4L))
    // maxHits above the overlap keeps the contaminated doc
    val lax = Dedup.decontaminate(corpus, bench, "text", "doc_id",
      maxHits = 6L).select("doc_id").as[Long].collect().sorted
    assert(lax.toSeq == Seq(1L, 2L, 4L))
  }

  test("sequence packing: distributed prefix sum ≡ global window") {
    // enough rows to span several range partitions
    val many = spark.range(0, 200).toDF("doc_id")
      .withColumn("text",
        concat_ws(" ", transform(sequence(lit(0), pmod(col("doc_id"), lit(7))),
          i => concat(lit("w"), i))))
    val packed = Packing.packSequencesReleasable(many, "text", "doc_id",
      ctxLen = 16, numParts = 8)._1
    val global = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val expect = many
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("token_offset", sum("n_tokens").over(global) - col("n_tokens"))
      .withColumn("seq_id", expr("token_offset div 16"))
      .withColumn("n_seqs_spanned",
        expr("(token_offset + n_tokens - 1) div 16") - col("seq_id") + lit(1L))
    assert(packed.exceptAll(expect).isEmpty && expect.exceptAll(packed).isEmpty)
    // more partitions than rows → empty range partitions must not
    // poison the offsets map
    val sparse = Packing.packSequencesReleasable(many.limit(10), "text",
      "doc_id", ctxLen = 16, numParts = 32)._1
    assert(sparse.filter(col("token_offset").isNull).count() == 0)
    assert(sparse.count() == 10)
    // every sequence except the last is exactly full
    val fill = Packing.sequenceFill(packed)
    assert(fill.agg(sum("n_docs_starting")).head.getLong(0) == 200L)
  }

  test("ccnetParagraphs: paragraph-grain bucketing drops tail paras " +
      "and reassembly is byte-identical for all-kept docs (r13)") {
    // 12 docs share a very common paragraph (low perplexity → head),
    // 6 share a middling one, and 2 carry a gibberish paragraph whose
    // bigrams are near-unique (high perplexity → tail)
    val common = "the quick brown fox jumps over the lazy dog"
    val mid = "a different sentence appears in several documents here"
    val docs = (0L until 12L).map { i =>
      val tail = if (i < 2) s"\nzx$i qq$i vv$i ww$i kk$i" else ""
      val midP = if (i < 6) s"\n$mid" else ""
      (i, s"$common$midP$tail")
    }.toDF("doc_id", "text")
    val got = LanguageModel
      .ccnetParagraphs(docs, "text", "doc_id")
      .select("doc_id", "n_paras", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // the gibberish paragraphs are the rarest third → tail, dropped
    (0L until 2L).foreach { i =>
      val (_, np, nk, clean) = got(i)
      assert(np == 3 && nk < np, s"doc $i should lose its tail para")
      assert(clean == s"$common\n$mid", s"doc $i reassembly")
    }
    // all-kept docs reassemble BYTE-IDENTICALLY to the original
    (2L until 6L).foreach { i =>
      val (_, np, nk, clean) = got(i)
      assert(np == nk && clean == s"$common\n$mid", s"doc $i identity")
    }
    (6L until 12L).foreach { i =>
      val (_, np, nk, clean) = got(i)
      assert(np == 1 && nk == 1 && clean == common, s"doc $i identity")
    }
    // keeping every bucket is the full identity: text_clean == text
    val all = LanguageModel.ccnetParagraphs(docs, "text", "doc_id",
        keepBuckets = Seq("head", "middle", "tail"))
      .join(docs, Seq("doc_id"))
      .filter(col("text_clean") =!= col("text"))
    assert(all.count() == 0, "all-bucket keep must be byte-identity")
  }

  test("packBinsDecreasing: matches a sequential next-fit-decreasing " +
      "reference; capacity and offsets hold; oversize rejected (r13)") {
    val ctx = 16
    // seeded random lengths incl. repeats, exact-fit, and tiny docs
    val rnd = new scala.util.Random(131)
    val lens = Seq.fill(120)(1 + rnd.nextInt(ctx)) ++ Seq(ctx, ctx, 1, 1)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text").repartition(7)
    val got = Packing.packBinsDecreasing(docs, "text", "doc_id", ctx)
      .select("doc_id", "n_tokens", "bin_id", "bin_offset")
      .as[(Long, Long, Long, Long)].collect()
    // sequential reference: (len desc, id) order, top up the open bin,
    // close it only when the next item cannot fit
    val order = lens.zipWithIndex
      .sortBy { case (n, i) => (-n, i) }
    var bin = 0L; var fill = 0L
    val expect = order.map { case (n, i) =>
      if (fill + n > ctx) { bin += 1; fill = 0 }
      val off = fill
      fill += n
      i.toLong -> ((n.toLong, bin, off))
    }.toMap
    assert(got.length == lens.length)
    got.foreach { case (id, n, b, off) =>
      assert(expect(id) == ((n, b, off)), s"doc $id") }
    // capacity: per-bin occupancy never exceeds ctx; offsets disjoint
    got.groupBy(_._3).foreach { case (b, rows) =>
      assert(rows.map(_._2).sum <= ctx, s"bin $b overflows")
      val spans = rows.map(r => (r._4, r._4 + r._2)).sortBy(_._1)
      spans.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(e1 <= s2, s"bin $b overlap")
        case _ =>
      }
    }
    // oversize docs fail loudly
    val e = intercept[IllegalArgumentException] {
      Packing.packBinsDecreasing(
        Seq((0L, Seq.fill(ctx + 1)("w").mkString(" ")))
          .toDF("doc_id", "text"), "text", "doc_id", ctx)
    }
    assert(e.getMessage.contains("chunk oversize docs first"))
  }

  test("topk_by aggregate ≡ row_number window form, across partitions") {
    val rnd = new scala.util.Random(99)
    val rows = (0 until 3000).map { i =>
      (i.toLong, s"g${i % 7}", rnd.nextInt(50).toDouble) // heavy score ties
    }
    val df = rows.toDF("id", "grp", "score").repartition(13)
    val agg = df.groupBy("grp")
      .agg(graft.functions.TopKByScore(col("score"), col("id"), 5).as("top"))
      .select(col("grp"), posexplode(col("top")))
      .select(col("grp"), col("pos"), col("col.score"), col("col.id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(desc("score"), col("id"))
    val win = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("grp"), (col("rn") - 1).cast("int").as("pos"),
        col("score"), col("id"))
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
    // k larger than the group: short, still-sorted output
    val small = Seq((1L, "a", 2.0), (2L, "a", 9.0)).toDF("id", "grp", "score")
      .groupBy("grp")
      .agg(graft.functions.TopKByScore(col("score"), col("id"), 10).as("t"))
      .select(explode(col("t"))).select("col.id").as[Long].collect().toSeq
    assert(small == Seq(2L, 1L))
  }

  test("bigram familiarity: shared phrasing scores above unique prose") {
    val fam = TextAnalysis.bigramFamiliarity(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("familiarity")).toMap
    // docs 0/1/3 share "the quick brown fox ..." bigrams (0 and 3 are
    // exact copies); doc 4 is unique → every bigram count 1
    assert(fam(0L) == fam(3L) && fam(0L) > fam(4L))
    assert(fam(4L) == 1.0)
    // 8 bigrams in doc 0: 7 appear 3x (docs 0,1,3), "lazy dog" 2x (0,3)
    assert(math.abs(fam(0L) - (7 * 3 + 2).toDouble / 8) < 1e-12)
  }

  test("pii redaction: synthetic email/ip/phone scrubbed and counted") {
    val d = Seq(
      (0L, "write to alice.b@corp.example or 192.168.1.17 or +1-555-0199 now"),
      (1L, "no pii here at all")).toDF("doc_id", "text")
    val counted = TextAnalysis.piiCounts(d, col("text"))
      .withColumn("red", TextAnalysis.redactPii(col("text")))
      .orderBy("doc_id").collect()
    assert(counted(0).getAs[Int]("n_email") == 1)
    assert(counted(0).getAs[Int]("n_ipv4") == 1)
    assert(counted(0).getAs[Int]("n_phone") == 1)
    assert(counted(0).getAs[String]("red") ==
      "write to [EMAIL] or [IPV4] or [PHONE] now")
    assert(counted(1).getAs[String]("red") == "no pii here at all")
  }

  test("int8 quantization: bounded reconstruction error, exact codes") {
    val e = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val codes = e.select(col("vec_id"),
      Quantize.quantizeInt8(col("embedding")).as("q"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(codes(0) == Seq(64, -127, 32, 0)) // 0.5/1*127=63.5 → 64
    assert(codes(1) == Seq(0, 0, 0, 0))
    val rep = Quantize.quantizationReport(e, "embedding", "vec_id")
      .orderBy("vec_id").collect()
    assert(rep(0).getAs[Double]("scale") == 1.0)
    assert(rep(0).getAs[Long]("q_sum") == 64L - 127 + 32)
    // per-element error ≤ scale/254; L2 over 4 dims ≤ 2·scale/254
    assert(rep(0).getAs[Double]("l2_err") <= 2.0 / 254 + 1e-9)
    assert(rep(1).getAs[Double]("l2_err") == 0.0)
  }

  test("mixing: deterministic per-source rates, stable across runs") {
    val d = spark.range(0, 1000).toDF("doc_id")
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(4)).cast("string")))
    val rates = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.3)
    val kept = Mixing.mixBySources(d, "source", "doc_id", rates)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("src0"))           // rate 0 → dropped entirely
    assert(kept("src1") == 250L)             // rate 1 → all kept
    assert(kept("src2") > 30 && kept("src2") < 120) // ~30% of 250
    assert(kept("src3") == 250L)             // default rate 1.0
    // pure function of the id: a second run keeps the identical rows
    val ids1 = Mixing.mixBySources(d, "source", "doc_id", rates)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Mixing.mixBySources(d.repartition(7), "source", "doc_id", rates)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // up-weighting: 2.5 → every doc twice plus ~half a third copy
    val up = Mixing.mixBySourcesWeighted(d, "source", "doc_id",
      Map("src0" -> 2.5, "src1" -> 0.0))
    val perDoc = up.filter(col("source") === "src0")
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(perDoc.length == 250 && perDoc.forall(c => c == 2 || c == 3))
    assert(perDoc.sum > 500 && perDoc.sum < 750)
    assert(up.filter(col("source") === "src1").count() == 0)
    // copy_idx is a proper 0-based index within each doc
    val idx = up.filter(col("source") === "src0" && col("doc_id") === 4)
      .select("copy_idx").as[Long].collect().sorted.toSeq
    assert(idx == (0L until idx.length).toSeq && idx.length >= 2)
  }

  test("bigram LM perplexity: hand-computed add-one model, exact sums") {
    // corpus: ["a b a", "a b", "solo", ""] → V = {a, b, solo} = 3
    // (the empty-text token is excluded); cb(a,b)=2, cb(b,a)=1;
    // cu(a)=2, cu(b)=1; p(b|a)=(2+1)/(2+3)=0.6, p(a|b)=(1+1)/(1+3)=0.5
    val d = Seq((0L, "a b a"), (1L, "a b"), (2L, "solo"), (3L, ""))
      .toDF("doc_id", "text")
    val got = LanguageModel.bigramPerplexity(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    // docs with < 2 tokens are excluded
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val lpAB = math.round(math.log(3.0 / 5.0) * 1e6)
    val lpBA = math.round(math.log(2.0 / 4.0) * 1e6)
    def ppl(slp: Long, n: Long): Double =
      BigDecimal(math.exp((slp / -1e6) / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getLong(1) == 2L &&
      got(0).getDouble(2) == ppl(lpAB + lpBA, 2))
    assert(got(1).getLong(1) == 1L &&
      got(1).getDouble(2) == ppl(lpAB, 1))
    // integer micro-nat sums: bit-identical under repartitioning
    val a = LanguageModel.bigramPerplexity(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    val b = LanguageModel.bigramPerplexity(docs.repartition(7),
      "text", "doc_id").orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("kneserNeyPerplexity: hand-computed interpolated KN") {
    // corpus "a b a b c": bigrams (a,b)=2, (b,a)=1, (b,c)=1
    // ctx: a -> (cu 2, n1f 1), b -> (cu 2, n1f 2); bwd: a 1, b 1, c 1;
    // types = 3; D = 0.75, P_cont = n1b/3
    // p(b|a) = (max(2-.75,0) + .75*1*(1/3)) / 2 = 0.75
    // p(a|b) = (0.25 + .75*2*(1/3)) / 2 = 0.375 ; p(c|b) likewise
    val d = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val got = LanguageModel.kneserNeyPerplexity(d, "text", "doc_id")
      .head()
    val lps = Seq(
      0.75, 0.375, 0.75, 0.375).map(p => math.round(math.log(p) * 1e6))
    val ppl = BigDecimal(math.exp((lps.sum / -1e6) / 4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) == 4L && got.getDouble(2) == ppl)
    // KN sanity: seen-mass probabilities per context sum below 1 with
    // the discounted head, and the model is repartition-invariant
    val a = LanguageModel.kneserNeyPerplexity(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    val b = LanguageModel.kneserNeyPerplexity(docs.repartition(5),
      "text", "doc_id").orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("stupidBackoff: all three arms, hand-computed, incl. OOV floor") {
    // train "a b c a b c": N=6, V=3; tc(a,b,c)=2; bc(a,b)=2, (b,c)=2,
    // (c,a)=1; uc a=2, b=2, c=2
    val train = Seq((100L, "a b c a b c")).toDF("doc_id", "text")
    val test = Seq(
      (0L, "a b c x"), // (a,b,c): trigram arm; (b,c,x): OOV floor
      (1L, "b c a"),   // trigram arm, ln(1/2)
      (2L, "c c a")    // (c,c,a): trigram miss, bigram arm ln(0.4·1/2)
    ).toDF("doc_id", "text")
    val got = LanguageModel.stupidBackoff(test, train, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def mk(lps: Seq[Double]): (Long, Double) = {
      val slp = lps.map(x => math.round(x * 1e6)).sum
      (lps.length.toLong,
        BigDecimal(math.exp((slp / -1e6) / lps.length))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val oov = math.log(0.4 * 0.4 * (1.0 / 9.0)) // (f(x)+1)/(N+V) = 1/9
    assert(got(0L) == mk(Seq(math.log(2.0 / 2.0), oov)))
    assert(got(1L) == mk(Seq(math.log(1.0 / 2.0))))
    assert(got(2L) == mk(Seq(math.log(0.4 * (1.0 / 2.0)))))
    // a doc with < 3 tokens scores nothing
    assert(!got.contains(3L))
  }

  test("LM scoreAgainstModel: persisted model == self-trained scorer") {
    val path = "target/test_lm_model"
    LanguageModel.writeModel(docs, "text", "doc_id", path)
    val v = spark.read.parquet(s"$path/vocab").head().getLong(0)
    val a = LanguageModel.scoreAgainstModel(docs, "text", "doc_id",
        spark.read.parquet(s"$path/bigrams"),
        spark.read.parquet(s"$path/contexts"), v)
      .orderBy("doc_id").collect().toSeq
    val b = LanguageModel.bigramPerplexity(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("allocateBudget: integer water-filling — caps, re-distribution, " +
      "zero weights, over-budget, floor residue, guards") {
    import spark.implicits._
    val avail = Seq(("a", 100L), ("b", 1000L), ("c", 1000L))
      .toDF("source", "avail")
    // equal weights on 900: proportional 300 each; a caps at 100 and
    // the freed 200 re-splits over b and c → 400 each
    val got = Mixing.allocateBudget(avail, "source", "avail",
        Map("a" -> 10L, "b" -> 10L, "c" -> 10L), 900L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(("a", 100L, 10L, 100L, true),
      ("b", 1000L, 10L, 400L, false), ("c", 1000L, 10L, 400L, false)))
    // missing weights carry 0 → allocated 0, never capped
    val g2 = Mixing.allocateBudget(avail, "source", "avail",
        Map("b" -> 5L), 600L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
    assert(g2.toSeq == Seq(("a", 0L, false), ("b", 600L, false),
      ("c", 0L, false)))
    // budget above total availability: everything caps, Σ = Σ avail
    val g3 = Mixing.allocateBudget(avail, "source", "avail",
        Map("a" -> 1L, "b" -> 1L, "c" -> 1L), 10000L)
      .collect().map(r => (r.getLong(3), r.getBoolean(4)))
    assert(g3.forall(_._2) && g3.map(_._1).sum == 2100L)
    // flooring residue stays unallocated: 100 over 3 equal weights
    val g4 = Mixing.allocateBudget(avail, "source", "avail",
        Map("a" -> 7L, "b" -> 7L, "c" -> 7L), 100L)
      .collect().map(_.getLong(3))
    assert(g4.sum == 99L)
    intercept[IllegalArgumentException] {
      Mixing.allocateBudget(
        avail.unionAll(Seq(("a", 5L)).toDF("source", "avail")),
        "source", "avail", Map.empty, 1L)
    }
  }

  test("allocateBudget property: water-filling invariants on random " +
      "availability/weights/budgets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    (0 until 40).foreach { trial =>
      val n = 1 + rnd.nextInt(8)
      val rows = (0 until n).map(i => (s"s$i", rnd.nextInt(5000).toLong))
      val weights = rows.map { case (s0, _) =>
        s0 -> rnd.nextInt(100).toLong }.toMap
      val budget = rnd.nextInt(12000).toLong
      val got = Mixing.allocateBudget(rows.toDF("source", "avail"),
          "source", "avail", weights, budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4)))
      val byS = got.map(g => g._1 -> g).toMap
      // (1) never over availability; capped ⟺ pinned at availability
      got.foreach { case (s0, c, _, a, cap) =>
        assert(a >= 0 && a <= c, s"trial $trial: $s0 alloc $a avail $c")
        assert(!cap || a == c, s"trial $trial: $s0 capped but alloc<avail")
      }
      // (2) total allocation inside [budget − residue, budget], or the
      // whole corpus when the budget exceeds it
      val tot = got.map(_._4).sum
      val sumC = got.map(_._2).sum
      val nUncapped = got.count(!_._5)
      if (budget >= sumC) assert(got.forall(g => g._4 == g._2),
        s"trial $trial: over-budget must take everything")
      else {
        assert(tot <= budget, s"trial $trial: $tot > $budget")
        assert(budget - tot < math.max(1, nUncapped) ||
          got.filter(!_._5).forall(_._3 == 0L),
          s"trial $trial: residue ${budget - tot} too large")
      }
      // (3) zero-weight sources get zero
      got.filter(_._3 == 0L).foreach { g =>
        assert(g._4 == 0L, s"trial $trial: zero-weight ${g._1} got ${g._4}")
      }
      // (4) uncapped fairness: allocations cross-proportional to
      // weights up to the floor error of one final-round division
      val unc = got.filter(g => !g._5 && g._3 > 0)
      for (a <- unc; b <- unc)
        assert(math.abs(a._4 * b._3 - b._4 * a._3) <=
          math.max(a._3, b._3),
          s"trial $trial: ${a._1}/${b._1} disproportional")
      // (5) determinism under input order
      val got2 = Mixing.allocateBudget(
          rnd.shuffle(rows).toDF("source", "avail"),
          "source", "avail", weights, budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4)))
      assert(got2.map(g => g._1 -> g).toMap == byS,
        s"trial $trial: input order changed the allocation")
    }
  }

  test("allocateBudgetEpochs: epoch layering, decay drop-out, partial " +
      "round, reduction to allocateBudget (r15)") {
    import spark.implicits._
    val avail = Seq(("a", 100L), ("b", 1000L), ("c", 1000L))
      .toDF("source", "avail")
    val w = Map("a" -> 800L, "b" -> 10L, "c" -> 10L)
    // budget 4000 over capacity 2100: one full epoch (2100), then a
    // partial second with decayed weights (80,1,1) — a caps at its
    // second 100 and the rest splits 900/900. Hand-derived fixed point.
    val got = Mixing.allocateBudgetEpochs(avail, "source", "avail", w,
        4000L, maxEpochs = 3, decayMilli = 100L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    assert(got.toSeq == Seq(("a", 200L, 2L, true),
      ("b", 1900L, 2L, false), ("c", 1900L, 2L, false)))
    // decay 0: repeats carry no value — exactly one epoch ever
    val g0 = Mixing.allocateBudgetEpochs(avail, "source", "avail", w,
        1000000L, maxEpochs = 5, decayMilli = 0L)
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(g0.map(_._1).sum == 2100L && g0.forall(_._2 <= 1L))
    // no decay + budget beyond everything: every source takes exactly
    // maxEpochs full passes
    val gf = Mixing.allocateBudgetEpochs(avail, "source", "avail", w,
        1000000L, maxEpochs = 4, decayMilli = 1000L)
      .orderBy("source").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(gf.forall(g => g._2 == 4 * g._1 && g._3 == 4L && g._4))
    intercept[IllegalArgumentException] {
      Mixing.allocateBudgetEpochs(avail, "source", "avail", w, 1L,
        maxEpochs = 0, decayMilli = 500L)
    }
    intercept[IllegalArgumentException] {
      Mixing.allocateBudgetEpochs(avail, "source", "avail", w, 1L,
        maxEpochs = 1, decayMilli = 1001L)
    }
  }

  test("allocateBudgetEpochs property: extends the water-filling " +
      "invariants — conservation, epoch caps, maxEpochs monotonicity, " +
      "exact r14 reduction") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    (0 until 30).foreach { trial =>
      val n = 1 + rnd.nextInt(6)
      val rows = (0 until n).map(i => (s"s$i", rnd.nextInt(3000).toLong))
      val weights = rows.map { case (s0, _) =>
        s0 -> rnd.nextInt(60).toLong }.toMap
      val budget = rnd.nextInt(20000).toLong
      val decay = rnd.nextInt(1001).toLong
      val me = 1 + rnd.nextInt(4)
      def run(m: Int): Map[String, (Long, Long, Long, Boolean)] =
        Mixing.allocateBudgetEpochs(rows.toDF("source", "avail"),
            "source", "avail", weights, budget, m, decay)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))
          .toMap
      val got = run(me)
      // (1) conservation: Σ allocated ≤ budget, always
      assert(got.values.map(_._2).sum <= budget, s"trial $trial")
      // (2) epoch cap: per-source allocation ≤ availability × maxEpochs,
      //     and the epochs column is exactly ceil(alloc / avail)
      got.foreach { case (s0, (c, a, e, _)) =>
        assert(a <= c * me, s"trial $trial: $s0 over epoch cap")
        val wantE = if (c == 0 || a == 0) 0L else (a + c - 1) / c
        assert(e == wantE, s"trial $trial: $s0 epochs $e want $wantE")
      }
      // (3) zero-weight sources get nothing at any depth
      got.foreach { case (s0, (_, a, _, _)) =>
        if (weights(s0) == 0L) assert(a == 0L, s"trial $trial: $s0")
      }
      // (4) maxEpochs monotonicity: one more allowed epoch never
      //     shrinks any source's allocation
      val more = run(me + 1)
      got.foreach { case (s0, (_, a, _, _)) =>
        assert(more(s0)._2 >= a, s"trial $trial: $s0 shrank with depth")
      }
      // (5) maxEpochs = 1 is EXACTLY the r14 allocator (same alloc,
      //     same capped flags)
      val flat = run(1)
      val r14 = Mixing.allocateBudget(rows.toDF("source", "avail"),
          "source", "avail", weights, budget)
        .collect().map(r => r.getString(0) ->
          (r.getLong(3), r.getBoolean(4))).toMap
      r14.foreach { case (s0, (a, cap)) =>
        assert(flat(s0)._2 == a && flat(s0)._4 == cap,
          s"trial $trial: $s0 maxEpochs=1 diverges from allocateBudget")
      }
    }
  }

  test("reweightDomains: exact MW rounds, invariants — uniform fixed " +
      "point, hardest-domain monotonicity, smoothing conservation (r15)") {
    import spark.implicits._
    val S = Mixing.WeightScale
    def run(rows: Seq[(String, Long)], rounds: Int, eta: Long,
        smooth: Long = 0L): Map[String, (Long, Long, Long)] =
      Mixing.reweightDomains(rows.toDF("source", "loss"),
          "source", "loss", rounds, eta, smooth)
        .collect().map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // hand-derived 2-domain, 1-round case: losses 100/300 → excess
    // 0/200, g = (S/2)·10^6 and (S/2)·(10^6 + 200·200),
    // m' = floor(g·S / Σg)
    val h = run(Seq(("a", 100L), ("b", 300L)), 1, 200L)
    val ga = BigInt(S / 2) * 1000000
    val gb = BigInt(S / 2) * (1000000 + 200 * 200)
    assert(h("a") == (0L, (ga * S / (ga + gb)).toLong, (ga * S / (ga + gb)).toLong))
    assert(h("b") == (200L, (gb * S / (ga + gb)).toLong, (gb * S / (ga + gb)).toLong))
    // rounds = 0 → the uniform init, untouched by losses
    val z = run(Seq(("a", 5L), ("b", 999L), ("c", 1L)), 0, 500L)
    assert(z.values.forall(_._2 == S / 3))
    // η = 0 → multiplicative no-op: stays uniform at any depth
    val e0 = run(Seq(("a", 5L), ("b", 999L)), 7, 0L)
    assert(e0.values.forall(_._2 == S / 2))
    // equal losses → uniform is a FIXED point (excess all 0)
    val u = run(Seq(("a", 42L), ("b", 42L), ("c", 42L)), 5, 300L)
    assert(u.values.forall(v => v._1 == 0L && v._2 == S / 3))
    // property sweep: ordering follows losses, totals conserve
    val rnd = new scala.util.Random(20260816L)
    (0 until 25).foreach { trial =>
      val n = 2 + rnd.nextInt(5)
      val rows = (0 until n).map(i =>
        (s"s$i", rnd.nextInt(100000).toLong))
      val rounds = rnd.nextInt(5)
      val eta = rnd.nextInt(500).toLong
      val smooth = rnd.nextInt(1001).toLong
      val got = run(rows, rounds, eta, smooth)
      // weights sum to WeightScale up to n floors, never over
      val tot = got.values.map(_._2).sum
      assert(tot <= S && tot > S - n, s"trial $trial: raw total $tot")
      val tots = got.values.map(_._3).sum
      assert(tots <= S && tots > S - 2L * n,
        s"trial $trial: smoothed total $tots")
      // monotone: a domain with the larger loss never ends lighter
      // (multiplier strictly ordered by excess, shared normalizer)
      rows.combinations(2).foreach { case Seq((sa, la), (sb, lb)) =>
        if (la > lb) assert(got(sa)._2 >= got(sb)._2 - 1,
          s"trial $trial: $sa (loss $la) lighter than $sb (loss $lb)")
      }
      // full smoothing (u = 1000) pins every domain to the uniform term
      val flat = run(rows, rounds, eta, 1000L)
      assert(flat.values.map(_._3).toSet.size == 1,
        s"trial $trial: full smoothing not uniform")
    }
  }

  test("reweightDomains: a null loss is a domain-level error, not an " +
      "NPE (ADVICE r15)") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Mixing.reweightDomains(
        Seq(("a", Some(100L)), ("b", Option.empty[Long]))
          .toDF("source", "loss"),
        "source", "loss", 1, 100L)
    }
    assert(ex.getMessage.contains("'b'"))
  }

  test("lengthCurriculumBatches: binary-digit buckets, dense per-bucket " +
      "positions, per-bucket batch reset, repartition-stable (r15)") {
    import spark.implicits._
    // word counts 1, 2, 3, 4, 7, 8, 9 → buckets 0, 1, 1, 2, 2, 3, 3
    def words(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    val docs = Seq(1, 2, 3, 4, 7, 8, 9).zipWithIndex.map {
      case (k, i) => (i.toLong, words(k))
    }.toDF("doc_id", "text")
    val (out, release) = Packing.lengthCurriculumBatchesReleasable(
      docs, "text", "doc_id", batchSize = 2)
    val got = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    release()
    val byId = got.toMap
    assert(byId(0L)._2 == 0L) // 1 word  → bucket 0
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 1L) // 2-3 words
    assert(byId(3L)._2 == 2L && byId(4L)._2 == 2L) // 4-7 words
    assert(byId(5L)._2 == 3L && byId(6L)._2 == 3L) // 8-15 words
    // positions dense per bucket; batch arithmetic; no cross-bucket mix
    got.groupBy(_._2._2).foreach { case (_, rows) =>
      val ps = rows.map(_._2._3).sorted.toSeq
      assert(ps == (0L until rows.length).toSeq)
    }
    got.foreach { case (_, (_, _, p, b, s0)) =>
      assert(b == p / 2 && s0 == p % 2)
    }
    // null text → 0 tokens → bucket 0
    val withNull = docs.unionByName(
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val (out2, rel2) = Packing.lengthCurriculumBatchesReleasable(
      withNull, "text", "doc_id", 2)
    val nullRow = out2.filter(col("doc_id") === 99L).collect()(0)
    rel2()
    assert(nullRow.getLong(1) == 0L && nullRow.getLong(2) == 0L)
    // stable under repartitioning (hash order, GlobalOrder ranks)
    val (out3, rel3) = Packing.lengthCurriculumBatchesReleasable(
      docs.repartition(5), "text", "doc_id", 2)
    val again = out3.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    rel3()
    assert(again.toMap == byId)
  }

  test("count-min sketch: never underestimates, e·N/w bound, merge ≡ " +
      "one-shot, expression scoring (r15)") {
    import spark.implicits._
    import graft.functions.{CmsQuery, CmsSketch, CountMinTerms, MergeCmsSketches}
    // exact when width >> distinct terms (no collisions possible to
    // force, but counts can only over-count; with 3 terms in 2048
    // cells the chance of a layout collision is nil for THIS fixture —
    // asserted exactly, so a hash regression that collides shows up)
    val docs = Seq((0L, "a b a"), (1L, "b c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val row = docs.agg(CountMinTerms(col("text"), 2048, 4).as("sk"))
      .head().getStruct(0)
    val sk = CmsQuery.fromRow(row, 2048, 4)
    assert(sk.total == 5L)
    assert(sk.query("a") == 2L && sk.query("b") == 2L && sk.query("c") == 1L)
    assert(sk.query("absent") >= 0L)
    // merge path ≡ one-shot, repartition-stable (exact: merge is
    // element-wise addition)
    val m = docs.repartition(3)
      .withColumn("half", pmod(col("doc_id"), lit(2)))
      .groupBy("half").agg(CountMinTerms(col("text"), 2048, 4).as("sk"))
      .agg(MergeCmsSketches(col("sk"), 2048, 4).as("m")).head().getStruct(0)
    val skM = CmsQuery.fromRow(m, 2048, 4)
    assert(skM.total == sk.total)
    assert(java.util.Arrays.equals(skM.counts, sk.counts))
    // property: on a skewed stream with a SMALL width (collisions
    // guaranteed), every estimate is >= truth — the unconditional CMS
    // invariant — and within 4e·N/w (the textbook e·N/w holds per term
    // only with probability 1−e^(−depth) ≈ 98%, so over 80 terms a
    // violation is EXPECTED; at 4e the per-term odds are (1/4e)^4 ≈
    // 7·10⁻⁵ — robust to any future hash-family change, not tuned to
    // this seed)
    val rnd = new scala.util.Random(20260816L)
    val terms = (0 until 2000).map(_ => s"t${rnd.nextInt(80)}")
    val truth = terms.groupBy(identity).map { case (t, xs) =>
      (t, xs.length.toLong) }
    val small = new CmsSketch(4, 64)
    terms.foreach(small.offer)
    val bound = math.ceil(4.0 * math.E * small.total / 64).toLong
    truth.foreach { case (t, c) =>
      val est = small.query(t)
      assert(est >= c, s"$t underestimated: $est < $c")
      assert(est <= c + bound, s"$t over bound: $est > $c + $bound")
    }
    // the serve-side expression scores a term table map-only
    val scored = Seq("a", "b", "c", "zzz").toDF("term")
      .select(col("term"), CmsQuery(col("term"), sk).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scored("a") == 2L && scored("b") == 2L && scored("c") == 1L)
    // dimension mismatch is loud
    intercept[Exception] {
      val other = new CmsSketch(2, 32)
      other.absorb(sk)
    }
  }

  test("merge_cms_sketches accepts nullability-loosened sketch structs " +
      "(ADVICE r15)") {
    import spark.implicits._
    import graft.functions.{CmsQuery, CountMinTerms, MergeCmsSketches}
    val docs = Seq((0L, "a b a"), (1L, "b c")).toDF("doc_id", "text")
    val daily = docs.withColumn("day", col("doc_id"))
      .groupBy("day").agg(CountMinTerms(col("text"), 256, 4).as("sk"))
      // a DDL cast (like a user-supplied read schema) makes the counts
      // array nullable — must still pass analysis
      .withColumn("sk",
        col("sk").cast("struct<total:bigint,counts:array<bigint>>"))
    // outer join against a day spine adds genuinely-null sketch rows
    val spine = Seq(0L, 1L, 2L).toDF("day")
    val merged = spine.join(daily, Seq("day"), "left")
      .agg(MergeCmsSketches(col("sk"), 256, 4).as("m"))
      .head().getStruct(0)
    val sk = CmsQuery.fromRow(merged, 256, 4)
    assert(sk.total == 5L)
    assert(sk.query("a") == 2L && sk.query("b") == 2L && sk.query("c") == 1L)
  }

  test("persisted PQ codebooks: round trip bit-identical, clobber and " +
      "torn artifacts are loud (r16)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val df = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id",
      m = 2, k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("pqbooks")
      .toString + "/b"
    Similarity.writePqCodebooks(spark, books, dir)
    val back = Similarity.readPqCodebooks(spark, dir)
    // bit-exact: doubles round-trip through parquet unchanged
    assert(back.length == books.length)
    back.zip(books).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (c, d) => assert(c.sameElements(d)) }
    }
    val codesA = Similarity.pqEncode(df, "embedding", books)
      .select("pq_codes").collect().map(_.getSeq[Int](0).toSeq)
    val codesB = Similarity.pqEncode(df, "embedding", back)
      .select("pq_codes").collect().map(_.getSeq[Int](0).toSeq)
    assert(codesA.toSeq == codesB.toSeq)
    // refuses to clobber
    intercept[IllegalArgumentException] {
      Similarity.writePqCodebooks(spark, books, dir)
    }
    // a torn artifact (hole in the (sub, code) grid) is loud
    val torn = java.nio.file.Files.createTempDirectory("pqbooks2")
      .toString + "/b"
    Seq((0, 0, Seq(1.0, 2.0)), (1, 1, Seq(3.0, 4.0)))
      .toDF("sub", "code", "centroid").write.parquet(torn)
    val ex = intercept[IllegalArgumentException] {
      Similarity.readPqCodebooks(spark, torn)
    }
    assert(ex.getMessage.contains("torn"))
    // ragged subspace widths are loud
    val rag = java.nio.file.Files.createTempDirectory("pqbooks3")
      .toString + "/b"
    Seq((0, 0, Seq(1.0)), (0, 1, Seq(1.0, 2.0)),
      (1, 0, Seq(1.0)), (1, 1, Seq(2.0)))
      .toDF("sub", "code", "centroid").write.parquet(rag)
    intercept[IllegalArgumentException] {
      Similarity.readPqCodebooks(spark, rag)
    }
  }

  test("persisted IVF-PQ composition: served top-k ≡ in-session " +
      "bit-for-bit; artifacts live inside the index (r16)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val df = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val coarse = Similarity.ivfCentroidsLloyd(df, "embedding", "vec_id",
      k = 4, iters = 2)
    val withRes = Similarity.ivfResiduals(
      Similarity.ivfAssign(df, "embedding", coarse), "embedding", coarse)
    val books = Similarity.pqCodebooks(withRes, "residual", "vec_id",
      m = 2, k = 4, iters = 2)
    val q = df.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val direct = Similarity.ivfPqTopK(
      Similarity.pqEncode(withRes, "residual", books),
      "embedding", "vec_id", q, coarse, books, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivfpq")
      .toString + "/idx"
    Similarity.writeIvfPqIndex(df, "embedding", coarse, books, dir)
    val served = Similarity.ivfPqTopKIndexed(spark, dir, "embedding",
        "vec_id", q, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == direct)
    // both model artifacts are inside the index and read back exactly
    val cents2 = Similarity.readIvfQuantizer(spark, dir)
    assert(cents2.length == coarse.length &&
      cents2.zip(coarse).forall { case (a, b) => a.sameElements(b) })
    val books2 = Similarity.readPqCodebooks(spark, s"$dir/_pq_codebooks")
    books2.zip(books).foreach { case (a, b) =>
      a.zip(b).foreach { case (c, d) => assert(c.sameElements(d)) }
    }
  }

  test("shardShuffle: fnv shard, dense in-shard pos, repartition-stable") {
    val d = spark.range(0, 200).toDF("doc_id")
    val got = Mixing.shardShuffle(d, "doc_id", 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 200)
    // shard is the fnv64 bucket of the id string
    val expShard = d.select(col("doc_id"),
        pmod(graft.functions.Fnv64(col("doc_id").cast("string")), lit(4L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (id, sh, _) => expShard(id) == sh })
    // pos is dense 0..n-1 within every shard
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // pure function of the id set: identical under repartitioning
    val again = Mixing.shardShuffle(d.repartition(7), "doc_id", 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // materialized layout: one partition dir per shard, rows inside
    // each shard file already in pos order (no read-side sort)
    val path = "target/test_shards"
    Mixing.writeShards(d, "doc_id", 4, path)
    (0L until 4L).foreach { sh =>
      val rows = spark.read.parquet(s"$path/shard=$sh")
        .select("pos").collect().map(_.getLong(0)).toSeq
      assert(rows == rows.sorted && rows == (0L until rows.length).toSeq)
    }
  }

  test("epochShuffle: per-epoch permutations differ, each reproducible") {
    val d = spark.range(0, 300).toDF("doc_id")
    def run(epoch: Int) = Mixing.epochShuffle(d, "doc_id", 4, epoch)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val e1 = run(1)
    val e2 = run(2)
    // each epoch is a complete permutation: every id exactly once,
    // dense 0..n-1 pos inside every shard
    for (e <- Seq(e1, e2)) {
      assert(e.map(_._1) == (0L until 300L).toSeq)
      e.groupBy(_._2).foreach { case (_, rows) =>
        assert(rows.map(_._3).sorted == (0L until rows.length).toSeq)
      }
    }
    // epochs are DIFFERENT orders of the same corpus (the salt reaches
    // the hash) yet each is a pure function of (id set, epoch)
    assert(e1 != e2)
    assert(run(1) == e1)
    assert(Mixing.epochShuffle(d.repartition(7), "doc_id", 4, 2)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq == e2)
    // the ':' separator keeps (id, epoch) unambiguous: id=1,e=12 and
    // id=11,e=2 must land on different hash inputs
    val amb1 = Mixing.epochShuffle(
      Seq(1L).toDF("doc_id"), "doc_id", 4, 12).select("shard").head()
    val amb2 = Mixing.epochShuffle(
      Seq(11L).toDF("doc_id"), "doc_id", 4, 2).select("shard").head()
    val h1 = Seq("1:12").toDF("s")
      .select(pmod(graft.functions.Fnv64(col("s")), lit(4L))).head()
    val h2 = Seq("11:2").toDF("s")
      .select(pmod(graft.functions.Fnv64(col("s")), lit(4L))).head()
    assert(amb1.getLong(0) == h1.getLong(0))
    assert(amb2.getLong(0) == h2.getLong(0))
  }

  test("Jsonl: lossless round trip, byte-reproducible shards, loud reads") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain text", "en"),
      (2L, "newline\ninside and \"quotes\"", "en"),
      (3L, "中文 unicode ○", "zh"),
      (4L, null.asInstanceOf[String], "es")).toDF("doc_id", "text", "lang")
    def shardHashes(path: String): Seq[(String, String)] = {
      val dir = new java.io.File(path)
      dir.listFiles().filter(_.getName.endsWith(".gz")).sortBy(_.getName)
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          (f.getName.replaceAll("part-(\\d+).*", "$1"),
            java.util.Base64.getEncoder.encodeToString(
              java.security.MessageDigest.getInstance("MD5").digest(bytes)))
        }.toSeq
    }
    val p1 = "target/test_jsonl_a"
    val p2 = "target/test_jsonl_b"
    for (p <- Seq(p1, p2)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    sources.Jsonl.write(df, "doc_id", 3, p1)
    sources.Jsonl.write(df.repartition(7).sortWithinPartitions(desc("lang")),
      "doc_id", 3, p2)
    // byte-reproducible: same rows, any input layout → identical shards
    assert(shardHashes(p1).map(_._2) == shardHashes(p2).map(_._2))
    // lossless round trip under the pinned schema (null, \n, unicode)
    val back = sources.Jsonl.read(spark, p1, df.schema)
      .orderBy("doc_id").collect().map(_.toString)
    assert(back.toSeq == df.orderBy("doc_id").collect().map(_.toString).toSeq)
    // FAILFAST: a torn line must stop the job, not null out
    val bad = "target/test_jsonl_bad"
    new java.io.File(bad).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$bad/part-00000.json"),
      "{\"doc_id\": 1, \"text\": \"ok\", \"lang\": \"en\"}\n{torn".getBytes)
    intercept[Exception] {
      sources.Jsonl.read(spark, bad, df.schema).collect()
    }
    // non-empty target refused loudly
    intercept[IllegalArgumentException] {
      sources.Jsonl.write(df, "doc_id", 3, p1)
    }
  }

  test("Jsonl: map-typed columns stay byte-reproducible under key ties " +
      "(r15 — the rendered-row tie-break)") {
    import spark.implicits._
    // the r14 residual tie: rows IDENTICAL in every orderable column
    // (same key, same text) that differ only in an unorderable map —
    // the key-then-orderable sort cannot order them, so shard bytes
    // were nondeterministic. Entry-order-only map differences are the
    // sharpest case: the maps compare equal as sets but RENDER
    // differently, so they must be ordered by the render itself.
    val rows = Seq(
      (1L, "tie", Map("b" -> "2", "a" -> "1")),
      (1L, "tie", Map("a" -> "1", "b" -> "2")),
      (1L, "tie", Map("z" -> "9")),
      (2L, "solo", Map("k" -> "v")))
    val df = rows.toDF("doc_id", "text", "meta")
    def hashes(path: String): Seq[String] = {
      val dir = new java.io.File(path)
      dir.listFiles().filter(_.getName.endsWith(".gz")).sortBy(_.getName)
        .map(f => java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath)))).toSeq
    }
    val pa = "target/test_jsonl_map_a"
    val pb = "target/test_jsonl_map_b"
    for (p <- Seq(pa, pb)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    sources.Jsonl.write(df, "doc_id", 2, pa)
    // reversed row order, scattered input partitioning — same bytes
    sources.Jsonl.write(rows.reverse.toDF("doc_id", "text", "meta")
      .repartition(5), "doc_id", 2, pb)
    assert(hashes(pa).nonEmpty && hashes(pa) == hashes(pb))
    // all four rows survive the round trip
    val back = sources.Jsonl.read(spark, pa, df.schema)
    assert(back.count() == 4)
    // the synthetic tie-break column must not leak into the output
    assert(back.columns.toSeq == Seq("doc_id", "text", "meta"))
  }

  test("tokenDrift: exact cross-multiplication statistic, total order") {
    import spark.implicits._
    // A: x×2, y×1 (total 3); B: x×1, z×1 (total 2)
    // drift: x |2·2−1·3|=1, y |1·2−0·3|=2, z |0·2−1·3|=3
    val a = Seq((1L, "x x y"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val b = Seq((1L, " x  z ")).toDF("doc_id", "text")
    val got = Drift.tokenDrift(a, b, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.toSeq == Seq(("z", 0L, 1L, "3"), ("y", 1L, 0L, "2"),
      ("x", 2L, 1L, "1")))
    // k bound cuts on the (drift DESC, token ASC) total order
    val top1 = Drift.tokenDrift(a, b, "text", 1).collect()
    assert(top1.length == 1 && top1(0).getString(0) == "z")
    // identical corpora → every drift is exactly 0
    val same = Drift.tokenDrift(a, a, "text", 10)
      .collect().map(_.getString(3))
    assert(same.nonEmpty && same.forall(_ == "0"))
    // ADVICE r13: the decimal cross-multiplication must NOT wrap where
    // a bigint would — counts near 2^40 with 2^40-scale totals put the
    // product near 2^80; the exact decimal digits are the assertion
    val big = (1L << 40).toString // 1099511627776 tokens of one term
    val ca = Seq((1L, Seq.fill(1)("t").mkString(" "))).toDF("doc_id", "text")
    // synthesizing 2^40 real tokens is absurd — drive the arithmetic
    // path directly instead via the same decimal expression
    val expr40 = org.apache.spark.sql.functions.expr(
      s"cast(abs(cast($big as decimal(38,0)) * $big - 0) as string)")
    val wide = ca.select(expr40.as("d")).head().getString(0)
    assert(wide == "1208925819614629174706176") // 2^80, exact
  }

  test("Gopher repetition: unit fractions, top-gram, coverage union") {
    import spark.implicits._
    // doc 1: "alpha one." twice among 3 lines → dup_line 1/3, chars
    // 10 of 29; one paragraph → para metrics 0; top 2-gram
    // "alpha one." ×2, len 10 over tl=31
    val d1 = "alpha one.\nalpha one.\nbeta two."
    // doc 2: 10 tokens of len 2, period-5 repetition → the dup 5-gram
    // COVERS every token (union, not a per-occurrence sum — fraction
    // exactly 1.0, never more); 6-grams all distinct → 0
    val d2 = "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5"
    val m = Repetition.repetitionMetrics(
        Seq((1L, d1), (2L, d2), (3L, null.asInstanceOf[String]))
          .toDF("doc_id", "t"), "t", "doc_id")
      .orderBy("doc_id").collect()
    def g(r: org.apache.spark.sql.Row, c: String) = r.getAs[Double](c)
    assert(math.abs(g(m(0), "dup_line_frac") - 1.0 / 3) < 1e-12)
    assert(math.abs(g(m(0), "dup_line_char_frac") - 10.0 / 29) < 1e-12)
    assert(g(m(0), "dup_para_frac") == 0.0)
    assert(math.abs(g(m(0), "top_2gram_char_frac") - 20.0 / 31) < 1e-12)
    assert(g(m(0), "dup_5gram_char_frac") == 0.0)
    assert(g(m(1), "dup_5gram_char_frac") == 1.0)
    assert(g(m(1), "dup_6gram_char_frac") == 0.0)
    assert(g(m(1), "dup_line_frac") == 0.0)
    // null text → every metric 0
    assert(Repetition.GopherThresholds.forall { case (c, _) =>
      g(m(2), c) == 0.0 })
    // paragraphs: 2 identical blocks of 3 → dup_para_frac 1/2
    val p = Repetition.repetitionMetrics(
        Seq((1L, "para block one\n\npara block one")).toDF("doc_id", "t"),
        "t", "doc_id").head()
    assert(math.abs(p.getAs[Double]("dup_para_frac") - 0.5) < 1e-12)
    assert(math.abs(p.getAs[Double]("dup_para_char_frac") - 0.5) < 1e-12)
    // verdict: d2 trips the 5-gram rule, clean long prose passes
    val v = Repetition.gopherRepetitionVerdict(
        Seq((1L, d2),
          (2L, "every single word appearing inside this rather long " +
            "document remains completely distinct from all neighbours " +
            "so no repetition rule can possibly trip anywhere today."))
          .toDF("doc_id", "t"), "t", "doc_id")
      .orderBy("doc_id").collect()
    assert(!v(0).getAs[Boolean]("passes"))
    assert(v(1).getAs[Boolean]("passes"))
    // repartition-invariant
    val big = Seq.tabulate(40)(i => (i.toLong, if (i % 3 == 0) d1 else d2))
    val a = Repetition.repetitionMetrics(
      big.toDF("doc_id", "t"), "t", "doc_id")
      .orderBy("doc_id").collect().map(_.toString)
    val b = Repetition.repetitionMetrics(
      big.toDF("doc_id", "t").repartition(7), "t", "doc_id")
      .orderBy("doc_id").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
    // SQL surface: the kernel struct is addressable field-by-field
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, d2)).toDF("doc_id", "t").createOrReplaceTempView("gr_t")
    val sq = spark.sql(
      "SELECT gopher_repetition(t).dup_5gram_char_frac AS f FROM gr_t")
      .head()
    assert(sq.getDouble(0) == 1.0)
  }

  test("retrieveTopK: inverted-index BM25 == corpus-scan bm25; batch") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta beta gamma"),
      (11L, "alpha alpha delta"),
      (12L, "beta gamma gamma gamma delta"),
      (13L, "epsilon zeta"),
      (14L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // the index formulation must reproduce the corpus-scan scorer
    // bit-for-bit (same formula, same fold order) on the hit set
    val terms = Seq("alpha", "gamma", "zeta")
    val q = Seq((7L, terms)).toDF("query_id", "terms")
    val got = Rank.retrieveTopK(corpus, "text", "doc_id",
        q, "query_id", "terms", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    val ref = Rank.bm25(corpus, "text", "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._2 != 0.0)
      .sortBy { case (id, s) => (-s, id) }
    assert(got.toSeq == ref.toSeq)
    // doc 14 (null text) and doc 11..? — every returned doc contains a
    // query term; docs with none (and null text) are absent
    assert(got.map(_._1).toSet == Set(10L, 11L, 12L, 13L))
    // batch: per-query independence, k bound, no-hit query empty
    val qs = Seq((0L, Seq("alpha")), (1L, Seq("delta", "beta")),
      (2L, Seq("nothinghere"))).toDF("query_id", "terms")
    val batch = Rank.retrieveTopK(corpus, "text", "doc_id",
        qs, "query_id", "terms", k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(batch.count(_._1 == 0L) == 1 && batch.count(_._1 == 1L) == 1)
    assert(!batch.exists(_._1 == 2L))
    assert(batch.forall(_._2 == 0))
    // single-query result is stable under input repartitioning
    val again = Rank.retrieveTopK(corpus.repartition(5), "text", "doc_id",
        q, "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == got.toSeq)
    // persisted index: bit-identical serving, pruned probe, loud
    // refusal to clobber an existing index
    val path = "target/test_retrieval_index"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    Rank.writeIndex(corpus, "text", "doc_id", path)
    val served = Rank.retrieveTopKIndexed(spark, path, q,
        "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(served.toSeq == got.toSeq)
    // the probe's postings scan must be partition-pruned to the query
    // vocabulary's buckets (assert on the read shape the serving path
    // constructs — the serving plan itself starts from the eager
    // checkpoint, so the scan is not visible there)
    val bIds = q.select(explode(col("terms")).as("term"))
      .select(Rank.termBucket(col("term"))).distinct()
      .collect().map(_.getLong(0))
    assert(bIds.length < Rank.IndexBuckets) // the probe IS selective
    val pr = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(bIds.toIndexedSeq: _*))
    val plan = pr.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]].*"), plan.take(800))
    intercept[IllegalArgumentException] {
      Rank.writeIndex(corpus, "text", "doc_id", path)
    }
    // incremental append: build half, append the rest → serving is
    // bit-identical to the one-shot index (stats summed, postings in
    // the same bucket layout); appending to a non-index fails loudly
    val ap = "target/test_retrieval_append"
    val app = new org.apache.hadoop.fs.Path(ap)
    if (fs.exists(app)) fs.delete(app, true)
    Rank.writeIndex(corpus.filter(col("doc_id") <= 11), "text", "doc_id", ap)
    Rank.appendToIndex(corpus.filter(col("doc_id") > 11), "text", "doc_id", ap)
    val appended = Rank.retrieveTopKIndexed(spark, ap, q,
        "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(appended.toSeq == got.toSeq)
    intercept[IllegalArgumentException] {
      Rank.appendToIndex(corpus, "text", "doc_id",
        "target/test_not_an_index")
    }
    // compaction: append left 2 files in touched buckets → optimize
    // rewrites them to 1, leaves 1-file buckets byte-untouched, a
    // second call rewrites 0, and serving is unchanged
    def bucketFiles(p: String): Map[String, Seq[(String, Long)]] = {
      val d = new java.io.File(s"$p/postings")
      d.listFiles().filter(_.getName.startsWith("bucket=")).map { b =>
        b.getName -> b.listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .map(f => (f.getName, f.length())).toSeq
      }.toMap
    }
    val before = bucketFiles(ap)
    assert(before.values.exists(_.size >= 2))
    val untouched = before.filter(_._2.size == 1)
    val n1 = Rank.optimizeIndex(spark, ap, minFiles = 2)
    assert(n1 == before.values.count(_.size >= 2))
    val after = bucketFiles(ap)
    assert(after.values.forall(_.size == 1))
    untouched.foreach { case (b, fsig) =>
      assert(after(b) == fsig, s"1-file bucket $b was rewritten")
    }
    assert(Rank.optimizeIndex(spark, ap, minFiles = 2) == 0)
    val servedOpt = Rank.retrieveTopKIndexed(spark, ap, q,
        "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(servedOpt.toSeq == got.toSeq)
    // ADVICE r13 crash safety: every interruption point of the
    // rename-aside swap must heal (optimizeIndex) or fail loudly
    // (serve), never silently drop a bucket's postings.
    val postRoot = new java.io.File(s"$ap/postings")
    val liveBucket = postRoot.listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted.head
    def hPath(n: String) = new org.apache.hadoop.fs.Path(s"$ap/postings/$n")
    // (1) crash DIED BETWEEN THE TWO RENAMES: live bucket gone, only
    // copy under .old_ — serving must refuse, healing must roll back
    assert(fs.rename(hPath(liveBucket), hPath(s".old_$liveBucket")))
    val stranded = intercept[IllegalArgumentException] {
      Rank.retrieveTopKIndexed(spark, ap, q, "query_id", "terms", k = 10)
    }
    assert(stranded.getMessage.contains("stranded mid-swap"))
    assert(Rank.optimizeIndex(spark, ap, minFiles = 2) == 0) // heals first
    assert(fs.exists(hPath(liveBucket)) &&
      !fs.exists(hPath(s".old_$liveBucket")))
    // (2) crash BEFORE THE FINAL DELETE: both live and .old_ present —
    // serving is correct (reader skips dot-dirs), healing drops .old_
    fs.mkdirs(hPath(s".old_$liveBucket"))
    val servedDup = Rank.retrieveTopKIndexed(spark, ap, q,
        "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(servedDup.toSeq == got.toSeq)
    assert(Rank.optimizeIndex(spark, ap, minFiles = 2) == 0)
    assert(!fs.exists(hPath(s".old_$liveBucket")))
    // (3) crash DURING THE TMP WRITE: torn .opt_ next to the live
    // bucket — healing deletes the torn copy, the bucket is untouched
    fs.mkdirs(hPath(s".opt_$liveBucket"))
    assert(Rank.optimizeIndex(spark, ap, minFiles = 2) == 0)
    assert(!fs.exists(hPath(s".opt_$liveBucket")) &&
      fs.exists(hPath(liveBucket)))
    val servedHealed = Rank.retrieveTopKIndexed(spark, ap, q,
        "query_id", "terms", k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(servedHealed.toSeq == got.toSeq)
  }

  test("rrfFuse: exact integer fusion, consensus audit, tie-break, " +
      "k bound, hybridTopK wiring (r15)") {
    import spark.implicits._
    def ranked(rows: (Long, Long, Long)*) = // (query, rank, doc)
      rows.toDF("query_id", "rank", "doc_id")
    // hand-derived: query 0 — doc 7 in both lists (ranks 0 and 1),
    // doc 8 lexical-only rank 1, doc 9 semantic-only rank 0
    val lex = ranked((0L, 0L, 7L), (0L, 1L, 8L))
    val sem = ranked((0L, 0L, 9L), (0L, 1L, 7L))
    val S = Rank.RrfScale
    val fused = Rank.rrfFuse(Seq(lex, sem), k = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(fused.toSeq == Seq(
      (0L, 7L, S / 61 + S / 62, 2L), // consensus: both contributions
      (1L, 9L, S / 61, 1L),
      (2L, 8L, S / 62, 1L))) // equal rank, lower id wins ties below
    // tie-break: two docs with the SAME total score order by doc id
    val tie = Rank.rrfFuse(
      Seq(ranked((0L, 0L, 5L), (0L, 1L, 3L)),
        ranked((0L, 0L, 3L), (0L, 1L, 5L))), k = 10)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(tie.toSeq == Seq(3L, 5L)) // equal rrf → id ASC
    // k bound and per-query independence
    val multi = Rank.rrfFuse(Seq(ranked(
      (0L, 0L, 1L), (0L, 1L, 2L), (0L, 2L, 3L), (1L, 0L, 4L))), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(multi.count(_._1 == 0L) == 2 && multi.count(_._1 == 1L) == 1)
    // single-list fusion preserves the input ranking (monotone in rank)
    val single = Rank.rrfFuse(Seq(ranked(
      (0L, 0L, 11L), (0L, 1L, 12L), (0L, 2L, 13L))), k = 3)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(single.toSeq == Seq(11L, 12L, 13L))
    // hybridTopK renames the Similarity corpus_id column seam
    val semC = Seq((0L, 0L, 0.9, 9L), (0L, 1L, 0.8, 7L))
      .toDF("query_id", "rank", "cosine", "corpus_id")
    val hy = Rank.hybridTopK(lex, semC, k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getLong(4)))
    assert(hy.toSeq == Seq((7L, 2L), (9L, 1L), (8L, 1L)))
    // stable under repartitioning (the aggregate is order-insensitive)
    val again = Rank.rrfFuse(Seq(lex.repartition(7), sem.repartition(3)),
        k = 10).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(again.toSeq == fused.toSeq)
  }

  test("IVF index lifecycle: frozen quantizer, append ≡ one-shot, " +
      "bounded compaction, stranded-list serve guard (r15)") {
    import spark.implicits._
    // 40 vectors in 4 dims, spread over 4 well-separated clusters
    val emb = (0L until 40L).map { i =>
      val base = Array(0f, 0f, 0f, 0f)
      base((i % 4).toInt) = 10f
      base(((i + 1) % 4).toInt) = (i % 7).toFloat
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
      k = 4, iters = 2)
    val q = emb.filter(col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).toArray
    def serve(p: String) =
      Similarity.ivfTopKIndexed(spark, p, "embedding", "vec_id", q, 5,
          nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val oneShot = "target/test_ivf_oneshot"
    val lively = "target/test_ivf_lifecycle"
    Similarity.writeIvfIndex(emb, "embedding", cents, oneShot)
    // quantizer round-trips exactly
    val back = Similarity.readIvfQuantizer(spark, oneShot)
    assert(back.length == cents.length &&
      back.zip(cents).forall { case (a, b) => a.toSeq == b.toSeq })
    // base + two appends, assigned against the index's OWN quantizer
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 20), "embedding",
      cents, lively)
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 20 && col("vec_id") < 30), "embedding",
      lively)
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 30), "embedding", lively)
    val want = serve(oneShot)
    assert(serve(lively).toSeq == want.toSeq,
      "append path diverged from the one-shot build")
    // compaction: bounded rewrite, idempotent, serving unchanged
    val root = new java.io.File(lively)
    def listFilesOf(n: String) = new java.io.File(root, n).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => (f.getName, f.length())).toSeq
    val lists = root.listFiles().map(_.getName)
      .filter(_.startsWith("ivf_list=")).sorted
    val before = lists.map(n => n -> listFilesOf(n)).toMap
    assert(before.values.exists(_.size >= 2), "appends left no multi-file list")
    val single = before.filter(_._2.size == 1)
    val n1 = Similarity.optimizeIvfIndex(spark, lively, minFiles = 2)
    assert(n1 == before.values.count(_.size >= 2))
    single.foreach { case (n, sig) =>
      assert(listFilesOf(n) == sig, s"1-file list $n was rewritten") }
    assert(Similarity.optimizeIvfIndex(spark, lively, minFiles = 2) == 0)
    assert(serve(lively).toSeq == want.toSeq,
      "compaction changed the serving result")
    // stranded list: serve refuses loudly, optimize heals
    val fs = new org.apache.hadoop.fs.Path(lively)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(n: String) = new org.apache.hadoop.fs.Path(s"$lively/$n")
    val liveList = lists.head
    assert(fs.rename(hp(liveList), hp(s".old_$liveList")))
    val err = intercept[IllegalArgumentException] { serve(lively) }
    assert(err.getMessage.contains("stranded mid-swap"))
    assert(Similarity.optimizeIvfIndex(spark, lively, minFiles = 2) == 0)
    assert(fs.exists(hp(liveList)) && !fs.exists(hp(s".old_$liveList")))
    assert(serve(lively).toSeq == want.toSeq, "healing lost rows")
    // a non-index path is refused, not silently built against
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(emb, "embedding", "target/test_not_ivf")
    }
  }

  test("SuffixDedup: prefix-doubling ranking — hand spans, removal, " +
      "and ≡ gram-hash spans on random corpora (r15)") {
    import spark.implicits._
    // hand case, k=4: docs 1/2 share a 7-token run; doc 4 self-repeats
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g z"),
      (3L, "p q r s"),
      (4L, "m m m m m m"),
      (5L, null.asInstanceOf[String]),
      (6L, "")).toDF("doc_id", "text")
    val (spans, rel) = SuffixDedup.duplicatedSuffixSpansReleasable(
      docs, "text", "doc_id", 4)
    val got = spans.orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rel()
    assert(got.toSeq == Seq((1L, 0L, 7L, 4L), (2L, 2L, 9L, 4L),
      (4L, 0L, 6L, 3L)))
    val (removed, rel2) = SuffixDedup.dedupExactSubstringsReleasable(
      docs, "text", "doc_id", 4)
    val txts = removed.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    rel2()
    assert(txts.toSeq == Seq((1L, "h i j"), (2L, "x y z"),
      (3L, "p q r s"), (4L, ""), (5L, null), (6L, "")))
    // the mechanism pin: on corpora small enough that 64-bit gram
    // hashes cannot collide, the suffix ranking must produce EXACTLY
    // the gram-hash path's spans, for every k — including k=1 (no
    // doubling rounds) and k=8 (a power of two, trailing class at
    // offset 0)
    val rnd = new scala.util.Random(20260816L)
    val vocab = Array("u", "v", "w", "xx", "yy", "z0")
    (0 until 3).foreach { trial =>
      val corpus = (0 until 12).map { i =>
        val n = rnd.nextInt(26)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      Seq(1, 3, 8).foreach { k =>
        val (a1, r1) = SuffixDedup.duplicatedSuffixSpansReleasable(
          corpus, "text", "doc_id", k)
        val s1 = a1.orderBy("doc_id", "span_start").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        r1()
        val (a2, r2) = Spans.duplicatedSpansReleasable(
          corpus, "text", "doc_id", k)
        val s2 = a2.orderBy("doc_id", "span_start").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        r2()
        assert(s1 == s2, s"trial $trial k=$k: suffix != gram-hash")
      }
    }
  }

  test("Keys.pairKey: injective + order-preserving ≡ struct ordering; " +
      "SuffixDedup string-id fallback (r17)") {
    import spark.implicits._
    // the decimal encoding must order exactly like the struct form so
    // min() picks the identical canonical representative — random
    // (id, pos) pairs incl. negative ids, zero, extremes
    val rnd = new scala.util.Random(20260819L)
    val pairs = ((0 until 200).map { _ =>
      (rnd.nextLong(), math.abs(rnd.nextLong()) % (1L << 62))
    } ++ Seq((Long.MinValue, 0L), (Long.MaxValue, (1L << 62) - 1),
      (0L, 0L), (-1L, 5L), (1L, 0L))).distinct
    val df = pairs.toDF("id", "pos")
      .select(struct(col("id"), col("pos")).as("s"),
        graft.llm.Keys.pairKey(col("id"), col("pos")).as("k"))
    val byStruct = df.orderBy("s").select("k").collect().map(_.getDecimal(0))
    val byKey = df.orderBy("k").select("k").collect().map(_.getDecimal(0))
    assert(byStruct.toSeq == byKey.toSeq,
      "pairKey order diverges from struct order")
    assert(byKey.distinct.length == pairs.length, "pairKey not injective")
    // non-integral id columns keep the struct path: same spans as the
    // long-id run on the identical corpus
    val docsL = Seq((1L, "a b c d e f"), (2L, "z a b c d e f"),
      (3L, "q r s t")).toDF("doc_id", "text")
    val docsS = Seq(("1", "a b c d e f"), ("2", "z a b c d e f"),
      ("3", "q r s t")).toDF("doc_id", "text")
    def spansOf(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val (sp, rel) = SuffixDedup.duplicatedSuffixSpansReleasable(
        d, "text", "doc_id", 3)
      val got = sp.orderBy("doc_id", "span_start")
        .select(col("span_start"), col("span_end")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      rel()
      got
    }
    assert(spansOf(docsL) == spansOf(docsS),
      "string-id fallback diverges from the long-id path")
  }

  test("C4 line filters: terminal punct, word floor, javascript; order") {
    import spark.implicits._
    val page = Seq(
      "First kept line stays intact.",      // kept
      "short.",                             // < 3 words
      "no terminal punctuation at all",     // no terminator
      "Please enable JavaScript to view.",  // javascript (case-folded)
      "he said \"quoted line stays\"",      // ends in quote → kept
      "Last kept line questions things?"    // kept
    ).mkString("\n")
    val got = C4.cleanLines(
        Seq((1L, page), (2L, null.asInstanceOf[String])).toDF("doc_id", "t"),
        "t", "doc_id")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_lines") == 6L)
    assert(got(0).getAs[Long]("n_lines_kept") == 3L)
    assert(got(0).getAs[String]("text_lines") ==
      Seq("First kept line stays intact.", "he said \"quoted line stays\"",
        "Last kept line questions things?").mkString("\n"))
    // null page ≡ empty: its single empty line fails every filter
    assert(got(1).getAs[Long]("n_lines") == 1L &&
      got(1).getAs[Long]("n_lines_kept") == 0L &&
      got(1).getAs[String]("text_lines") == "")
  }

  test("C4 page filters: sentence floor inclusive, lorem/brace/badword") {
    import spark.implicits._
    val five = "One two three. Four five six. Seven eight nine. " +
      "Ten eleven twelve. Thirteen fourteen fifteen."
    val cases = Seq(
      (0L, five, true),                           // exactly 5 → kept
      (1L, five.stripSuffix(" Thirteen fourteen fifteen."), false), // 4
      (2L, five + " Plus some Lorem Ipsum filler.", false),
      (3L, five + " A brace { here.", false),
      (4L, five + " The zorblax word.", false),
      (5L, five + " Zorblaxian is a different word.", true)) // \b pins
    val got = C4.pageVerdict(
        cases.map(c => (c._1, c._2)).toDF("doc_id", "t"),
        "t", "doc_id", badWords = Seq("zorblax"))
      .orderBy("doc_id").collect()
    cases.foreach { case (id, _, exp) =>
      assert(got(id.toInt).getAs[Boolean]("page_kept") == exp,
        s"doc $id expected page_kept=$exp")
    }
    assert(got(0).getAs[Long]("n_sentences") == 5L)
    // bad words must be plain lowercase tokens (they enter a regex)
    intercept[IllegalArgumentException] {
      C4.pageVerdict(cases.map(c => (c._1, c._2)).toDF("doc_id", "t"),
        "t", "doc_id", badWords = Seq("a|b"))
    }
  }

  test("C4 span dedup: first occurrence wins, overlap union, identity") {
    import spark.implicits._
    val shared = "Alpha beta gamma. Delta epsilon zeta. Eta theta iota."
    val d = Seq(
      (1L, s"Unique lead in here. $shared Unique tail for one."),
      (2L, s"$shared Unique tail for two."),
      (3L, "Totally unrelated page. With its own sentences. " +
        "Nothing shared at all. Second unique span here. Final one."),
      (4L, "Tiny. Page.")) // < 3 sentences → no spans, identity
    val got = C4.dedupSpans(d.toDF("doc_id", "t"), "t", "doc_id")
      .orderBy("doc_id").collect()
    // doc 1 owns the keeper occurrence (min doc_id): untouched, and its
    // reassembly is byte-identical to its sentence concatenation
    assert(got(0).getAs[Long]("n_sent_removed") == 0L)
    assert(got(0).getAs[String]("text_clean") ==
      s"Unique lead in here. $shared Unique tail for one.")
    // doc 2 loses exactly the three shared sentences; survivors keep
    // their raw (space-prefixed) bytes
    assert(got(1).getAs[Long]("n_sent_removed") == 3L)
    assert(got(1).getAs[String]("text_clean") == " Unique tail for two.")
    // untouched pages: full identity
    assert(got(2).getAs[Long]("n_sent_removed") == 0L)
    assert(got(2).getAs[String]("text_clean") == d(2)._2)
    assert(got(3).getAs[Long]("n_sent_removed") == 0L)
    assert(got(3).getAs[String]("text_clean") == "Tiny. Page.")
    // overlapping duplicated spans remove the UNION of their sentences:
    // doc 6 repeats doc 5's four consecutive sentences → spans (0,1,2)
    // and (1,2,3) both dup → sids 0..3 all removed
    val four = "S one alpha. S two beta. S three gamma. S four delta."
    val o = C4.dedupSpans(Seq((5L, four + " Tail five."),
        (6L, four + " Other ending six.")).toDF("doc_id", "t"),
      "t", "doc_id").orderBy("doc_id").collect()
    assert(o(0).getAs[Long]("n_sent_removed") == 0L)
    assert(o(1).getAs[Long]("n_sent_removed") == 4L)
    assert(o(1).getAs[String]("text_clean") == " Other ending six.")
  }

  test("C4 clean: composition; repartition-invariant") {
    import spark.implicits._
    val body = "One two three. Four five six. Seven eight nine. " +
      "Ten eleven twelve. Thirteen fourteen fifteen."
    val d = Seq(
      (1L, s"skip me\n$body"),
      (2L, s"$body\nAnd the lorem ipsum trap."),
      (3L, body)).toDF("doc_id", "t")
    val got = C4.clean(d, "t", "doc_id").orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("page_kept") &&
      got(0).getAs[Long]("n_lines_kept") == 1L)
    assert(!got(1).getAs[Boolean]("page_kept") &&
      got(1).getAs[String]("text_clean") == "")
    assert(got(2).getAs[Boolean]("page_kept"))
    // docs 1 and 3 share all five sentences (the line filter strips
    // doc 1's "skip me"): doc 1 keeps, doc 3 empties
    assert(got(0).getAs[Long]("n_sent_removed") == 0L &&
      got(0).getAs[String]("text_clean") == body)
    assert(got(2).getAs[Long]("n_sent_removed") == 5L &&
      got(2).getAs[String]("text_clean") == "")
    val again = C4.clean(d.repartition(7), "t", "doc_id")
      .orderBy("doc_id").collect()
    assert(got.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("gopher metrics: stopword / symbol / top-token ratios") {
    // doc 0: "the quick brown fox jumps over the lazy dog" — 9 tokens,
    // stopword occurrences = "the"×2, no symbols, mode token "the"×2
    val m = TextAnalysis.gopherMetrics(docs, col("text"))
      .filter(col("doc_id") === 0).head()
    assert(math.abs(m.getAs[Double]("stopword_ratio") - 2.0 / 9) < 1e-12)
    assert(m.getAs[Double]("symbol_ratio") == 0.0)
    assert(math.abs(m.getAs[Double]("top_token_ratio") - 2.0 / 9) < 1e-12)
    val sym = TextAnalysis.gopherMetrics(
        Seq((9L, "a-b c! d?")).toDF("doc_id", "text"), col("text"))
      .head()
    assert(math.abs(sym.getAs[Double]("symbol_ratio") - 3.0 / 9) < 1e-12)
    assert(math.abs(sym.getAs[Double]("top_token_ratio") - 1.0 / 3) < 1e-12)
  }

  test("curation funnel: cumulative attrition, null-fails, survivors agree") {
    val d = Seq(
      (0L, "good doc with enough words here"),
      (1L, "short"),
      (2L, null.asInstanceOf[String]),
      (3L, "another acceptable document right here"),
      (4L, "bad!!! ###")
    ).toDF("doc_id", "text")
    val stages = Seq(
      "min_tokens" -> (TextAnalysis.tokenCount(col("text")) >= 2L),
      "no_symbols" -> !col("text").contains("#"))
    val f = Curate.funnel(d, stages).orderBy("stage_idx")
      .as[(Int, String, Long, Long, Option[Double])].collect()
    // null text: tokenCount(null) is null → FAILS stage 0 (like WHERE)
    assert(f(0) == ((0, "min_tokens", 5L, 3L, Some(0.6))))
    assert(f(1) == ((1, "no_symbols", 3L, 2L, Some(2.0 / 3))))
    // survivors = rows passing every stage = last rows_out
    val surv = Curate.survivors(d, stages).select("doc_id")
      .as[Long].collect().sorted
    assert(surv.toSeq == Seq(0L, 3L) && surv.length == f.last._4)
    // a stage that kills everything: downstream rows_in/out collapse to
    // 0 and pass_rate becomes null, not a division error
    val dead = Curate.funnel(d, stages :+ ("none" -> lit(false)) :+
        ("after" -> lit(true))).orderBy("stage_idx")
      .as[(Int, String, Long, Long, Option[Double])].collect()
    assert(dead(2) == ((2, "none", 2L, 0L, Some(0.0))))
    assert(dead(3) == ((3, "after", 0L, 0L, None)))
  }

  test("duplicated spans: self-repeats, gap split, overlap merge") {
    val d = Seq(
      // "a b c d" repeats at tokens 0 and 8 with a unique middle:
      // two spans split by the > k gap
      (0L, "a b c d M N O P a b c d"),
      // every 3-gram repeats → overlapping grams merge to ONE span
      (1L, "z w z w z w z w"),
      (2L, "p q r s t u"), // all grams unique → no rows
      (3L, "xx yy"), // shorter than k → no rows
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Spans.duplicatedSpansReleasable(d, "text", "doc_id", 3)._1
      .select(col("doc_id"), col("span_start").cast("long"),
        col("span_end").cast("long"), col("n_grams"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (0L, 0L, 4L, 2L), (0L, 8L, 12L, 2L),
      (1L, 0L, 8L, 6L)))
    // the removal action: spanned tokens cut, survivors rejoined;
    // fully-duplicated doc → empty string; span-free docs keep their
    // text byte-for-byte; null text stays null
    val rem = Spans.removeDuplicatedSpansReleasable(d, "text", "doc_id", 3)._1
      .select("doc_id", "text").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rem == Seq(
      (0L, Some("M N O P")),
      (1L, Some("")),
      (2L, Some("p q r s t u")),
      (3L, Some("xx yy")),
      (4L, None)))
  }

  test("spans gram table: fused GramHashes ≡ composed xxhash64 chain " +
      "(duplicated + contaminated spans, r17)") {
    // the library's gram table is the fused FNV-1a GramHashes kernel;
    // the mirror is the composed chain it replaced (token array →
    // window slices → one concat_ws string per window → xxhash64) fed
    // through the same hot-gram / broadcast-join and mergeIslands
    // steps. The two must produce IDENTICAL span tables absent 64-bit
    // collisions — random corpora with heavy repetition so hot grams,
    // gap splits and overlap merges all occur
    val rnd = new scala.util.Random(20260820L)
    val vocab = Array("u", "v", "w", "xx", "yy", "z0")
    def composedGrams(df: org.apache.spark.sql.DataFrame,
        ids: Seq[String], k: Int) = {
      val toks = col("__toks")
      df.withColumn("__toks", split(trim(col("text")), "\\s+"))
        .filter(toks.isNotNull && size(toks) >= k &&
          !(size(toks) === 1 && element_at(toks, 1) === ""))
        .select(ids.map(col) :+ posexplode(
          transform(sequence(lit(0), size(toks) - k),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k))))))
          .as(Seq("start", "__gh")): _*)
    }
    def rows(spans: org.apache.spark.sql.DataFrame) =
      spans.orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    (0 until 3).foreach { trial =>
      val corpus = (0 until 12).map { i =>
        val n = rnd.nextInt(26)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val bench = (0 until 4).map { i =>
        val n = rnd.nextInt(12)
        (100L + i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      Seq(1, 3, 8).foreach { k =>
        val (sp, rel) = Spans.duplicatedSpansReleasable(
          corpus, "text", "doc_id", k)
        val fused = rows(sp)
        rel()
        val grams = composedGrams(corpus, Seq("doc_id"), k)
        val hot = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1).select("__gh")
        val composed = rows(Spans.mergeIslands(
          grams.join(hot, Seq("__gh")), "doc_id", k))
        assert(fused == composed,
          s"trial $trial k=$k: fused != composed (duplicatedSpans)")
        val bset = composedGrams(bench, Seq.empty, k)
          .select("__gh").distinct()
        val contComposed = rows(Spans.mergeIslands(
          grams.join(broadcast(bset), Seq("__gh")), "doc_id", k))
        assert(rows(Spans.contaminatedSpans(
            corpus, bench, "text", "doc_id", k)) == contComposed,
          s"trial $trial k=$k: fused != composed (contaminatedSpans)")
      }
    }
  }

  test("cut_spans kernel ≡ composed filter/exists rewrite") {
    // synthetic spans — incl. shapes the producer never emits
    // (unsorted, overlapping) — against the composed HOF form
    val rows = Seq(
      (0L, "t0 t1 t2 t3 t4 t5 t6 t7", Seq((1L, 3L), (5L, 6L))),
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7", Seq((4L, 6L), (0L, 2L))), // unsorted
      (2L, "t0 t1 t2 t3 t4 t5", Seq((1L, 4L), (2L, 5L))), // overlapping
      (3L, "a  b\tc d", Seq((1L, 2L))), // multi/odd whitespace
      (4L, "solo", Seq((0L, 1L))), // fully cut → ""
      (5L, "keep all of these", Seq.empty[(Long, Long)]))
    val d = rows.toDF("doc_id", "text", "sp")
      .withColumn("__spans", transform(col("sp"), s =>
        struct(s.getField("_1").as("span_start"),
          s.getField("_2").as("span_end"))))
    val kernel = d.select(col("doc_id"),
      graft.functions.CutSpans(col("text"), col("__spans")).as("t"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val composed = d.select(col("doc_id"),
      concat_ws(" ",
        filter(split(trim(col("text")), "\\s+"), (t, i) =>
          !exists(col("__spans"), sp =>
            i >= sp.getField("span_start") &&
              i < sp.getField("span_end")))).as("t"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(kernel == composed)
    assert(kernel(0)._2 == "t0 t3 t4 t6 t7")
    assert(kernel(2)._2 == "t0 t5")
    assert(kernel(4)._2 == "")
    assert(kernel(5)._2 == "keep all of these")
  }

  test("jl projection: exact matmul against the plane matrix") {
    val v = Array(1.0f, -2.0f, 0.5f, 3.0f)
    val d = Seq((0L, v), (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.projectRandom(d, "embedding", 4)
      .select("vec_id", "proj").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq
    val pl = Similarity.planes(4, 4)
    val exp = (0 until 4).map { j =>
      // same fold order as the zip_with/aggregate kernel: sequential
      // over dimensions, then the exact 0.5 scale
      v.zip(pl(j)).foldLeft(0.0) { case (a, (x, p)) => a + x.toDouble * p } * 0.5
    }
    assert(got.head._2 == exp)
    // the zero vector projects to exactly zero in every dimension
    assert(got(1)._2.forall(_ == 0.0))
  }

  test("cross-source overlap: shared fingerprints, once per pair") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon", "A"),
      (1L, "alpha beta gamma delta epsilon", "B"), // full copy of doc 0
      (2L, "alpha beta gamma delta epsilon", "B"), // within-B duplicate:
      //   distinct (source, fp) must not double count the pair cell
      (3L, "zeta eta theta iota kappa", "C")
    ).toDF("doc_id", "text", "src")
    val m = Dedup.crossSourceOverlap(d, "text", "src")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val nfp = d.filter(col("doc_id") === 0L)
      .select(explode(TextAnalysis.winnowed(col("text"), 4)))
      .distinct().count()
    // A∩B = every fingerprint of the copied doc; C shares nothing →
    // absent cells mean zero (inner-join contract)
    assert(nfp > 0 && m == Seq(("A", "B", nfp)))
  }

  test("global order: percentile rank, ties, partition invariance") {
    import graft.stats.GlobalOrder
    val d = Seq((0L, 10.0), (1L, 5.0), (2L, 5.0), (3L, 20.0))
      .toDF("id", "s")
    val r = GlobalOrder.percentileRankReleasable(d, Seq(col("s"), col("id")),
        numParts = 3)._1
      .select("id", "rank", "percentile")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // order (s, id): 1(5), 2(5 — tie broken by id), 0(10), 3(20)
    assert(r == Seq((0L, 2L, 2.0 / 3), (1L, 0L, 0.0), (2L, 1L, 1.0 / 3),
      (3L, 3L, 1.0)))
    // the decomposition reproduces the single-partition global window
    val one = GlobalOrder.percentileRankReleasable(d, Seq(col("s"), col("id")),
        numParts = 1)._1
      .select("id", "rank", "percentile")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(one == r)
    // single-row corpus: percentile 0, no division by zero
    val s1 = GlobalOrder.percentileRankReleasable(
        Seq((9L, 1.0)).toDF("id", "s"), Seq(col("s"), col("id")))._1
      .select("percentile").as[Double].head()
    assert(s1 == 0.0)
  }

  test("temperature mixing: T=1 identity, flattening, token budget") {
    val df = ((0L until 8L).map(i => (i, "a")) ++ Seq((8L, "b"), (9L, "b")))
      .toDF("doc_id", "source")
    // T=1 is natural proportions: w_i = (n_i/N)·N/n_i = 1 exactly —
    // every doc kept exactly once
    val t1 = Mixing.mixByTemperature(df, "source", "doc_id", 1.0)
      .select("doc_id", "copy_idx").as[(Long, Long)].collect().sorted.toSeq
    assert(t1 == (0L until 10L).map(_ -> 0L))
    // T→∞ flattens to uniform: the machinery must agree with the
    // explicit weights fed through mixBySourcesWeighted (a≈5/8, b≈5/2)
    val z = math.pow(8.0, 1e-9) + math.pow(2.0, 1e-9)
    val wts = Map(
      "a" -> math.pow(8.0, 1e-9) / z * 10.0 / 8.0,
      "b" -> math.pow(2.0, 1e-9) / z * 10.0 / 2.0)
    val got = Mixing.mixByTemperature(df, "source", "doc_id", 1e9)
      .select("doc_id", "copy_idx").as[(Long, Long)].collect().sorted.toSeq
    val exp = Mixing.mixBySourcesWeighted(df, "source", "doc_id", wts, 0.0)
      .select("doc_id", "copy_idx").as[(Long, Long)].collect().sorted.toSeq
    assert(got == exp)
    // b is up-weighted: both b docs emit at least 2 copies
    assert(got.count(_._1 >= 8L) >= 4)
    // a row budget at T=1 is a uniform rate: identical doc set to
    // mixBySources at rate target/N
    val bud = Mixing.mixByTemperature(df, "source", "doc_id", 1.0, 5L)
      .select("doc_id").as[Long].collect().toSet
    val rate = Mixing.mixBySources(df, "source", "doc_id",
        Map("a" -> 0.5, "b" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(bud == rate)
  }

  test("bm25: corpus stats, term contributions, degenerate docs") {
    val d = Seq(
      (0L, "a b a"), // tf_a=2, dl=3
      (1L, "b c"), // tf_c=1, dl=2
      (2L, "a"), // tf_a=1, dl=1
      (3L, null.asInstanceOf[String]) // scores 0 for every term
    ).toDF("doc_id", "text")
    val got = Rank.bm25(d, "text", "doc_id", Seq("a", "c"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    // N=4, sumtok=6 (null doc counts 0 tokens), avgdl=1.5,
    // df_a=2 (docs 0,2), df_c=1 (doc 1)
    val avgdl = 6.0 / 4
    val idfA = math.log((4.0 - 2 + 0.5) / (2 + 0.5) + 1.0) // = ln 2
    val idfC = math.log((4.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
    def c(idf: Double, tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(math.abs(got(0)._2 - c(idfA, 2, 3)) < 1e-12)
    assert(math.abs(got(1)._2 - c(idfC, 1, 2)) < 1e-12)
    assert(math.abs(got(2)._2 - c(idfA, 1, 1)) < 1e-12)
    assert(got(3)._2 == 0.0)
    // rare term outranks common at equal tf/dl: idf_c > idf_a
    assert(idfC > idfA)
  }

  test("term_counts kernel ≡ composed per-term filter (incl. edge cases)") {
    val docs = Seq(
      (0L, "alpha beta alpha  gamma\talpha"),
      (1L, ""), // one empty token, matches no real term
      (2L, "  beta  "), // leading/trailing whitespace trims
      (3L, null.asInstanceOf[String]), // null → null counts
      (4L, "betamax alphabet beta"), // prefixes must NOT match
      (5L, "δ unicode δ tokens")
    ).toDF("doc_id", "text")
    val terms = Seq("alpha", "beta", "δ", "missing", "beta") // dup term
    val kernel = docs.select(col("doc_id"),
      graft.functions.TermCounts(col("text"), terms).as("tc"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq)).toMap
    // composed form yields an array of per-term NULLs for null text
    // where the kernel (nullIntolerant) yields a null array — same
    // downstream semantics (every tf coalesces to 0); normalize here
    val composed = docs.select(col("doc_id"),
      array(terms.map(t =>
        size(filter(split(trim(col("text")), "\\s+"), x => x === t))
          .cast("long")): _*).as("tc"))
      .collect().map { r =>
        val v = if (r.isNullAt(1)) null else {
          val xs = r.getSeq[Any](1)
          if (xs.forall(_ == null)) null else xs.map(_.asInstanceOf[Long])
        }
        r.getLong(0) -> v
      }.toMap
    assert(kernel == composed)
    assert(kernel(0L) == Seq(3L, 1L, 0L, 0L, 1L))
    assert(kernel(5L) == Seq(0L, 0L, 2L, 0L, 0L))
    assert(kernel(3L) == null)
    // a 100-term probe agrees with the composed form on real-ish text
    val big = (1 to 100).map(i => s"t$i")
    val doc = Seq((0L, (1 to 200).map(i => s"t${i % 37}").mkString(" ")))
      .toDF("doc_id", "text")
    val kb = doc.select(graft.functions.TermCounts(col("text"), big))
      .head().getSeq[Long](0).toSeq
    val cb = doc.select(array(big.map(t =>
      size(filter(split(trim(col("text")), "\\s+"), x => x === t))
        .cast("long")): _*)).head().getSeq[Long](0).toSeq
    assert(kb == cb)
  }

  test("semantic dedup: cluster-local drops, cross-cluster blindness") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), // cluster 0
      (1L, Array(0.95f, 0.05f)), // cluster 0, cos(0,1)=.9986 → dropped
      (2L, Array(0.0f, 1.0f)), // cluster 1
      (3L, Array(0.05f, 0.95f)), // cluster 1, cos(2,3)=.9986 → dropped
      (4L, Array(0.6f, 0.55f)), // cluster 0, all cos vs 0/1 < .78
      (5L, Array(0.95f, 0.05f)), // = vec 1 → dropped (via 0 AND 1)
      (6L, Array(0.72f, 0.69f)), // cluster 0, cos(4,6)=.998 → dropped
      (7L, Array(0.69f, 0.72f)) // cluster 1: cos(6,7)=.999 but DIFFERENT
      //   cluster → never compared → survives (the SemDeDup
      //   approximation: cluster-boundary near-dups are invisible)
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val pairs = Dedup.semanticNearDups(emb, "embedding", "vec_id",
        cents, 0.95)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 5L), (1L, 5L), (2L, 3L), (4L, 6L)))
    val surv = Dedup.dedupSemantic(emb, "embedding", "vec_id", cents, 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // 6 is dropped via 4 even though 4 itself survives — the rule is
    // "has a smaller-id similar neighbor", not transitive components
    assert(surv == Seq(0L, 2L, 4L, 7L))
  }

  test("chunking: stride windows, short tail, degenerate docs") {
    val d = Seq(
      (0L, "t1 t2  t3 t4 t5 t6 t7"), // 7 tokens, inner double space
      (1L, "solo"),
      (2L, null.asInstanceOf[String]),
      (3L, ""),
      (4L, "   ") // whitespace-only → zero tokens
    ).toDF("doc_id", "text")
    val c = Chunk.chunkTokens(d, "text", "doc_id", size = 3, overlap = 1)
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    // stride 2: starts 0,2,4,6 — last chunk is the single tail token;
    // the double space is normalized by the rejoin
    assert(c == Seq(
      (0L, 0L, 0L, 3L, "t1 t2 t3"),
      (0L, 1L, 2L, 3L, "t3 t4 t5"),
      (0L, 2L, 4L, 3L, "t5 t6 t7"),
      (0L, 3L, 6L, 1L, "t7"),
      (1L, 0L, 0L, 1L, "solo")))
    // overlap tokens really repeat: chunk k ends with the tokens chunk
    // k+1 starts with
    assert(c(1)._5.startsWith("t3") && c(0)._5.endsWith("t3"))
    // no overlap → chunks partition the tokens exactly
    val flat = Chunk.chunkTokens(d, "text", "doc_id", size = 3)
      .filter(col("doc_id") === 0L).orderBy("chunk_idx")
      .select("chunk_text").as[String].collect()
    assert(flat.mkString(" ") == "t1 t2 t3 t4 t5 t6 t7")
  }

  test("token budget: minimal covering prefix, ties, straddler, pruning") {
    val d = Seq(
      (0L, "a b c", 3.0), // 3 tokens
      (1L, "d e", 2.0), // 2 — prio tie with doc 2, doc_id breaks it
      (2L, "f g h i", 2.0), // 4
      (3L, null.asInstanceOf[String], 9.0), // null text → 0 tokens
      (4L, "j", 1.0) // 1
    ).toDF("doc_id", "text", "prio")
    // priority order: 3(0 tok), 0(3), 1(2), 2(4), 4(1);
    // tokens_before:  0,        0,    3,    5,    9
    val sel = Select.takeTokenBudgetReleasable(d, "text", "doc_id", col("prio"),
        budget = 6L, numParts = 3)._1
      .select("doc_id", "n_tokens", "tokens_before")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 2 straddles (5 < 6 but 5+4 > 6) → INCLUDED; doc 4 (9 ≥ 6) out
    assert(sel == Seq((0L, 3L, 0L), (1L, 2L, 3L), (2L, 4L, 5L),
      (3L, 0L, 0L)))
    // budget beyond the corpus: everything selected
    val all = Select.takeTokenBudgetReleasable(d, "text", "doc_id", col("prio"),
      budget = 100L, numParts = 2)._1
    assert(all.count() == 5)
    // partition-count invariance (the pruning + offsets decomposition
    // reproduces the single-partition global window exactly)
    val one = Select.takeTokenBudgetReleasable(d, "text", "doc_id", col("prio"),
        budget = 6L, numParts = 1)._1
      .select("doc_id", "n_tokens", "tokens_before")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(one == sel)
  }

  test("line dedup ≡ naive string-count mirror on adversarial inputs") {
    // trailing newlines, whitespace-only lines, padded duplicates,
    // single-char lines, empty docs — the mirror counts line STRINGS
    // (trimmed) where the operator counts xxhash64 keys
    val d = Seq(
      (0L, "dup line one\ndup line one\nunique a\n"),
      (1L, "dup line one\n   dup line one   \nunique b"),
      (2L, "\n\n  \nx\nunique c"),
      (3L, ""),
      (4L, "x\nx\nx\nx\nx"), // short line repeats → still kept
      (5L, "unique d\ndup line one")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "text", "doc_id", 3, 5)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_lines_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect()
    // mirror computed by hand: "dup line one" (trimmed) occurs 5× ≥ 3 →
    // removed wherever it appears; everything else survives
    val mirror = Seq(
      (0L, 4L, 2L, "unique a\n"),
      (1L, 3L, 1L, "unique b"),
      (2L, 5L, 5L, "\n\n  \nx\nunique c"),
      (3L, 1L, 1L, ""),
      (4L, 5L, 5L, "x\nx\nx\nx\nx"),
      (5L, 2L, 1L, "unique d"))
    assert(out.toSeq == mirror)
  }

  test("classifier ≡ explode-plus-join mirror across a random model") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "one"),
      (3L, ""),
      (4L, "the the the the")
    ).toDF("doc_id", "text")
    val b = 32 // tiny bucket space → guaranteed collisions exercised
    val w = spark.range(0, b).select(col("id").as("bucket"),
      (col("id") * 2654435761L % 2001L - 1000L).as("weight_milli"))
    val fast = Classify.scoreHashedLinear(d, "text", "doc_id", w, b, 77L)
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "wsum_milli", "logit", "pass")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    // mirror: explode features, shuffle-join the weights table, agg —
    // the shape the map-only form must reproduce exactly
    val mirror = d
      .select(col("doc_id"), explode(concat(
        graft.functions.NgramHashes(coalesce(col("text"), lit("")), 1),
        graft.functions.NgramHashes(coalesce(col("text"), lit("")), 2)))
        .as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(b.toLong)).as("bucket"))
      .join(w, Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("weight_milli"), lit(0L))).as("wsum_milli"))
      .select(col("doc_id"), col("n_feats"), col("wsum_milli"),
        ((lit(77L) * col("n_feats") + col("wsum_milli")).cast("double") /
          (col("n_feats") * 1000L).cast("double")).as("logit"),
        (lit(77L) * col("n_feats") + col("wsum_milli") > 0L).as("pass"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(fast.toSeq == mirror.toSeq)
  }

  test("image aHash: exposure shift is near, different gradient is far") {
    val mk = udf { (seed: Long, jit: Long, cx: Long, cy: Long) =>
      Multimodal.syntheticPng(seed, 16, 16, jit, cx, cy)
    }
    val d = Seq(
      (0L, 5L, 0L, 3L, 9L),   // base image
      (1L, 5L, 2L, 3L, 9L),   // +2 exposure of the same gradient
      (2L, 5L, 0L, 15L, 1L),  // different gradient entirely
      (3L, 5L, 0L, 3L, 9L)    // exact copy of 0
    ).toDF("doc_id", "seed", "jit", "cx", "cy")
      .withColumn("png", mk(col("seed"), col("jit"), col("cx"), col("cy")))
    val hashed = Multimodal.extractFeatures(d, "png", "doc_id",
        new Multimodal.AHashDecoder, batchSize = 4)
      .filter(element_at(col("features"), 1) > 0)
      .select(col("doc_id"), Multimodal.ahash64(col("features")).as("simhash"))
    val h = hashed.orderBy("doc_id").as[(Long, Long)].collect().toMap
    assert(h(0) == h(3)) // exact copy → identical hash
    assert(java.lang.Long.bitCount(h(0) ^ h(1)) <= 6) // exposure → near
    assert(java.lang.Long.bitCount(h(0) ^ h(2)) > 10) // new gradient → far
    // poison pill: undecodable bytes → w = 0 features, filtered out
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "png")
    val badOut = Multimodal.extractFeatures(bad, "png", "doc_id",
        new Multimodal.AHashDecoder, batchSize = 4)
      .filter(element_at(col("features"), 1) > 0)
    assert(badOut.count() == 0)
  }

  test("hashed linear classifier: scoring matches hand arithmetic") {
    val d = Seq((0L, "alpha beta"), (1L, "gamma")).toDF("doc_id", "text")
    // doc 0 features: unigrams [alpha, beta] + bigram [alpha beta] = 3;
    // doc 1 (< 2 tokens): unigram [gamma] + fallback bigram [gamma] = 2,
    // both the SAME gram → the same bucket twice
    val b0 = d.filter(col("doc_id") === 0)
      .select(explode(concat(
        graft.functions.NgramHashes(col("text"), 1),
        graft.functions.NgramHashes(col("text"), 2))).as("h"))
      .select(pmod(col("h"), lit(64L)).as("b")).as[Long].collect()
    assert(b0.length == 3)
    val bGamma = d.filter(col("doc_id") === 1)
      .select(pmod(element_at(
        graft.functions.NgramHashes(col("text"), 1), 1), lit(64L)).as("b"))
      .as[Long].head()
    val w = (b0.distinct.map(b => (b, 100L)).toSeq :+ (bGamma -> 3000L))
      .toDF("bucket", "weight_milli")
    val out = Classify.scoreHashedLinear(d, "text", "doc_id", w, 64,
        biasMilli = -1000L).orderBy("doc_id").collect()
    // doc 0: every occurrence looks up a 100-milli bucket → wsum 300;
    // logit = (−1000·3 + 300)/3000 = −0.9 → fail
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 300L)
    assert(out(0).getDouble(3) == -0.9 && !out(0).getBoolean(4))
    // doc 1: two occurrences of the 3000-milli bucket → wsum 6000;
    // logit = (−1000·2 + 6000)/2000 = 2.0 → pass
    assert(out(1).getLong(1) == 2L && out(1).getLong(2) == 6000L)
    assert(out(1).getDouble(3) == 2.0 && out(1).getBoolean(4))
    // unknown buckets weigh 0: with an empty model only bias remains
    val empty = Seq.empty[(Long, Long)].toDF("bucket", "weight_milli")
    val z = Classify.scoreHashedLinear(d, "text", "doc_id", empty, 64,
        biasMilli = 250L).orderBy("doc_id").collect()
    assert(z.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.25
      && r.getBoolean(4)))
  }

  test("line dedup: boilerplate removed, short/rare lines kept, order held") {
    val d = Seq(
      (0L, "unique opening prose\nSHARED FOOTER LINE\n-\nmiddle thought"),
      (1L, "another document\n  SHARED FOOTER LINE \n-\nclosing words"),
      (2L, "SHARED FOOTER LINE\npair line content\nthird doc body"),
      (3L, "pair line content\n-"), // pair line: only 2 occurrences → kept
      (4L, "SHARED FOOTER LINE"),   // all-boilerplate doc → empty survivor
      (5L, null.asInstanceOf[String]) // null text → 1 empty line, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "text", "doc_id",
        minOccurrences = 3, minLineChars = 5)
      .orderBy("doc_id").collect()
    // footer occurs 4× (whitespace-trimmed key unifies doc 1's padded
    // copy) → removed everywhere, including doc 1's padded ORIGINAL
    assert(out(0).getString(3) == "unique opening prose\n-\nmiddle thought")
    assert(out(1).getString(3) == "another document\n-\nclosing words")
    // pair line: 2 < minOccurrences → kept; "-" is under minLineChars →
    // kept no matter how often it repeats
    assert(out(2).getString(3) == "pair line content\nthird doc body")
    assert(out(3).getString(3) == "pair line content\n-")
    // all-boilerplate doc survives as a row with empty text
    assert(out(4).getString(3) == "" && out(4).getLong(2) == 0L
      && out(4).getLong(1) == 1L)
    // null text = one empty (ineligible) line, kept verbatim
    assert(out(5).getString(3) == "" && out(5).getLong(2) == 1L)
    // counts are (n_lines, n_lines_kept) per doc
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((4L, 3L), (4L, 3L), (3L, 2L), (2L, 2L), (1L, 0L), (1L, 1L)))
  }

  test("heavy hitters: sketch+recount equals exact top-k, tight capacity") {
    import graft.functions.MgSummary
    // Zipf-ish corpus: vocab (26 terms) far exceeds capacity (8), but
    // the top terms clear the N/(capacity+1) bound comfortably
    val corpus = (0 until 200).map { i =>
      val hot = Seq.fill(6)("alpha") ++ Seq.fill(4)("beta") ++
        Seq.fill(3)("gamma") ++ Seq.fill(2)("delta")
      val cold = Seq(('a' + i % 26).toChar.toString,
        ('a' + (i * 7) % 26).toChar.toString)
      (i.toLong, (hot ++ cold).mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextAnalysis
      .heavyHitterTerms(corpus, col("text"), k = 4, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = corpus
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count()
      .orderBy(desc("count"), asc("t")).limit(4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact)
    assert(got.take(4).map(_._1) == Seq("alpha", "beta", "gamma", "delta"))
    assert(got.head._2 == 1200L) // counts are the exact recount

    // null text contributes nothing; empty corpus returns empty frame
    val withNull = corpus.union(
      Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val got2 = TextAnalysis
      .heavyHitterTerms(withNull, col("text"), k = 1, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 == Seq(("alpha", 1200L)))

    // MgSummary merge keeps the undercount bound: absorbing two
    // summaries never invents counts and never loses a true heavy term
    val a = new MgSummary(4); val b = new MgSummary(4)
    (1 to 50).foreach(_ => a.offer("x")); (1 to 3).foreach(_ => a.offer("y"))
    (1 to 40).foreach(_ => b.offer("x")); (1 to 5).foreach(_ => b.offer("z"))
    a.absorb(b)
    val m = a.sortedEntries.toMap
    assert(m("x") <= 90L && m("x") >= 90L - (98L / 5L)) // N=98, cap+1=5
    assert(a.size <= 4)
  }

  test("normalize_text: unicode forms, case fold, whitespace contract") {
    import graft.functions.NormalizeText
    def norm(s: String, form: String = "NFC", lower: Boolean = true,
        ws: Boolean = true): String =
      Seq(Tuple1(s)).toDF("t")
        .select(NormalizeText(col("t"), form, lower, ws).as("n"))
        .head.getString(0)
    // whitespace: ASCII runs collapse (incl. \t \n ), unicode
    // spaces (U+00A0) are content and survive
    assert(norm("  a\t\nb  c  ") == "a b c")
    assert(norm("a b") == "a b")
    // case fold via Locale.ROOT
    assert(norm("HeLLo WoRLD") == "hello world")
    // NFC composes e + combining acute into é; NFKC additionally folds
    // the fi ligature and fullwidth forms — NFC leaves those alone
    assert(norm("é") == "é")
    assert(norm("ﬁle Ａ", "NFC") == "ﬁle ａ")
    assert(norm("ﬁle Ａ", "NFKC") == "file a")
    // flags off = identity on those dimensions
    assert(norm("A  B", lower = false, ws = false) == "A  B")
    // null in → null out
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(NormalizeText(col("t")).as("n")).head
    assert(n.isNullAt(0))
    // interpreted (non-codegen) path agrees with the codegen path
    assert(graft.functions.NormalizeText.normalize(
      org.apache.spark.unsafe.types.UTF8String.fromString(" X\tY "),
      "NFC", caseFold = true, collapseWs = true).toString == "x y")
  }

  test("pca: recovers planted axes, projection matches, deterministic") {
    import graft.llm.Similarity
    // planted 2-factor data in d=4: x = a*v1 + b*v2, var(a) >> var(b),
    // v1 = e0, v2 = (e1+e2)/sqrt2 — top-2 components must recover them
    val rnd = new scala.util.Random(7)
    val s2 = math.sqrt(2.0)
    val rows = (0 until 800).map { i =>
      val aa = rnd.nextGaussian() * 0.3  // sd 0.3 along v1
      val bb = rnd.nextGaussian() * 0.1  // sd 0.1 along v2
      (i.toLong, Seq(aa.toFloat, (bb / s2).toFloat, (bb / s2).toFloat,
        (rnd.nextGaussian() * 0.005).toFloat))
    }.toDF("vec_id", "embedding")
    val model = Similarity.pcaFit(rows, "embedding", dim = 4, k = 2)
    assert(model.eigenvalues(0) > model.eigenvalues(1))
    assert(math.abs(math.sqrt(model.eigenvalues(0)) - 0.3) < 0.05)
    assert(math.abs(math.sqrt(model.eigenvalues(1)) - 0.1) < 0.02)
    // component 0 ≈ e0; component 1 ≈ (e1+e2)/sqrt2 (signs fixed by the
    // largest-entry-positive convention)
    assert(math.abs(model.components(0)(0)) > 0.99)
    assert(model.components(0)(0) > 0) // sign convention
    assert(math.abs(model.components(1)(1) - 1 / s2) < 0.05)
    assert(math.abs(model.components(1)(2) - 1 / s2) < 0.05)
    // distributed projection == driver-side dot products
    val proj = Similarity.pcaProject(rows, "embedding", model)
      .select(col("vec_id"), col("proj")).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val raw = rows.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    proj.zip(raw).foreach { case ((id1, p), (id2, x)) =>
      assert(id1 == id2)
      model.components.indices.foreach { c =>
        val expect = x.indices.map(j =>
          (x(j).toDouble - model.mean(j)) * model.components(c)(j)).sum
        assert(math.abs(p(c) - expect) < 1e-9)
      }
    }
    // determinism: refit under a different partitioning → identical model
    val model2 = Similarity.pcaFit(
      rows.repartition(7), "embedding", dim = 4, k = 2)
    assert(model.components.flatten.toSeq == model2.components.flatten.toSeq)
    assert(model.eigenvalues.toSeq == model2.eigenvalues.toSeq)
  }

  test("merge_term_summaries: lossy capacity keeps heavy terms, null rows skip") {
    import graft.functions.{MergeTermSummaries, MisraGriesTerms}
    // 10 distinct terms but merge capacity 4: the dominant term must
    // survive the truncating merge with its count within the MG bound
    val docs = (0 until 60).map { i =>
      val hot = Seq.fill(5)("major")
      val cold = Seq(s"rare${i % 10}")
      (i.toLong, (hot ++ cold).mkString(" "))
    }.toDF("doc_id", "text")
    val halves = docs.withColumn("half", pmod(col("doc_id"), lit(3)))
      .groupBy("half").agg(MisraGriesTerms(col("text"), 64).as("sk"))
    val merged = halves
      .agg(MergeTermSummaries(col("sk"), 4).as("m"))
      .select(explode(col("m")).as("e"))
      .select(col("e.term"), col("e.count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged.size <= 4)
    val n = 60L * 6L
    assert(merged.contains("major"))
    assert(merged("major") <= 300L && merged("major") >= 300L - n / 5)
    // null summary rows contribute nothing
    val withNull = halves.select(
      when(col("half") === 0, col("sk")).as("sk"))
    val m2 = withNull.agg(MergeTermSummaries(col("sk"), 64).as("m"))
      .select(explode(col("m")).as("e"))
      .select(col("e.term"), col("e.count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m2("major") == 100L) // exactly the half-0 share (20 docs × 5)
  }

  test("long_vector_sum: elementwise exact, null rows skipped") {
    val rows = Seq(
      (Seq(1L, 2L, 3L), 1), (Seq(10L, 20L, 30L), 2),
      (null.asInstanceOf[Seq[Long]], 3)).toDF("v", "id")
    val out = rows.agg(
      graft.functions.LongVectorSum(col("v").cast("array<long>"), 3)
        .as("s")).head().getSeq[Long](0)
    assert(out == Seq(11L, 22L, 33L))
  }

  test("bruteForceJoinTopK: per-query parity with point brute force; " +
      "full-probe IVF is exact") {
    import graft.llm.Similarity
    val rnd = new scala.util.Random(31)
    val emb = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 11 === 0)
    val batch = Similarity.bruteForceJoinTopK(
        emb, queries, "embedding", "vec_id", k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq)
      .toMap
    // parity with the point-probe tool, query by query
    queries.collect().foreach { r =>
      val q = r.getSeq[Float](1).toArray
      val point = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
        q, 5).collect().map(_.getLong(0)).toSeq
      assert(batch(r.getLong(0)) == point,
        s"query ${r.getLong(0)}: ${batch(r.getLong(0))} vs $point")
    }
    // probing EVERY list is a full scan — IVF must equal brute force
    val cents = Similarity.ivfCentroidsLloyd(emb, "embedding", "vec_id",
      k = 4, iters = 2)
    val assigned = Similarity.ivfAssign(emb, "embedding", cents)
    val full = Similarity.ivfJoinTopK(assigned, queries, "embedding",
        "vec_id", k = 5, cents, nprobe = 4)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq)
      .toMap
    assert(full == batch)
  }

  test("g711 decoder: known code points, synthetic wav, poison pill") {
    import graft.llm.Multimodal
    // canonical g711.c values: both laws' zero/near-zero codes
    assert(Multimodal.ulawToLinear(0xFF) == 0)
    assert(Multimodal.ulawToLinear(0x7F) == 0)
    assert(Multimodal.ulawToLinear(0x80) == 32124) // max magnitude
    assert(Multimodal.ulawToLinear(0x00) == -32124)
    assert(Multimodal.alawToLinear(0x55) == -8)
    assert(Multimodal.alawToLinear(0xD5) == 8)
    assert(Multimodal.alawToLinear(0xAA) == 32256) // max magnitude
    assert(Multimodal.alawToLinear(0x2A) == -32256)
    // µ-law decode is odd-symmetric: code and code^0x80 negate
    for (b <- 0 until 256)
      assert(Multimodal.ulawToLinear(b) == -Multimodal.ulawToLinear(b ^ 0x80))
    for (b <- 0 until 256)
      assert(Multimodal.alawToLinear(b) == -Multimodal.alawToLinear(b ^ 0x80))
    // synthetic wav decodes to the brute per-byte replay
    val dec = new Multimodal.G711WavDecoder(8)
    for (aLaw <- Seq(false, true)) {
      val wav = Multimodal.syntheticG711Wav(42L, 57, aLaw)
      val f = dec.decodeBatch(Seq(wav)).head
      assert(f(0) == 8000f && f(1) == 57f)
      val expect = Array.ofDim[Float](8)
      for (i <- 0 until 57) {
        val b = ((42L * 11 + i * 3) % 256).toInt
        val v = if (aLaw) Multimodal.alawToLinear(b)
          else Multimodal.ulawToLinear(b)
        expect((v + 32768) / 8192) += 1.0f
      }
      assert(f.drop(2).toSeq == expect.toSeq)
    }
    // poison pill: PCM16 tag (not G.711) and garbage both zero out
    val pcm = Multimodal.syntheticWav(7L, 16)
    assert(dec.decodeBatch(Seq(pcm, Array[Byte](1, 2, 3), null))
      .forall(_.forall(_ == 0f)))
  }

  // brute-force normal-equation solve in doubles (Gaussian elimination
  // with partial pivoting) — the ground-truth cross-check the engine's
  // exact BigInt Cramer weights must reproduce to float precision
  private def bruteRidge(
      rows: Seq[(Array[Long], Long)], lambda: Long): Array[Double] = {
    val d = rows.head._1.length + 1
    val a = Array.ofDim[Double](d, d + 1)
    for ((fs, y) <- rows) {
      val x = 1.0 +: fs.map(_.toDouble)
      for (i <- 0 until d; j <- 0 until d) a(i)(j) += x(i) * x(j)
      for (i <- 0 until d) a(i)(d) += x(i) * y.toDouble
    }
    for (i <- 1 until d) a(i)(i) += lambda.toDouble
    for (p <- 0 until d) {
      val piv = (p until d).maxBy(r => math.abs(a(r)(p)))
      val tmp = a(p); a(p) = a(piv); a(piv) = tmp
      for (r <- 0 until d if r != p) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p to d) a(r)(c) -= f * a(p)(c)
      }
    }
    Array.tabulate(d)(i => a(i)(d) / a(i)(i))
  }

  test("ridgeFitExact: d=3 weights match brute least squares to 1e-9") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(60) { i =>
      val x1 = (rnd.nextInt(40) + 1).toLong
      val x2 = rnd.nextInt(15).toLong
      // noisy planted relation keeps the system well-conditioned
      val y = 3L + x1 / 2 - x2 + rnd.nextInt(5).toLong
      (Array(x1, x2), y)
    }
    val df = rows.map { case (fs, y) => (fs(0), fs(1), y) }
      .toDF("x1", "x2", "y")
    for (lambda <- Seq(0L, 1000L)) {
      val fit = Train.ridgeFitExact(df,
        Seq("x1" -> col("x1"), "x2" -> col("x2")), col("y"), lambda)
      val brute = bruteRidge(rows, lambda)
      assert(fit.features == Seq("intercept", "x1", "x2"))
      fit.weights.zip(brute).foreach { case (w, b) =>
        assert(math.abs(w - b) < 1e-9, s"lambda=$lambda: $w vs $b")
      }
    }
  }

  test("ridgeFitExact: d=4 exercises the generic determinant path") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(80) { _ =>
      val fs = Array(
        (rnd.nextInt(30) + 1).toLong, rnd.nextInt(9).toLong,
        rnd.nextInt(50).toLong)
      (fs, fs(0) - 2 * fs(1) + rnd.nextInt(3).toLong)
    }
    val df = rows.map { case (fs, y) => (fs(0), fs(1), fs(2), y) }
      .toDF("x1", "x2", "x3", "y")
    val fit = Train.ridgeFitExact(df,
      Seq("x1" -> col("x1"), "x2" -> col("x2"), "x3" -> col("x3")),
      col("y"), lambda = 7L)
    val brute = bruteRidge(rows, 7L)
    fit.weights.zip(brute).foreach { case (w, b) =>
      assert(math.abs(w - b) < 1e-9, s"$w vs $b")
    }
    // the DataFrame form carries the identical unreduced rationals
    val asDf = Train.ridgeFitDf(df,
      Seq("x1" -> col("x1"), "x2" -> col("x2"), "x3" -> col("x3")),
      col("y"), lambda = 7L)
      .collect().map(r => (r.getString(0),
        BigInt(r.getString(1)),
        BigInt(r.getString(2)))).toSeq
    assert(asDf.map(_._1).sorted ==
      Seq("intercept", "x1", "x2", "x3").sorted)
    asDf.foreach { case (name, num, den) =>
      val i = fit.features.indexOf(name)
      assert(num == fit.num(i) && den == fit.den)
    }
  }

  test("ridgeFitExact: empty corpus fails with a clear message") {
    val empty = Seq.empty[(Long, Long)].toDF("x1", "y")
    val e = intercept[IllegalArgumentException] {
      Train.ridgeFitExact(empty, Seq("x1" -> col("x1")), col("y"))
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("ridge pipeline: train on sample, exact score + threshold select") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.tabulate(100) { i =>
      val x1 = (rnd.nextInt(25) + 1).toLong
      val x2 = rnd.nextInt(8).toLong
      val y = if (x1 > 12) 1L else 0L // separable-ish quality label
      (i.toLong, x1, x2, y)
    }
    val df = rows.toDF("doc_id", "x1", "x2", "y")
    val sample = df.filter(pmod(col("doc_id"), lit(5)) === 0)
    val fit = Train.ridgeFitExact(sample,
      Seq("x1" -> col("x1"), "x2" -> col("x2")), col("y"), 100L)
    val out = df.select(col("doc_id"), col("x1"), col("x2"),
        Train.scoreRidgeExactNum(fit, Seq(col("x1"), col("x2")))
          .as("score_num"),
        Train.ridgeKeep(fit, Seq(col("x1"), col("x2")), 1L, 2L)
          .as("kept"))
      .collect()
    // cross-check against the brute float fit on the same sample
    val brute = bruteRidge(
      rows.filter(_._1 % 5 == 0).map(r => (Array(r._2, r._3), r._4)),
      100L)
    val den = BigDecimal(fit.den)
    out.foreach { r =>
      val (x1, x2) = (r.getLong(1), r.getLong(2))
      val exact = BigDecimal(BigInt(r.getDecimal(3).toBigInteger)) / den
      val float = brute(0) + brute(1) * x1 + brute(2) * x2
      assert(math.abs(exact.toDouble - float) < 1e-9)
      assert(r.getBoolean(4) == (exact >= BigDecimal(1) / 2),
        s"kept mismatch at doc ${r.getLong(0)}: score=$exact")
    }
    // the threshold genuinely splits the corpus both ways
    assert(out.exists(_.getBoolean(4)) && out.exists(!_.getBoolean(4)))
  }

  test("aucExact: hand-computed values incl. tie averaging, " +
      "partition invariance, degenerate extremes") {
    // scores: pos {3, 2, 2}, neg {2, 1, 0} — ties at 2 across classes.
    // Pair count 3·3 = 9; concordant pairs: 3>{2,1,0}=3, each 2>{1,0}=2
    // → 7; tied pairs: each 2 vs neg-2 → 2 halves = 1. AUC = 8/9.
    val rows = Seq((1L, 3L, 1L), (2L, 2L, 1L), (3L, 2L, 1L),
      (4L, 2L, 0L), (5L, 1L, 0L), (6L, 0L, 0L))
    val df = rows.toDF("id", "s", "y")
    def auc(d: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val r = Train.aucExact(d, col("s"), col("y")).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    assert(auc(df) == ((3L, 3L, math.rint(8.0 / 9.0 * 1e6) / 1e6)))
    assert(auc(df.repartition(5)) == auc(df)) // partition-invariant
    // perfect separation and perfect inversion
    val perfect = Seq((1L, 9L, 1L), (2L, 8L, 1L), (3L, 1L, 0L))
      .toDF("id", "s", "y")
    assert(auc(perfect)._3 == 1.0)
    val inverted = Seq((1L, 1L, 1L), (2L, 9L, 0L)).toDF("id", "s", "y")
    assert(auc(inverted)._3 == 0.0)
    // all-tied scores = chance
    val flat = Seq((1L, 5L, 1L), (2L, 5L, 0L), (3L, 5L, 1L), (4L, 5L, 0L))
      .toDF("id", "s", "y")
    assert(auc(flat)._3 == 0.5)
  }

  test("scoreRidge: map-only inference reproduces w·x") {
    val df = Seq((2L, 3L, 10L), (5L, 1L, 14L), (8L, 0L, 19L),
      (1L, 7L, 4L)).toDF("x1", "x2", "y")
    val fit = Train.ridgeFitExact(df,
      Seq("x1" -> col("x1"), "x2" -> col("x2")), col("y"), 0L)
    val w = fit.weights
    val scored = df.select(col("x1"), col("x2"),
      Train.scoreRidge(fit, Seq(col("x1"), col("x2"))).as("s"))
      .collect()
    scored.foreach { r =>
      val expect = w(0) + w(1) * r.getLong(0) + w(2) * r.getLong(1)
      assert(math.abs(r.getDouble(2) - expect) < 1e-12)
    }
  }
}
