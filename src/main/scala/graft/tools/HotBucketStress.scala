package graft.tools

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, PairExpansion, Similarity}
import ScaleStress.time

/** Hot-bucket stress for the EMBEDDING-space pair generators (dev
  * tool, r09 — VERDICT r08 next-round 1): every vector is forced onto
  * ONE direction (identical hyperplane signature, identical IVF
  * assignment), so the whole corpus lands in a single bucket/cluster —
  * the worst case the capped grouped expansion exists for. The decade
  * replicates sf0.1 embeddings ×1/4/16/64 (2k → 128k vectors; the
  * one-bucket pair space grows 2M → 8.2G pairs). The uncapped
  * self-joins these paths used before r09 materialize that quadratic
  * inside one shuffle partition — ×64 would not finish. With drop-whole
  * caps the curve must be FLAT once the bucket exceeds the cap, and the
  * at-cap row (cap == bucket size) measures real slice-block expansion
  * throughput on a mega bucket. Results → SCALE.md.
  */
object HotBucketStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.create()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nEmb = emb.count()
    val cap = 4000 // 1× (2k) fits under it; ≥4× trips drop-whole

    Seq(1, 4, 16, 64).foreach { mult =>
      val path = s"target/hot_bucket/emb_x$mult"
      // one shared direction, magnitudes distinct per row: identical
      // signs on every hyperplane AND one IVF list, cosine 1.0 between
      // all pairs — the maximal hot bucket
      (0 until mult).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
        .withColumn("embedding",
          transform(sequence(lit(1), lit(64)), j =>
            (j.cast("float") * (lit(1.0f) +
              col("vec_id").cast("float") / lit(1e12f)))))
        .write.mode("overwrite").parquet(path)
      val e = spark.read.parquet(path)
      println(s"\n--- hot x$mult (${nEmb * mult} vectors, one bucket) ---")
      time(s"emb near-dup hot x$mult")(
        Dedup.embeddingNearDups(e, "embedding", "vec_id",
          planes = 8, minCosine = 0.99, maxBucket = cap).count())
      time(s"ann join hot x$mult") {
        val q = e.limit(64)
        Similarity.annJoin(e, q, "embedding", "vec_id", nPlanes = 8,
          maxBucketQuery = cap, maxBucketCorpus = cap).count()
      }
      time(s"semantic dedup hot x$mult") {
        // k=4 trained on the hot corpus: every vector assigns to one
        // list (identical directions) — the mega-cluster shape
        val cents = Similarity.ivfCentroidsLloyd(
          e, "embedding", "vec_id", k = 4, iters = 1)
        Dedup.dedupSemantic(e, "embedding", "vec_id", cents, 0.99,
          maxCluster = cap).count()
      }
    }

    // at-cap throughput: cap == bucket size at ×4 (8k members → 32M
    // pairs through slice-block expansion + the re-join cosine verify).
    // This is the REAL work a surviving mega bucket costs — distributed
    // across tasks by the block spread, bounded per row by the slices.
    val e4 = spark.read.parquet("target/hot_bucket/emb_x4")
    println(s"\n--- at-cap (bucket == cap == ${nEmb * 4}) ---")
    time("emb near-dup at-cap x4")(
      Dedup.embeddingNearDups(e4, "embedding", "vec_id",
        planes = 8, minCosine = 0.999999, maxBucket = (nEmb * 4).toInt)
        .count())
    time("pair expansion only at-cap x4") {
      val sigs = Similarity.hyperplaneSignature(e4, "embedding", 8)
        .select(col("lsh_sig"), col("vec_id"))
      PairExpansion.bucketPairs(sigs, Seq("lsh_sig"), "vec_id",
        maxBucket = (nEmb * 4).toInt, dedupPairs = false).count()
    }
    spark.stop()
  }
}
