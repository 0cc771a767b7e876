package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Stage-by-stage timing of the near-dup pipelines (dev tool). */
object MinhashProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val sigs = Dedup.minhashSignatures(d, "text", "doc_id", k = 64).persist()
    time("signatures")(sigs.count())
    val cands = Dedup.lshCandidates(sigs, "doc_id", 16, 4).persist()
    val nc = time("candidates")(cands.count())
    println(s"candidate pairs: $nc")
    time("estimate")(
      Dedup.estimateJaccard(cands, sigs, "doc_id").count())
    val (verifiedAll, releaseShingles) =
      Dedup.verifyJaccardReleasable(cands, d, "text", "doc_id")
    val verified = verifiedAll
      .filter(col("jaccard") >= 0.8).select("ida", "idb").persist()
    time("verify")(verified.count())
    releaseShingles()
    time("components")(
      Dedup.nearDupComponents(verified).count())
    time("survivors")(
      Dedup.nearDupSurvivors(d, "doc_id", verified).count())
    time("end-to-end dedupNearMinhash") {
      val (surv, release) =
        Dedup.dedupNearMinhashReleasable(d, "text", "doc_id", 0.8)
      val n = surv.count(); release(); n
    }

    val sh = time("simhash signatures")(
      Dedup.simhash(d, "text", "doc_id").persist())
    sh.count()
    time("simhash candidates")(
      Dedup.simhashCandidates(sh, "doc_id", 3).count())
    time("simhash end-to-end (as in bench query)")(
      Dedup.simhashCandidates(
        Dedup.simhash(d, "text", "doc_id"), "doc_id", 3)
        .orderBy("ida", "idb").count())

    // ---- signature-stage anatomy: scan / tokens / shingles / minhash
    val fanned = graft.core.FanOut.cpuBound(d).persist()
    time("  [anat] fanned text materialize")(fanned.count())
    time("  [anat] tokens only")(
      fanned.select(sum(size(graft.llm.TextAnalysis.tokens(col("text")))))
        .head())
    time("  [anat] ngrams (no distinct)")(
      fanned.select(sum(size(graft.llm.TextAnalysis.ngrams(col("text"), 3))))
        .head())
    time("  [anat] shingles (distinct)")(
      fanned.select(sum(size(Dedup.shingles(col("text"), 3)))).head())
    time("  [anat] minhash over shingles")(
      fanned.select(graft.functions.MinHashSig(
        Dedup.shingles(col("text"), 3), 64).as("sig"))
        .select(max(element_at(col("sig"), 1))).head())
    // fused single-pass kernels (what the pipelines actually run)
    time("  [anat] fused minhash_text")(
      fanned.select(graft.functions.MinHashTextSig(col("text"), 64, 3)
        .as("sig"))
        .select(max(element_at(col("sig"), 1))).head())
    time("  [anat] fused shingle_hashes")(
      fanned.select(sum(size(
        graft.functions.ShingleHashes(col("text"), 3)))).head())
    time("  [anat] fused simhash_text")(
      fanned.select(max(graft.functions.SimHashText(col("text")))).head())
    fanned.unpersist()

    // ---- lshCandidates anatomy over the cached signature table
    val banded = sigs.filter(col("sig").isNotNull).select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(15)), j =>
        struct(j.as("band"),
          slice(col("sig"), j * 4 + 1, lit(4)).as("bhash"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bhash"))
    time("  [cand] banding only")(banded.count())
    val buckets = banded.groupBy("band", "bhash")
      .agg(graft.functions.CappedCollectLong(col("doc_id"), 1000).as("ids"))
      .filter(size(col("ids")).between(2, 1000))
    time("  [cand] bucket aggregate")(buckets.count())
    time("  [cand] full (incl. pair expand + distinct)")(
      Dedup.lshCandidates(sigs, "doc_id", 16, 4).count())
    spark.stop()
  }
}
