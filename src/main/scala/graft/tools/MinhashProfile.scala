package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope
import graft.llm.Dedup
import ScaleStress.{force, time}

/** Stage-by-stage timing of the near-dup pipelines (dev tool), each
  * stage timed by `ScaleStress.time`. */
object MinhashProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.create()
    val (_, scope) =
      Scope.run(profile(spark.read.parquet(s"$sfDir/documents.parquet")))
    scope.close()
    spark.stop()
  }

  private def profile(d: DataFrame): Unit = {
    val sigs = Scope.persist(
      Dedup.minhashSignatures(d, "text", "doc_id", k = 64))
    time("signatures")(sigs.count())
    val cands = Scope.persist(Dedup.lshCandidates(sigs, "doc_id", 16, 4))
    time("candidates")(cands.count())
    time("estimate")(
      Dedup.estimateJaccard(cands, sigs, "doc_id").count())
    val (verifiedAll, shingles) =
      Scope.run(Dedup.verifyJaccard(cands, d, "text", "doc_id"))
    val verified = Scope.persist(
      verifiedAll.filter(col("jaccard") >= 0.8).select("ida", "idb"))
    time("verify")(verified.count())
    shingles.close()
    time("components")(
      Dedup.nearDupComponents(verified).count())
    time("survivors")(
      Dedup.nearDupSurvivors(d, "doc_id", verified).count())
    time("end-to-end dedupNearMinhash")(
      Dedup.dedupNearMinhash(d, "text", "doc_id", 0.8).count())

    val sh = Scope.persist(Dedup.simhash(d, "text", "doc_id"))
    time("simhash signatures")(sh.count())
    time("simhash candidates")(
      Dedup.simhashCandidates(sh, "doc_id", 3).count())
    time("simhash end-to-end (as in bench query)")(
      Dedup.simhashCandidates(
        Dedup.simhash(d, "text", "doc_id"), "doc_id", 3)
        .orderBy("ida", "idb").count())

    // ---- signature-stage anatomy: scan / tokens / shingles / minhash
    val fanned = Scope.persist(graft.core.FanOut.cpuBound(d))
    time("  [anat] fanned text materialize")(fanned.count())
    // each anatomy stage is a one-row aggregate, forced in one job
    time("  [anat] tokens only")(force(fanned.select(
      sum(size(graft.llm.TextAnalysis.tokens(col("text")))).as("v"))))
    time("  [anat] ngrams (no distinct)")(force(fanned.select(
      sum(size(graft.llm.TextAnalysis.ngrams(col("text"), 3))).as("v"))))
    time("  [anat] shingles (distinct)")(force(
      fanned.select(sum(size(Dedup.shingles(col("text"), 3))).as("v"))))
    time("  [anat] minhash over shingles")(force(
      fanned.select(graft.functions.MinHashSig(
        Dedup.shingles(col("text"), 3), 64).as("sig"))
        .select(max(element_at(col("sig"), 1)).as("v"))))
    // fused single-pass kernels (what the pipelines actually run)
    time("  [anat] fused minhash_text")(force(
      fanned.select(graft.functions.MinHashTextSig(col("text"), 64, 3)
        .as("sig"))
        .select(max(element_at(col("sig"), 1)).as("v"))))
    time("  [anat] fused shingle_hashes")(force(
      fanned.select(sum(size(
        graft.functions.ShingleHashes(col("text"), 3))).as("v"))))
    time("  [anat] fused simhash_text")(force(
      fanned.select(max(graft.functions.SimHashText(col("text"))).as("v"))))
    Scope.release(fanned)

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
  }
}
