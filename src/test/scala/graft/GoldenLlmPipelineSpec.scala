package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm._

/** Golden end-to-end TRAINING-DATA pipeline: the curation flow every
  * pretraining corpus goes through, run as one composition over a
  * planted fixture — canonicalize → exact dedup → quality gate →
  * near-dedup (MinHash) → leakage-controlled split → source mixing →
  * LM-perplexity filter → token-budget selection — with hard asserts
  * per stage (planted junk/dup docs must fall exactly where designed)
  * and a whole-pipeline determinism assert (same ids out under a
  * different input partitioning). Unit tests pin each operator;
  * THIS spec pins that their column contracts compose. */
class GoldenLlmPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** 3 sources × 40 docs. Planted structure:
    *  - ids 0–39   (srcA): normal prose, unique
    *  - ids 100–139 (srcB): 20 normal + 10 EXACT dups of srcA texts
    *    (case/spacing variants — caught only after canonicalize) +
    *    10 junk (symbol spam → quality-gated)
    *  - ids 200–239 (srcC): 30 normal + 10 NEAR dups of srcA
    *    (one word appended) */
  private lazy val corpus: DataFrame = {
    def prose(i: Int): String = {
      val words = Array("the", "model", "reads", "clean", "text",
        "from", "many", "sources", "every", "day", "with", "care")
      // a per-doc seeded sequence: distinct docs get genuinely
      // different shingle sets (an arithmetic word cycle made every
      // doc a rotation of every other — all mutual near-dups); the
      // tag word keeps prose injective even across seeds
      val r = new scala.util.Random(i)
      (0 until 24).map(_ => words(r.nextInt(words.length)))
        .mkString(" ") + s" tag$i"
    }
    val a = (0 until 40).map(i => (i.toLong, "srcA", prose(i)))
    val b = (0 until 40).map {
      case i if i < 20 => (100L + i, "srcB", prose(100 + i))
      case i if i < 30 => // exact dup after canonicalization
        (100L + i, "srcB", "  " + prose(i - 20).toUpperCase + "  ")
      // distinct junk per doc (one shared junk string would already
      // die at exact dedup and blur the stage attribution)
      case i => (100L + i, "srcB", s"$$$$$$ ### @@@ %%% !!! ^^^ j$i")
    }
    val c = (0 until 40).map {
      case i if i < 30 => (200L + i, "srcC", prose(200 + i))
      case i => (200L + i, "srcC", prose(i - 30) + " appended")
    }
    (a ++ b ++ c).toDF("doc_id", "source", "text")
  }

  private def runPipeline(input: DataFrame): Seq[Long] = {
    // 1. canonicalize (NFC + case fold + whitespace collapse)
    val canon = input.withColumn("text",
      TextAnalysis.normalizeText(col("text")))
    // 2. exact dedup — smallest id survives per canonical text
    val exact = Dedup.exactDedup(canon, "text", "doc_id")
    // 3. quality gate: symbol spam has alpha ratio ~0
    val alpha = length(regexp_replace(col("text"), "[^\\p{L}]", ""))
      .cast("double") / length(col("text"))
    val clean = exact.filter(alpha > 0.5)
    // 4. near-dedup: the appended-word variants fall to their sources
    val survivors = Dedup.dedupNearMinhashReleasable(clean, "text", "doc_id",
      jaccardThreshold = 0.5)._1
    // 5. leakage-controlled split on exact-dup components is already
    //    resolved (exact dedup ran); per-source mixing: drop srcB half
    val mixed = Mixing.mixBySources(survivors, "source", "doc_id",
      Map("srcB" -> 0.5))
    // 6. LM-perplexity filter (self-trained); generous ceiling — the
    //    stage must run and compose, the bite is asserted loosely
    val ppl = LanguageModel.bigramPerplexity(mixed, "text", "doc_id")
    val kept = mixed.join(ppl.filter(col("ppl") <= 50.0), Seq("doc_id"))
    // 7. token budget: priority = doc_id asc (deterministic), cap well
    //    above the survivor volume so selection is total
    val fin = Select.takeTokenBudgetReleasable(kept, "text", "doc_id",
      -col("doc_id").cast("double"), budget = 100000L)._1
    fin.select("doc_id").as[Long].collect().toSeq.sorted
  }

  test("golden curation pipeline: planted fixture, staged attrition") {
    // stage-level truths first
    val canon = corpus.withColumn("text",
      TextAnalysis.normalizeText(col("text")))
    val exact = Dedup.exactDedup(canon, "text", "doc_id")
    // 10 exact dups (120-129 mirror 0-9 after canonicalization) die
    assert(exact.count() == 110)
    assert(exact.filter(col("doc_id").between(120, 129)).count() == 0)
    val alpha = length(regexp_replace(col("text"), "[^\\p{L}]", ""))
      .cast("double") / length(col("text"))
    val clean = exact.filter(alpha > 0.5)
    // the 10 junk docs (130-139) die at the quality gate
    assert(clean.count() == 100)
    assert(clean.filter(col("doc_id").between(130, 139)).count() == 0)
    val survivors = Dedup.dedupNearMinhashReleasable(clean, "text", "doc_id",
      jaccardThreshold = 0.5)._1
    // the 10 near-dup variants (230-239, one word appended to 0-9)
    // collapse onto their earlier twins
    assert(survivors.filter(col("doc_id").between(230, 239)).count() == 0)
    assert(survivors.count() == 90)
    // end-to-end ids
    val ids = runPipeline(corpus)
    assert(ids.nonEmpty && ids.size < 90) // mixing + ppl gates bite
    // no planted-dead doc resurfaces
    assert(!ids.exists(id => (id >= 120 && id <= 139) || id >= 230))
  }

  test("golden curation pipeline: deterministic under repartitioning") {
    val a = runPipeline(corpus)
    val b = runPipeline(corpus.repartition(7))
    assert(a == b && a.nonEmpty)
  }
}
