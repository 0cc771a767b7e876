package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.execution.{EmptyRelationExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  LogicalQueryStage}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions.{col, lit, pmod}
import graft.llm.{Bpe, Packing, TokenizerEval, Unigram, WordPiece}

/** The single session factory and the single query runner: the settings
  * every session gets from [[GraftSession]], the plans and jobs
  * `graft.tools.Run.capture` records, the plan gate every registry
  * query passes, and the oracle file a filtered [[Verify]] writes. */
class RunnerSpec extends SparkSpec {
  import RunnerSpec._

  private val sf = "/root/testdata/sf0.001"

  test("the shared spec session carries the factory's settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("explain capture sees every plan a query executes") {
    // llm_pack_sequences fills its prefix-sum cache (the per-partition
    // partials collect) before it returns a frame, so part of the
    // pipeline's work is in plans executed before the final write
    val (outcome, plans, jobs) = tools.Run.capture(spark)(
      tools.Run.once(spark, sf, "llm_pack_sequences"))
    assert(outcome.isRight, outcome)
    assert(plans.size > 1, plans.map(_._1))
    assert(plans.exists { case (_, qe) =>
      operators(qe).exists(op => isExchange(op) ||
        op.isInstanceOf[BaseAggregateExec]) })
    assert(jobs >= plans.size, s"$jobs jobs for ${plans.size} plans")
  }

  test("every registry query runs through Run.once and leaves nothing") {
    // an empty SQL cache first, so the runner's cache check is in force
    spark.catalog.clearCache()
    val ceilings = jobCeilings
    val names = SparkEntry.queries.keys.toSeq.sorted
    val failed = names.flatMap { name =>
      val (outcome, plans, jobs) =
        tools.Run.capture(spark)(tools.Run.once(spark, sf, name))
      val ran = plans.map { case (_, qe) => operators(qe) }
      val overCeiling = ceilings.get(name).fold(
        Option(s"no job ceiling ($jobs jobs)"))(
        c => Option.when(jobs > c)(s"$jobs jobs > ceiling $c"))
      (outcome.left.toOption.map(_.getMessage) ++ planFaults(name, ran) ++
        overCeiling).map(f => s"$name: $f")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(GraftSqlBridge.cacheIsEmpty(spark))
    val unknown = (ceilings.keySet ++ nestedLoopAllowed.keySet ++
      queryRules.map(_._1)) -- names
    assert(unknown.isEmpty, s"plan gate names no query: $unknown")
  }

  test("kernel plans stay map-only; fertility and curriculum keep their shape") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val uni = Unigram.learn(docs, "text")
    val wp = WordPiece.vocabFromMerges(
      WordPiece.learnMerges(docs, "text", nMerges = 4))
    def executed(df: => DataFrame): Plans = {
      val (outcome, plans, _) = tools.Run.capture(spark)(
        tools.Run.scoped(spark)(df)(
          _.write.format("noop").mode("overwrite").save()))
      assert(outcome.isRight, outcome)
      plans.map { case (_, qe) => operators(qe) }
    }
    def mod(c: Column, m: Long) = pmod(c, lit(m))
    val kernels = Seq(
      "unigram encode" -> Unigram.encode(col("text"), uni),
      "wordpiece encode" -> WordPiece.encode(col("text"), wp),
      "2-D hilbert" -> graft.core.Layout.hilbertValue(
        mod(col("doc_id"), 64), mod(col("n_chars"), 64), 6),
      "d-D hilbert" -> graft.core.Layout.hilbertValueN(Seq(
        mod(col("doc_id") * 37L, 16), mod(col("n_chars"), 16),
        mod(col("doc_id") * 91L, 16)), 4))
    kernels.foreach { case (what, kernel) =>
      val ops = executed(docs.select(col("doc_id"), kernel.as("v"))).flatten
      assert(ops.nonEmpty && ops.forall(mapOnly), s"$what: " +
        ops.filterNot(mapOnly).map(_.nodeName).mkString(","))
    }
    // all three subword kernels ride one scan into one group aggregate
    val fertility = executed(TokenizerEval.fertility(docs, "text", "source",
      Seq("bpe" -> ((c: Column) => Bpe.count(c)),
        "unigram" -> ((c: Column) => Unigram.count(c, uni)),
        "wordpiece" -> ((c: Column) => WordPiece.count(c, wp))))).flatten
    assert(fertility.forall(op => mapOnly(op) || isExchange(op)))
    assert(fertility.count(isExchange) <= 2, fertility.map(_.nodeName))
    // few huge length buckets: every window runs per range partition
    assert(windowsOnPid(executed(
      Packing.lengthCurriculumBatches(docs, "text", "doc_id", 32))))
  }

  test("SparkEntry.entry returns its pinned 21 histogram rows") {
    assert(tools.Run.scoped(spark)(SparkEntry.entry(spark))(
      _.collect().length) == Right(21))
  }

  test("a query that materializes outside its scope fails the run") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.keySet
    val filled = spark.range(10).toDF("id")
    val lazyOnly = spark.range(20).toDF("id")
    def leaks(body: => org.apache.spark.sql.DataFrame): String =
      tools.Run.scoped(spark)(body)(_.count()) match {
        case Left(e) => e.getMessage
        case Right(n) => fail(s"a leaking query ran clean ($n rows)")
      }
    try {
      assert(leaks { filled.persist(); filled.count(); filled }
        .contains("persisted RDDs"))
      assert(leaks(spark.range(5).toDF("id").localCheckpoint())
        .contains("persisted RDDs"))
      // persisted but never filled: only the SQL cache shows it
      spark.catalog.clearCache()
      assert(leaks { lazyOnly.persist(); spark.range(3).toDF("id") }
        .contains("SQL cache"))
      // the same bodies through Scope run clean
      spark.catalog.clearCache()
      assert(tools.Run.scoped(spark)(
        graft.core.Scope.persist(spark.range(10).toDF("id")))(_.count()) ==
        Right(10L))
    } finally {
      spark.catalog.clearCache()
      (sc.getPersistentRDDs.keySet -- rdds0)
        .foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    }
  }

  test("a filtered Verify writes only the filtered oracle entries") {
    val oracle = Map(
      "q_a" -> "SELECT 1",
      "q_b" -> "SELECT\t\"x\"\nFROM t -- \\ \u0001",
      "q_c" -> "SELECT 3")
    assert(Verify.oracleJson(oracle, Some(Set("q_a"))) ==
      "{\"q_a\": \"SELECT 1\"}")
    // every control character escaped, so the checker's json.load reads
    // back exactly the SQL
    val both = new ObjectMapper().readTree(
      Verify.oracleJson(oracle, Some(Set("q_a", "q_b"))))
    assert(both.fieldNames.asScala.toSet == Set("q_a", "q_b"))
    assert(both.get("q_b").asText == oracle("q_b"))
    // unfiltered: every entry; filtered on the real registry: just those
    val all = new ObjectMapper().readTree(
      Verify.oracleJson(SparkEntry.oracleSql, None))
    assert(all.size == SparkEntry.oracleSql.size)
    val two = new ObjectMapper().readTree(Verify.oracleJson(
      SparkEntry.oracleSql, Some(Set("t3_sigma_cut", "llm_dup_spans"))))
    assert(two.fieldNames.asScala.toSet == Set("t3_sigma_cut", "llm_dup_spans"))
  }
}

object RunnerSpec extends AdaptiveSparkPlanHelper {

  /** The operators of each plan one query executed, in order. */
  private type Plans = Seq[Seq[SparkPlan]]

  /** Every operator one captured plan ran: AQE's final plan with its
    * query stages and subqueries expanded (empty if it never planned). */
  private def operators(qe: QueryExecution): Seq[SparkPlan] =
    Try(expand(qe.executedPlan)).getOrElse(Nil)

  // a stage that came back empty folds its consumers into an
  // EmptyRelation whose logical plan still holds the stage that ran
  private def expand(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case op => op }.flatMap {
      case op @ EmptyRelationExec(logical) =>
        op +: logical.collect { case s: LogicalQueryStage => s.physicalPlan }
          .flatMap(expand)
      case op => Seq(op)
    }

  private def isExchange(op: SparkPlan) = op.nodeName.contains("Exchange")
  private def isWindow(op: SparkPlan) = op.nodeName.contains("Window")
  private def isGenerate(op: SparkPlan) = op.nodeName == "Generate"
  private def hasUdf(op: SparkPlan) =
    op.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))

  /** A codegen'd kernel over a scan: no exchange, explode, window or
    * Scala UDF. */
  private def mapOnly(op: SparkPlan): Boolean =
    !isExchange(op) && !isGenerate(op) && !isWindow(op) && !hasUdf(op)

  /** Operators named `name` over all of a query's plans. */
  private def count(plans: Plans, name: String): Int =
    plans.map(_.count(_.nodeName == name)).sum

  /** At least one window, and every window partitions first on `__pid`
    * (the `GlobalOrder` range-partition id), never on a skewed key such
    * as a length class. */
  private def windowsOnPid(plans: Plans): Boolean = {
    val windows = plans.flatten.collect { case w: WindowExecBase => w }
    windows.nonEmpty && windows.forall(_.partitionSpec.headOption.exists {
      case a: Attribute => a.name == "__pid"
      case _ => false
    })
  }

  private def scans(plans: Plans): Seq[FileSourceScanExec] =
    plans.flatten.collect { case s: FileSourceScanExec => s }

  private def spanKeyAggregate(plan: Seq[SparkPlan]): Boolean =
    plan.exists {
      case a: BaseAggregateExec =>
        a.groupingExpressions.map(_.name) == Seq("k")
      case _ => false
    }

  /** Queries whose plans may hold a nested-loop or cartesian join, and
    * why that join is no pair blow-up. */
  private val nestedLoopAllowed: Map[String, String] = {
    val oneRow = "crossJoin(broadcast(...)) of a ONE-ROW scalar (vocab " +
      "size, totals or cutoffs) against a bounded side"
    val lm = "the LM's one-row vocab-size crossJoin"
    Map(
      "llm_ngram_jaccard" -> "tiny driver-generated C(20,2) pair set",
      "llm_containment" -> "the same C(20,2) pair set as llm_ngram_jaccard",
      "llm_classifier_score" -> ("map-only crossJoin against the ONE-ROW " +
        "dense-model broadcast"),
      "llm_lm_perplexity" -> lm,
      "llm_lm_bigrams" -> lm,
      "llm_lm_backoff" -> lm,
      "llm_lm_kneser_ney" -> lm,
      "llm_lm_shuffle" -> s"the shuffle-model variant keeps $lm",
      "llm_ann_recall" -> ("the recall gate's brute-force ground truth: a " +
        "sampled query set broadcast against the corpus"),
      "llm_hybrid_rrf" -> ("the exact-cosine list is " +
        "Similarity.bruteForceJoinTopK: two query vectors broadcast " +
        "against the corpus (the llm_ann_recall shape)"),
      "llm_dsir_weights" -> s"$oneRow (the 4096-row bucket spine)",
      "llm_dsir_select" -> s"$oneRow (the 4096-row bucket spine)",
      "stream_dsir_score" -> (s"$oneRow (the 4096-row bucket spine), in " +
        "the static log-ratio table the stream joins against"),
      "llm_hits" -> s"$oneRow: each half-step renormalizes by its total",
      "llm_ccnet_buckets" -> s"$oneRow: the cutoff pair, plus $lm",
      "llm_ccnet_by_lang" -> s"$oneRow: the cutoff pair, plus $lm",
      "llm_ccnet_paragraphs" -> s"$oneRow: the cutoff pair, plus $lm",
      "llm_pack_ffd" -> s"$oneRow: the padding-waste summary row")
  }

  /** Plan rules by query, each read over EVERY plan the query executed:
    * (query, what must hold, the check). */
  private val queryRules: Seq[(String, String, Plans => Boolean)] =
    Seq(
      ("f1_filter_expr", "the filter is pushed into the parquet scan",
        ps => scans(ps).exists(_.metadata.get("PushedFilters")
          .exists(_ != "[]"))),
      ("j2_key_broadcast_join", "the key join is broadcast",
        ps => count(ps, "BroadcastHashJoin") >= 1),
      // the nprobe list filter lands in the scan, not a post-scan Filter
      ("llm_ann_ivf_persisted", "the probe scan is partition-pruned",
        ps => scans(ps).exists(_.partitionFilters.nonEmpty)),
      // Zipf-hot bigrams never partition a shuffle: the fused model
      // table broadcasts against the corpus-sized stream
      ("llm_lm_perplexity", "the model join is broadcast",
        ps => count(ps, "BroadcastHashJoin") >= 1),
      // the hint holds against auto-broadcast of a small model
      ("llm_lm_shuffle", "model build and stream join shuffle-hash, " +
        "nothing broadcast-hash joins",
        ps => count(ps, "ShuffledHashJoin") >= 2 &&
          count(ps, "BroadcastHashJoin") == 0),
      ("llm_lm_backoff", "all five model tables (tc, bc x2, uc x2) " +
        "broadcast", ps => count(ps, "BroadcastHashJoin") >= 5),
      ("llm_sitemap_ingest", "the robots dim broadcasts and the parse " +
        "plans no Scala UDF",
        ps => count(ps, "BroadcastHashJoin") >= 1 &&
          !ps.flatten.exists(hasUdf)),
      ("llm_fetch_backoff", "robots verdict, directives and backoff dims " +
        "broadcast", ps => count(ps, "BroadcastHashJoin") >= 3),
      ("llm_retrieval_topk", "query terms and doc frequencies broadcast " +
        "against the postings", ps => count(ps, "BroadcastHashJoin") >= 2),
      ("llm_pack_ffd", "every window partitions on __pid, never on the " +
        "length class", windowsOnPid),
      ("llm_gopher_repetition", "the single-pass kernel: no explode, no " +
        "window", ps => !ps.flatten.exists(o => isGenerate(o) || isWindow(o))),
      // one map-side-combinable aggregate on the exact span key picks
      // the keepers; a row_number formulation would put every copy of a
      // viral span on one task
      ("llm_c4_clean", "no window, and the span-key aggregate in exactly " +
        "one plan", ps => !ps.flatten.exists(isWindow) &&
          ps.count(spanKeyAggregate) == 1),
      // candidates are k-bounded upstream; a row_number fusion would put
      // every candidate of a query on one task
      ("llm_hybrid_rrf", "the fusion carries no window",
        ps => !ps.flatten.exists(isWindow)))

  /** What `name`'s executed plans break of the gate. */
  private def planFaults(name: String, plans: Plans): Seq[String] = {
    val pairJoins = plans.flatten.map(_.nodeName).filter(n =>
      n == "CartesianProduct" || n == "BroadcastNestedLoopJoin").distinct
    pairJoins.filterNot(_ => nestedLoopAllowed.contains(name))
      .map(j => s"$j outside the nested-loop allow-list") ++
      queryRules.collect {
        case (q, what, holds) if q == name && !holds(plans) =>
          s"expected: $what"
      }
  }

  /** query → the most Spark jobs one run may start (`job_ceilings.tsv`).
    * Raising a ceiling is a bound change. */
  private def jobCeilings: Map[String, Int] =
    scala.io.Source.fromResource("job_ceilings.tsv").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\t"); q -> n.toInt }.toMap
}
