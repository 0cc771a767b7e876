package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.GraftSqlBridge

/** The single session factory and the single query runner: the settings
  * every session gets from [[GraftSession]], the plans
  * `graft.tools.Run`'s explain mode captures, and the oracle file a
  * filtered [[Verify]] writes. */
class RunnerSpec extends SparkSpec {

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
    val (outcome, plans) =
      tools.Run.capturePlans(spark, sf, "llm_pack_sequences")
    assert(outcome.isRight, outcome)
    assert(plans.size > 1, plans.map(_._1))
    assert(plans.exists { case (_, txt) =>
      txt.contains("Exchange") || txt.contains("Aggregate") })
  }

  test("every registry query runs through Run.once and leaves nothing") {
    // an empty SQL cache first, so the runner's cache check is in force
    spark.catalog.clearCache()
    val failed = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      tools.Run.once(spark, sf, name).left.toOption
        .map(e => s"$name: ${e.getMessage}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(GraftSqlBridge.cacheIsEmpty(spark))
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
