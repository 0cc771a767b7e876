package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

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

  test("explain capture sees every plan of a collect-and-release query") {
    // llm_pack_sequences builds its output on the driver
    // (collectAndRelease), so its returned frame's own plan is only a
    // LocalTableScan; the pipeline's work is in the plans executed
    // before it
    val (outcome, plans) =
      tools.Run.capturePlans(spark, sf, "llm_pack_sequences")
    assert(outcome.isRight, outcome)
    assert(plans.size > 1, plans.map(_._1))
    assert(plans.exists { case (_, txt) =>
      txt.contains("Exchange") || txt.contains("Aggregate") })
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
