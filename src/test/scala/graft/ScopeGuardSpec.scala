package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Every persist, checkpoint and free under `src/main/scala` goes through
  * [[graft.core.Scope]], and every exact or approximate percentile
  * through [[graft.stats.Quantiles]]; the only direct calls elsewhere are
  * the allow-listed lines below, each with its reason. No planner hook
  * is installed or defined there at all. */
class ScopeGuardSpec extends AnyFunSuite {

  /** (file name, line fragment) → why the call is not the scope's. */
  private val allowed = Map(
    ("EventTable.scala", "view.persist(StorageLevel.MEMORY_AND_DISK)") ->
      ("materialize() is the analyst's opt-in cache of the working view " +
        "(the vaex task-cache analogue); the analyst owns and frees it"),
    ("EventTable.scala",
      ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      ("load() without uid columns persists the zipWithIndex table so the " +
        "positional uid is computed once; the analyst owns the table"),
    ("CoreQueries.scala", "df.unpersist()") ->
      "s8_reload_consistency frees each EventTable.load it made itself")

  private val call =
    """(?<!Scope)\.(persist|localCheckpoint|checkpoint)\(|\.cache\(\)|unpersist\(""".r

  /** (file name, line fragment) → why the percentile is not Quantiles'. */
  private val percentileAllowed = Map(
    ("Temporal.scala", """percentile(col("dt_next"), lit(0.5))""") ->
      ("funnelDropoff's per-stage median is a column of the lazy result " +
        "frame, one value per group, not an estimate taken on the driver"))

  private val percentileCall = """\bpercentile(_approx)?\(""".r

  /** Quantiles itself, and the registry queries, which test Spark's own
    * percentile aggregates against DuckDB. */
  private def percentileExempt(p: Path): Boolean =
    p.getFileName.toString == "Quantiles.scala" ||
      p.getParent.endsWith("graft/queries")

  /** A planner hook changes every session it touches: a strategy
    * install, or a strategy or physical plan node of our own. */
  private val plannerHook =
    ("""\b(extraStrategies|injectPlannerStrategy)\b|\b(extends|with)\s+""" +
      """(SparkStrategy|Strategy|SparkPlan|\w*ExecNode)\b""").r

  /** A Scala UDF: every per-row native function is a
    * [[graft.functions.Kernel]]. The registry queries are exempt: some
    * test Spark's UDF path against DuckDB. */
  private val udfCall = """\budf\s*[({]""".r

  private def udfExempt(p: Path): Boolean = p.getParent.endsWith("graft/queries")

  /** A hand-bound Catalyst expression: the kernels share
    * [[graft.functions.KernelCall]]. */
  private val handBound =
    """\b(extends|with)\s+(Unary|Binary|Ternary)Expression\b""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Every (file, line number, line) under `root` that makes a `pattern`
    * call — by default a direct persist, checkpoint or free — outside
    * the `exempt` files (by default `Scope.scala`). */
  def directCalls(
      root: Path,
      pattern: Regex = call,
      exempt: Path => Boolean = _.getFileName.toString == "Scope.scala")
      : Seq[(String, Int, String)] =
    Files.walk(root).iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !exempt(p))
      .sortBy(_.toString)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !isComment(line) &&
              pattern.findFirstIn(line).isDefined =>
            (p.getFileName.toString, i + 1, line.trim)
        }
      }

  /** Every call is allow-listed, and every allow-list entry still names
    * exactly one call. */
  private def assertAllowed(
      calls: Seq[(String, Int, String)],
      allowed: Map[(String, String), String],
      what: String): Unit = {
    def allowedBy(c: (String, Int, String)) = allowed.keys.filter {
      case (file, fragment) => c._1 == file && c._3.contains(fragment)
    }
    val rogue = calls.filter(allowedBy(_).isEmpty)
    assert(rogue.isEmpty, s"$what:\n" +
      rogue.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
    allowed.keys.foreach { key =>
      assert(calls.count(allowedBy(_).toSeq == Seq(key)) == 1,
        s"allow-list entry $key matches no single line")
    }
  }

  test("only Scope persists, checkpoints or frees under src/main") {
    assertAllowed(directCalls(Paths.get("src/main/scala")), allowed,
      "direct persist/checkpoint/free calls outside graft.core.Scope")
  }

  test("only Quantiles takes percentiles under src/main, queries aside") {
    assertAllowed(
      directCalls(Paths.get("src/main/scala"), percentileCall,
        percentileExempt),
      percentileAllowed,
      "percentile calls outside graft.stats.Quantiles")
  }

  test("no planner strategy or physical plan node under src/main") {
    assertAllowed(
      directCalls(Paths.get("src/main/scala"), plannerHook, _ => false),
      Map.empty, "planner hooks under src/main")
  }

  test("no Scala UDF under src/main, queries aside") {
    assertAllowed(
      directCalls(Paths.get("src/main/scala"), udfCall, udfExempt),
      Map.empty, "Scala UDFs outside the registry queries")
  }

  test("no hand-bound unary or binary expression under src/main") {
    assertAllowed(
      directCalls(Paths.get("src/main/scala"), handBound, _ => false),
      Map.empty, "Catalyst expressions bound by hand")
  }

  test("the UDF and expression guards see definitions, not comments") {
    val dir = Files.createTempDirectory("kernel-guard")
    val src = dir.resolve("Planted.scala")
    Files.writeString(src, Seq(
      "object Planted {",
      "  val f = udf { x: Seq[Double] => x.sum }",
      "  val g = udf((s: String) => s.length)",
      "  case class K(child: Expression) extends UnaryExpression {",
      "  case class B(left: Expression, right: Expression)",
      "      extends BinaryExpression with NullIntolerant {",
      "  // val h = udf { x: Int => x } in a comment",
      "  val k = graft.functions.MinHashSig(col(\"s\"), 64)",
      "  val psdUdf = Dsp.psdUdf(1000.0)",
      "}").mkString("\n"))
    try {
      assert(directCalls(dir, udfCall, _ => false).map(_._2) == Seq(2, 3))
      assert(directCalls(dir, handBound, _ => false).map(_._2) == Seq(4, 6))
    } finally { Files.delete(src); Files.delete(dir) }
  }

  test("the guard recognises every call form and skips comments") {
    val dir = Files.createTempDirectory("scope-guard")
    val src = dir.resolve("Planted.scala")
    Files.writeString(src, Seq(
      "object Planted {",
      "  val a = df.persist()",
      "  val b = df.localCheckpoint()",
      "  val c = df.checkpoint()",
      "  val d = df.cache()",
      "  df.unpersist()",
      "  // df.persist() in a comment",
      "   * `.cache()` in a scaladoc line",
      "  val e = graft.core.Scope.persist(df)",
      "  val f = Scope.checkpoint(df)",
      "}").mkString("\n"))
    try assert(directCalls(dir).map(_._2) == Seq(2, 3, 4, 5, 6))
    finally { Files.delete(src); Files.delete(dir) }
  }

  test("the percentile guard sees both aggregates, not ranks or comments") {
    val dir = Files.createTempDirectory("percentile-guard")
    val src = dir.resolve("Planted.scala")
    Files.writeString(src, Seq(
      "object Planted {",
      "  val a = df.agg(percentile(col(\"x\"), lit(0.5)))",
      "  val b = df.selectExpr(\"percentile_approx(x, 0.5)\")",
      "  val c = GlobalOrder.percentileRank(df, Seq(col(\"x\")))",
      "  // percentile(x, 0.5) in a comment",
      "  val d = Quantiles.exact(df, col(\"x\"), Seq(0.5))",
      "}").mkString("\n"))
    try assert(directCalls(dir, percentileCall, percentileExempt)
      .map(_._2) == Seq(2, 3))
    finally { Files.delete(src); Files.delete(dir) }
  }

  test("the planner-hook guard sees installs and node definitions only") {
    val dir = Files.createTempDirectory("planner-guard")
    val src = dir.resolve("Planted.scala")
    Files.writeString(src, Seq(
      "object Planted {",
      "  spark.experimental.extraStrategies = Seq(MyStrategy)",
      "  object MyStrategy extends SparkStrategy {",
      "  case class MyExec(child: SparkPlan) extends UnaryExecNode {",
      "  case class Leaf() extends LeafExecNode with CodegenSupport",
      "  ext.injectPlannerStrategy(_ => MyStrategy)",
      "  // object Hook extends SparkStrategy in a comment",
      "  val p: SparkPlan = df.queryExecution.executedPlan",
      "  ds.groupBy(col(\"k\")).as[String, Long].flatMapSortedGroups(o)(f)",
      "}").mkString("\n"))
    try assert(directCalls(dir, plannerHook, _ => false).map(_._2) ==
      Seq(2, 3, 4, 5, 6))
    finally { Files.delete(src); Files.delete(dir) }
  }
}
