package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable read under `src/main/scala` is in the
  * census below, with its reason, and is read at exactly one line (so it
  * has one default). The library reads no JVM system property. Adding a
  * variable is an edit to this census. */
class EnvCensusSpec extends AnyFunSuite {

  /** variable → why the library reads it. */
  private val census = Map(
    "SPARK_GRAFT_CPUS" ->
      "GraftSession: cores of local[n]; default the host's processor count",
    "SPARK_GRAFT_SF_DIR" ->
      "Run/Bench: the registry queries' data directory; default sf0.1",
    "SPARK_GRAFT_BENCH_RUNS" ->
      "Run.series: measured passes of a timed series; default 7",
    "SPARK_GRAFT_STRESS_OPS" ->
      "stress tools: run only the decades whose label matches",
    "SPARK_MASTER" ->
      "ConvertCli: master URL of a deployed conversion; default local")

  private val envRead = """sys\.env|System\.getenv""".r
  private val named =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"(\w+)"""".r
  private val propRead = """sys\.props|System\.getPropert""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Every (file, line number, line) under `root` that matches `re`,
    * comments skipped. */
  private def lines(root: Path, re: scala.util.matching.Regex)
      : Seq[(String, Int, String)] =
    Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .sortBy(_.toString)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !isComment(line) &&
              re.findFirstIn(line).isDefined =>
            (p.getFileName.toString, i + 1, line.trim)
        }
      }

  /** Each env read under `root` as (variable, where); None when the line
    * reads the environment without naming a variable literally. */
  def envReads(root: Path): Seq[(Option[String], String)] =
    lines(root, envRead).flatMap { case (f, n, l) =>
      val vars = named.findAllMatchIn(l).map(_.group(1)).toSeq
      if (vars.isEmpty) Seq(None -> s"$f:$n: $l")
      else vars.map(v => Some(v) -> s"$f:$n")
    }

  test("every environment variable read under src/main is in the census, " +
      "read at one line") {
    val reads = envReads(Paths.get("src/main/scala"))
    val unnamed = reads.collect { case (None, at) => at }
    assert(unnamed.isEmpty,
      "environment reads without a literal name:\n" + unnamed.mkString("\n"))
    val byVar = reads.collect { case (Some(v), at) => v -> at }
      .groupBy(_._1).map { case (v, ats) => v -> ats.map(_._2) }
    val unlisted = byVar.keySet -- census.keySet
    assert(unlisted.isEmpty, "environment variables outside the census: " +
      unlisted.toSeq.sorted.map(v => s"$v (${byVar(v).mkString(", ")})")
        .mkString("; "))
    assert(byVar.keySet == census.keySet,
      s"census entries read nowhere: ${census.keySet -- byVar.keySet}")
    byVar.foreach { case (v, ats) =>
      assert(ats.size == 1, s"$v is read at ${ats.size} lines: $ats")
    }
  }

  test("the library reads no JVM system property") {
    val props = lines(Paths.get("src/main/scala"), propRead)
    assert(props.isEmpty, "system property reads:\n" +
      props.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("the census recognises every read form and skips comments") {
    val dir = Files.createTempDirectory("env-census")
    val src = dir.resolve("Planted.scala")
    Files.writeString(src, Seq(
      "object Planted {",
      "  val a = sys.env.get(\"A_VAR\")",
      "  val b = sys.env.getOrElse(\"B_VAR\", \"1\")",
      "  val c = sys.env(\"C_VAR\")",
      "  val d = System.getenv(\"D_VAR\")",
      "  val e = sys.env.contains(\"E_VAR\")",
      "  val f = sys.env.keys",
      "  // sys.env.get(\"COMMENTED\")",
      "   * `sys.env(\"SCALADOC\")` in a scaladoc line",
      "  val g = sys.props.get(\"p\")",
      "}").mkString("\n"))
    try {
      assert(envReads(dir).map(_._1) == Seq(Some("A_VAR"), Some("B_VAR"),
        Some("C_VAR"), Some("D_VAR"), Some("E_VAR"), None))
      assert(lines(dir, propRead).map(_._2) == Seq(10))
    } finally { Files.delete(src); Files.delete(dir) }
  }
}
