package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every persist, checkpoint and free under `src/main/scala` goes through
  * [[graft.core.Scope]]; the only direct calls elsewhere are the
  * allow-listed lines below, each with its reason. */
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

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Every (file, line number, line) under `root` that makes a direct
    * persist, checkpoint or free call outside `Scope.scala`. */
  def directCalls(root: Path): Seq[(String, Int, String)] =
    Files.walk(root).iterator.asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Scope.scala")
      .sortBy(_.toString)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !isComment(line) &&
              call.findFirstIn(line).isDefined =>
            (p.getFileName.toString, i + 1, line.trim)
        }
      }

  test("only Scope persists, checkpoints or frees under src/main") {
    val calls = directCalls(Paths.get("src/main/scala"))
    def allowedBy(c: (String, Int, String)) = allowed.keys.filter {
      case (file, fragment) => c._1 == file && c._3.contains(fragment)
    }
    val rogue = calls.filter(allowedBy(_).isEmpty)
    assert(rogue.isEmpty, "direct persist/checkpoint/free calls outside " +
      "graft.core.Scope:\n" + rogue.map { case (f, n, l) => s"$f:$n: $l" }
        .mkString("\n"))
    // and every allow-list entry still names exactly one line
    allowed.keys.foreach { key =>
      assert(calls.count(allowedBy(_).toSeq == Seq(key)) == 1,
        s"allow-list entry $key matches no single line")
    }
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
}
