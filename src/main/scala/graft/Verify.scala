package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The oracle_sql.json body: the entries of `oracle` whose query is
    * in `only` (every entry when None), so the checker replays exactly
    * the dumped queries. JSON string escape: backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in an oracle query would
    * otherwise make the checker's json.load fail and report no
    * correctness result at all. */
  private[graft] def oracleJson(oracle: Map[String, String],
      only: Option[Set[String]]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracle.filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names: dump only these
    // and their oracle entries, for targeted re-checks]
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      tools.Run.scoped(spark)(fn(spark, sfDir))(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .left.foreach(e =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql, only))
    spark.stop()
  }
}
