package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built. Every main and the test
  * suite start their session here, so they all run with the same
  * settings:
  *   - shuffle partitions = `cores`;
  *   - UTC session time zone (`Q.tsUs` compares against DuckDB's
  *     `epoch_us(ts)` under UTC);
  *   - `nanosAsLong` for older nanos-typed parquet fixtures (a no-op on
  *     the current `timestamp[us]` data);
  *   - no UI, log level WARN.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else the JVM's available processors. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `master` defaults to `local[cores]`; a deployment passes its own. */
  def create(cores: Int = hostCores,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
