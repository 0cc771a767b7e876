package graft.tools

/** Smoke-run of the driver contract's `SparkEntry.entry` (dev tool). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"entry rows=${rows.length}")
    rows.take(5).foreach(println)
    spark.stop()
  }
}
