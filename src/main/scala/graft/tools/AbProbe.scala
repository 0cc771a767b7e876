package graft.tools

import org.apache.spark.sql.SparkSession

/** Same-JVM interleaved A/B probe: runs ONE registry query end to end
  * under two values of a `spark.*` session conf (consulted at plan
  * time on every run), strictly alternating A,B,A,B,... so ambient
  * load hits both variants equally — the only reliable comparison
  * protocol on this shared host (cross-session medians shift 1.3–1.7×
  * on UNCHANGED queries; see OPTIMIZATION_r17.md).
  *
  * Usage: `sbt "runMain graft.tools.AbProbe <query> <conf> <valA>
  * <valB> [pairs]"` — e.g.
  * `AbProbe llm_suffix_dedup spark.sql.shuffle.partitions 16 32 7`.
  * SPARK_GRAFT_SF_DIR overrides the sf0.1 default.
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: AbProbe <query> <conf> <valA> <valB> [pairs]")
    val Array(qname, prop, valA, valB) = args.take(4)
    require(prop.startsWith("spark."),
      s"AbProbe varies session confs only (spark.*), got $prop")
    val pairs = if (args.length > 4) args(4).toInt else 7
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(qname)
    def once(v: String): Double = {
      spark.conf.set(prop, v)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.core.SessionHygiene.releaseAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    once(valA); once(valB) // one warm-up each
    val (as, bs) = (1 to pairs).map(_ => (once(valA), once(valB))).unzip
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    def fmt(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString(",")
    println(f"[ab] $qname $prop A=$valA median=${med(as)}%.3f runs=${fmt(as)}")
    println(f"[ab] $qname $prop B=$valB median=${med(bs)}%.3f runs=${fmt(bs)}")
    println(f"[ab] speedup A/B = ${med(as) / med(bs)}%.3f")
    spark.stop()
  }
}
