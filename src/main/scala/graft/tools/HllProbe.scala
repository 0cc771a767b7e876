package graft.tools

import org.apache.spark.sql.functions._

/** Semantics probe (dev tool): is `hll_sketch_estimate` EXACT at small
  * cardinalities (DataSketches HLL list/set mode), and does a
  * half-sketch union reproduce the direct sketch — i.e. can the
  * persisted-HLL union path carry an exact oracle the way the MG
  * summary merge does? */
object HllProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val toks = d.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
    val exact = toks.agg(countDistinct("term")).head().getLong(0)
    val direct = toks.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(term))")).head().getLong(0)
    val viaUnion = toks
      .withColumn("half", pmod(col("doc_id"), lit(2)))
      .groupBy("half").agg(expr("hll_sketch_agg(term)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head().getLong(0)
    println(s"[hll] exact=$exact direct=$direct viaUnion=$viaUnion")
    // per-source too (the query shape)
    val per = toks.groupBy("source").agg(
      countDistinct("term").as("ex"),
      expr("hll_sketch_estimate(hll_sketch_agg(term))").as("est"))
      .select(sum(when(col("ex") === col("est"), 0).otherwise(1)))
      .head().getLong(0)
    println(s"[hll] per-source mismatches: $per")
    spark.stop()
  }
}
