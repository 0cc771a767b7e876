package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.stats.Quantiles

/** The estimation sample collector behind every guarded threshold
  * ([[Quantiles.exactSample]]) against Spark's exact `percentile`. */
class QuantilesSpec extends SparkSpec {

  private val ps = Seq(0.0, 0.1, 0.15865, 0.25, 0.5, 0.75, 0.84135, 0.9, 1.0)

  private val special = Array(0.0, -0.0, 1.5, -1.5, 1e300, -1e300,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)

  /** (bin, d, f, i, m) rows: bins of 1 to 60 rows drawn from few values
    * (ties) and the special doubles; bin 7 has only nulls, bin 8 one row. */
  private def sample(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 7).flatMap { b =>
      Seq.fill(1 + rnd.nextInt(60)) {
        val d =
          if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length))
          else (rnd.nextInt(21) - 10) / 4.0
        val isNull = rnd.nextInt(10) == 0
        val m = BigDecimal(rnd.nextInt(2000001) - 1000000, 3)
        Row(b.toLong,
          if (isNull) null else d,
          if (isNull) null else d.toFloat,
          if (isNull) null else (rnd.nextInt(41) - 20),
          if (isNull) null else m.bigDecimal)
      }
    } ++ Seq.fill(3)(Row(7L, null, null, null, null)) :+
      Row(8L, 2.5, 2.5f, 2, BigDecimal("2.500").bigDecimal)
    val schema = StructType(Seq(
      StructField("bin", LongType, nullable = false),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("i", IntegerType), StructField("m", DecimalType(12, 3))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema)
  }

  /** Equal bits, or two zeros: the collector sorts −0.0 before 0.0, where
    * `percentile` keeps the two as distinct keys that compare equal and
    * orders them by hash-map iteration, so a percentile landing on a zero
    * may carry either sign. Comparisons cannot tell them apart. */
  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) ==
      java.lang.Double.doubleToRawLongBits(b) || (a == 0.0 && b == 0.0)

  private def sameAll(a: Option[Seq[Double]], b: Option[Seq[Double]]) =
    (a, b) match {
      case (Some(x), Some(y)) =>
        x.size == y.size && x.zip(y).forall { case (u, v) => same(u, v) }
      case _ => a == b
    }

  private def sparkPercentiles(df: DataFrame, keys: Seq[Column], x: String)
      : Map[Long, Option[Seq[Double]]] =
    df.groupBy(keys: _*).agg(percentile(col(x), array(ps.map(lit): _*)))
      .collect().map { r =>
        val q = r.length - 1
        (if (keys.isEmpty) 0L else r.getLong(0)) ->
          Option.unless(r.isNullAt(q))(r.getSeq[Double](q))
      }.toMap

  test("the collector equals Spark's percentile bit for bit, per bin and " +
      "global, for double, float, int and decimal columns") {
    (1 to 4).foreach { seed =>
      val df = sample(seed).cache()
      Seq("d", "f", "i", "m").foreach { x =>
        val grouped = Quantiles.exactSample(df, col("bin"), col(x),
          maxRows = 100000).percentiles(ps).get
        val want = sparkPercentiles(df, Seq(col("bin")), x)
        assert(grouped.keySet == want.keySet, s"seed $seed $x")
        assert(grouped(7L).isEmpty && grouped(8L).nonEmpty)
        want.foreach { case (k, q) =>
          assert(sameAll(grouped(k), q), s"seed $seed $x bin $k: " +
            s"${grouped(k)} vs $q")
        }
        val global = Quantiles.exactSample(df, lit(0L), col(x),
          maxRows = 100000).percentiles(ps).get
        assert(sameAll(global(0L), sparkPercentiles(df, Nil, x)(0L)),
          s"seed $seed $x global")
      }
      df.unpersist()
    }
  }

  test("a zero at the percentile keeps the collector's sign, -0.0 first") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(0L, 0.0), Row(0L, -0.0), Row(0L, 0.0), Row(0L, 1.0)), 2),
      StructType(Seq(StructField("bin", LongType),
        StructField("x", DoubleType))))
    val got = Quantiles.exactSample(df, col("bin"), col("x"), maxRows = 10)
      .percentiles(Seq(0.0, 0.5)).get(0L).get
    assert(got.map(java.lang.Double.doubleToRawLongBits) ==
      Seq(-0.0, 0.0).map(java.lang.Double.doubleToRawLongBits))
  }

  test("sample buffers: a partition keeps values up to its share, past " +
      "it only the count") {
    def filled(share: Int, bin: Long, xs: Double*) = {
      val s = new Quantiles.Sample(share)
      xs.foreach(v => s.add(InternalRow(bin, v)))
      s
    }
    // a partition past its share keeps the count and its bins; a merge
    // with it drops the other part's pairs too
    val over = filled(2, 1L, 1.0, 2.0, 3.0).merge(filled(5, 2L, 4.0, 5.0))
    assert(over.rows == 5)
    assert(over.bins.map(_.toSet) == Some(Set(1L, 2L)))
    assert(over.percentiles(Seq(0.5)).isEmpty)
    // past its share of bins it drops the bins as well
    val wide = new Quantiles.Sample(2)
    Seq(1L, 2L, 3L).foreach(k => wide.add(InternalRow(k, null)))
    assert(wide.rows == 3 && wide.bins.isEmpty)
    assert(filled(5, 4L, 1.0).merge(wide).bins.isEmpty)
    // partitions within their shares: the merge keeps every value, also
    // past any one share; a null row keeps its bin
    val under = filled(2, 1L, 3.0, 1.0).merge(filled(2, 1L, 2.0, 4.0))
      .merge(new Quantiles.Sample(1).add(InternalRow(3L, null)))
    assert(under.rows == 5)
    assert(under.percentiles(Seq(0.5, 1.0)) ==
      Some(Map(1L -> Some(Seq(2.5, 4.0)), 3L -> None)))
    // a task result carries the pairs and the bins, and only them
    val bytes = new java.io.ByteArrayOutputStream
    new java.io.ObjectOutputStream(bytes).writeObject(under)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[Quantiles.Sample]
    assert(back.percentiles(Seq(0.5, 1.0)) == under.percentiles(Seq(0.5, 1.0)))
    assert(back.bins.map(_.toSet) == Some(Set(1L, 3L)))
    assert(back.merge(filled(1, 1L, 9.0)).percentiles(Seq(0.5, 1.0)) ==
      Some(Map(1L -> Some(Seq(3.0, 9.0)), 3L -> None)))
  }

  test("the driver bound: a quarter of the result limit, an eighth of " +
      "the heap, at most maxExactRows") {
    val gib = 1L << 30
    assert(Quantiles.collectorRows(gib, 16 * gib, 100000000) == 11184810L)
    // no result limit: the heap bounds
    assert(Quantiles.collectorRows(0L, 16 * gib, 100000000) == 89478485L)
    assert(Quantiles.collectorRows(4 * gib, gib, Int.MaxValue) ==
      gib / 8 / Quantiles.Sample.bytesPerRow)
    assert(Quantiles.collectorRows(gib, 16 * gib, 1000) == 1000L)
  }

  test("task results stay within the driver bound: a sample past it, " +
      "a skewed one under it, and one that fits") {
    val cap = 1000
    val sc = spark.sparkContext
    /** (bin, x) rows, `sizes(p)` of them in partition p. */
    def sample(sizes: Int*): DataFrame = spark.createDataFrame(
      sc.parallelize(sizes.indices, sizes.size).flatMap { p =>
        val rnd = new scala.util.Random(p)
        Seq.fill(sizes(p))(Row(rnd.nextInt(3).toLong, rnd.nextGaussian()))
      },
      StructType(Seq(StructField("bin", LongType),
        StructField("x", DoubleType))))
    /** The estimate, its jobs, and the bytes of every task result. */
    def estimate(df: DataFrame) = {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val results = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.resultSize)
      }
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.addSparkListener(results)
      try {
        val ((q, approximated), _, jobs) = tools.Run.capture(spark)(
          Quantiles.guardedEstimate(df, Some(col("bin")), col("x"), ps,
            cap))
        (q, approximated, jobs, bytes.get)
      } finally sc.removeSparkListener(results)
    }
    // 4 × 900 rows, each partition under the cap: every one is over its
    // share (250), so only counts and bins reach the driver, not the
    // 3,600 pairs (57.6 KB)
    val (_, sketched, _, overBytes) = estimate(sample(900, 900, 900, 900))
    assert(sketched)
    assert(overBytes <= cap * Quantiles.Sample.bytesPerRow, overBytes)
    // 800 rows, one partition over its share: the exact aggregate runs
    // on the executors, in a second job
    val skewed = sample(100, 100, 100, 500)
    val (q, approx, jobs, skewBytes) = estimate(skewed)
    assert(!approx && jobs >= 2)
    assert(skewBytes <= cap * Quantiles.Sample.bytesPerRow, skewBytes)
    assert(q.keySet == sparkPercentiles(skewed, Seq(col("bin")), "x").keySet)
    sparkPercentiles(skewed, Seq(col("bin")), "x").foreach { case (k, w) =>
      assert(sameAll(q(k), w), s"bin $k: ${q(k)} vs $w")
    }
    // 800 rows, every partition within its share: one job, on the driver
    val fits = sample(200, 200, 200, 200)
    val (qf, approxF, jobsF, fitBytes) = estimate(fits)
    assert(!approxF && jobsF == 1)
    assert(fitBytes >= 800 * 16 &&
      fitBytes <= cap * Quantiles.Sample.bytesPerRow, fitBytes)
    sparkPercentiles(fits, Seq(col("bin")), "x").foreach { case (k, w) =>
      assert(sameAll(qf(k), w), s"bin $k: ${qf(k)} vs $w")
    }
  }
}
