package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, MapGroupsExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._
import graft.traces.TraceStore
import graft.stats.VectorStats

/** S5-S6, J2, W4-W5 trace store + A13/A14 vector aggregators. */
class TraceStoreSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def chunks(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1),
        r.getSeq[Double](2).toList))
      .sortBy(t => (t._1, t._2))
      .toSeq

  test("rechunk on the sorted-group operator matches the declarative rechunk") {
    // multiple channels, variable-length traces, shuffled input order,
    // multiple input partitions — the operator must still see each
    // channel as one ordered run (planner inserts exchange + sort)
    val rows = for {
      ch <- Seq("chA", "chB", "chC")
      i <- 0 until 9
    } yield (ch, i.toLong,
      (0 until 3 + (i * 7 + ch.length) % 4)
        .map(s => (i * 100 + s + ch.length).toDouble))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 5))
      .toDF("channel", "event_index", "trace")
    val viaScan = chunks(TraceStore.rechunk(df, chunkLen = 5))
    assert(viaScan.nonEmpty)
    assert(viaScan == chunks(TraceStore.rechunkDeclarative(df, chunkLen = 5)))
    // the plan shape: one hash exchange of the un-exploded rows feeds
    // the sorted-group node; no per-sample explode, no window
    val plan = TraceStore.rechunk(df, chunkLen = 5)
      .queryExecution.executedPlan
    val groups = collect(plan) { case m: MapGroupsExec => m }
    assert(groups.size == 1, plan)
    assert(collect(groups.head) { case e: ShuffleExchangeExec =>
      e.outputPartitioning.isInstanceOf[HashPartitioning] } == Seq(true),
      plan)
    assert(collect(plan) {
      case g: GenerateExec => g
      case w: WindowExecBase => w
    }.isEmpty, plan)
  }

  test("rechunk follows the declarative rule on null traces and channels") {
    // a null trace adds no samples; null channels form one channel
    val rows = Seq[(String, Long, Seq[Double])](
      ("chA", 0L, Seq(1.0, 2.0, 3.0)), ("chA", 1L, null),
      ("chA", 2L, Seq(4.0, 5.0)), ("chA", 3L, Seq(6.0, 7.0, 8.0)),
      (null, 0L, Seq(9.0, 10.0)), (null, 1L, null),
      (null, 2L, Seq(11.0, 12.0, 13.0)), (null, 3L, Seq(14.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3))
      .toDF("channel", "event_index", "trace")
    val got = chunks(TraceStore.rechunk(df, chunkLen = 2))
    assert(got.exists(_._1.isEmpty) && got.exists(_._1.contains("chA")))
    assert(got == chunks(TraceStore.rechunkDeclarative(df, chunkLen = 2)))
  }

  test("rechunk carries a trace many chunks long across partitions") {
    // one 10,000-sample trace between short ones, chunkLen 7: most
    // chunks are cut from inside one trace, the carry spans the seams
    val rows = (0 until 12).map { i =>
      val n = if (i == 5) 10000 else 3 + i % 5
      ("ch1", i.toLong, Seq.tabulate(n)(s => (i * 100000 + s).toDouble))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 4))
      .toDF("channel", "event_index", "trace")
    val got = chunks(TraceStore.rechunk(df, chunkLen = 7))
    assert(got.size == rows.map(_._3.size).sum / 7)
    assert(got == chunks(TraceStore.rechunkDeclarative(df, chunkLen = 7)))
  }
  import spark.implicits._

  private lazy val traces = (0 until 40).map { i =>
    (i.toLong % 4, i.toLong, i.toLong / 10, "ch1",
      Array.tabulate(16)(s => (i + s).toDouble), 1000.0, 8)
  }.toDF("series_number", "event_number", "dump_number", "channel",
    "trace", "sample_rate", "pretrigger_samples")

  test("fetch: broadcast key join with cap, window, baseline subtraction") {
    val keys = Seq((0L, 0L), (1L, 1L), (2L, 2L))
      .toDF("series_number", "event_number")
    val out = TraceStore.fetch(traces, keys, channels = Seq("ch1"),
      nbEventsLimit = 2, window = Some((4, 8)))
    assert(out.count() == 2) // L2 cap applied
    assert(out.select(size(col("trace"))).head.getInt(0) == 8)
    val bs = TraceStore.fetch(traces, keys, baselineSub = true,
      baselineInds = (0, 4))
    val tr = bs.orderBy("event_number").select("trace")
      .head.getSeq[Double](0)
    assert(math.abs(tr.take(4).sum) < 1e-9) // pre-trigger mean removed
  }

  test("fetchOne point lookup") {
    assert(TraceStore.fetchOne(traces, 1L, 0L, 1L).count() == 1)
  }

  test("stride keeps every Nth event") {
    assert(TraceStore.stride(traces, 4, "event_number").count() == 10)
  }

  test("W4 rechunk equals serial concat-and-chop with remainder dropped") {
    // variable-length traces: serial reference = flatten in order, chop
    val varTraces = (0 until 7).map { i =>
      (i.toLong, "ch1", Array.tabulate(5 + i % 3)(s => i * 100.0 + s))
    }.toDF("event_index", "channel", "trace")
    val chunkLen = 4
    val serial = (0 until 7)
      .flatMap(i => Array.tabulate(5 + i % 3)(s => i * 100.0 + s))
      .grouped(chunkLen).filter(_.size == chunkLen).toSeq
    val got = TraceStore.rechunk(varTraces, chunkLen)
      .orderBy("chunk_id").collect()
      .map(_.getSeq[Double](2).toSeq)
    assert(got.length == serial.length)
    got.zip(serial).foreach { case (g, s) => assert(g == s) }
  }

  test("A13 vector mean aggregator equals element-wise mean") {
    val ds = (0 until 30)
      .map(i => Array.tabulate(8)(d => i * 1.0 + d))
      .toDS().repartition(5)
    val agg = new VectorStats.VectorMean(8)
    val got = ds.select(udaf(agg).apply(col("value"))).as[Array[Double]]
      .head()
    val expected = Array.tabulate(8)(d => (0 until 30).map(_ * 1.0 + d).sum / 30)
    got.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("A14 complex ensemble: mean and stdcomplex") {
    // alternating ±1 real phasor → mean 0, E|z|² = 1 → std 1
    val ds = (0 until 20)
      .map(i => Seq(if (i % 2 == 0) 1.0 else -1.0, 0.0))
      .toDS().repartition(3)
    val agg = new VectorStats.ComplexMeanStd(1)
    val out = ds.select(udaf(agg).apply(col("value")).as("ce"))
      .select("ce.*").as[VectorStats.ComplexEnsemble].head()
    assert(out.n == 20)
    assert(math.abs(out.meanRe(0)) < 1e-12)
    assert(math.abs(out.stdComplex(0) - 1.0) < 1e-12)
  }
}
