package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{CombineMode, Cut, EventTable}
import graft.cuts.{CutPars, MasterCuts, SemiAutoCut}
import graft.stats.Hist
import graft.traces.TraceStore

/** `analysis_session`: a scripted analyst session over a detector event
  * table — the library's core use. Many small Spark jobs with driver-side
  * estimation between them: it loads the table, estimates sigma,
  * randoms-conditioned percentile, time-binned and rate cuts, registers
  * and combines them, freezes the selection, looks at passage fractions
  * and histograms under the cuts, and pulls the raw traces of the top
  * events. It ends with the [[Spectra]] stage: vibration moments,
  * transfer functions and a photon-calibration fit over raw traces.
  *
  * Input: 8 series in 16 parquet files (2 channels x 8 RQ columns), about
  * 20% randoms (`trigger_type` 3.0), a baseline that drifts with time,
  * planted baseline outliers and one rate burst; a trace store keyed by
  * (series_number, event_number); and the spectra stage's traces. */
object AnalysisSession extends Workload {
  val name = "analysis_session"
  val itemName = "events"

  val Files = 16
  val EventsPerFile = 2500
  val SeriesS = 3600.0
  val TotalS = SeriesS * Files / 2
  val RandomsFrac = 0.2
  val OutlierFrac = 0.005
  val BaselineMean = 0.25
  val BaselineDrift = 0.01 // over the whole run
  val BaselineSigma = 0.002
  val OutlierShift = 0.05
  val OutlierFloor = 0.28 // above every normal baseline, below every outlier
  val Chi2Mean = 1000.0
  val Chi2Sigma = 50.0
  val Chi2P95 = Chi2Mean + 1.6448536269514722 * Chi2Sigma
  val RateBinS = 60.0
  val RateBins = (TotalS / RateBinS).toInt
  val BurstT0 = 3 * SeriesS + 20 * RateBinS // one whole rate bin
  val BurstEvents = 1000
  val TimeBins = 48
  val TraceLen = 32
  val FetchN = 16
  val Channels = Seq("ch1", "ch2")
  val Rqs = Seq("amp_of1x1_nodelay", "amp_of1x1_constrained",
    "t0_of1x1_constrained", "lowchi2_of1x1_nodelay", "chi2_of1x1_nodelay",
    "baseline", "energy_absorbed", "slope")
  val NEvents: Long = Files.toLong * EventsPerFile + BurstEvents

  private val eventSchema = StructType(Seq(
    StructField("series_number", LongType), StructField("event_number", LongType),
    StructField("dump_number", LongType), StructField("trigger_type", DoubleType),
    StructField("event_time", DoubleType)) ++
    (for (ch <- Channels; rq <- Rqs) yield StructField(s"${rq}_$ch", DoubleType)))

  private val traceSchema = StructType(Seq(
    StructField("series_number", LongType), StructField("event_number", LongType),
    StructField("channel", StringType),
    StructField("trace", ArrayType(DoubleType, containsNull = false))))

  private val pulse: Array[Double] = {
    val raw = Array.tabulate(TraceLen)(j =>
      if (j < 8) 0.0 else (1 - math.exp(-(j - 8) / 2.0)) * math.exp(-(j - 8) / 8.0))
    raw.map(_ / raw.max)
  }

  /** The events of file `f` (series f/2, half f%2), sorted by time. */
  private def events(seed: Long, f: Int): Array[Row] = {
    val rng = new SplittableRandom(seed * 1000003L + f)
    val (series, half) = (f / 2, f % 2)
    val t0 = series * SeriesS + half * SeriesS / 2
    val burst = series == 3 && half == 0
    val times =
      (Array.fill(EventsPerFile)((t0 + rng.nextDouble() * SeriesS / 2, false)) ++
        (if (burst) Array.fill(BurstEvents)(
          (BurstT0 + rng.nextDouble() * RateBinS, true)) else Array.empty))
        .sortBy(_._1)
    times.zipWithIndex.map { case ((t, inBurst), i) =>
      val randoms = !inBurst && rng.nextDouble() < RandomsFrac
      val outlier = rng.nextDouble() < OutlierFrac
      val rqs = Channels.zipWithIndex.flatMap { case (_, c) =>
        val scale = 1.0 - 0.1 * c
        val amp =
          if (randoms) 0.02 * rng.nextGaussian()
          else -math.log(1 - rng.nextDouble()) * scale
        val lowchi2 = Chi2Mean + Chi2Sigma * rng.nextGaussian() *
          (if (!randoms && rng.nextDouble() < 0.03) 2.5 else 1.0)
        val baseline = BaselineMean + BaselineDrift * t / TotalS +
          BaselineSigma * rng.nextGaussian() + (if (outlier) OutlierShift else 0.0)
        Seq(amp, amp * 0.98 + 0.005 * rng.nextGaussian(), 2e-6 * rng.nextGaussian(),
          lowchi2, lowchi2 * 1.1 + 5 * rng.nextGaussian(), baseline,
          amp * 3.1 + 0.01 * rng.nextGaussian(), 1e-4 * rng.nextGaussian())
      }
      Row.fromSeq(Seq[Any](90000000L + series, half * 1000000L + i, half.toLong,
        if (randoms) 3.0 else 1.0, t) ++ rqs)
    }
  }

  /** One row per (event, channel): the pulse scaled by the event's
    * amplitude, plus noise. */
  private def traces(seed: Long, f: Int): Iterator[Row] = {
    val rng = new SplittableRandom(seed * 1000003L + f + 7919L * Files)
    val ampAt = Channels.map(ch => eventSchema.fieldIndex(s"amp_of1x1_nodelay_$ch"))
    events(seed, f).iterator.flatMap { e =>
      Channels.zip(ampAt).map { case (ch, ai) =>
        val a = e.getDouble(ai)
        Row(e.getLong(0), e.getLong(1), ch,
          pulse.map(p => a * p + 0.01 * rng.nextGaussian()).toSeq)
      }
    }
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Long = {
    val sc = spark.sparkContext
    spark.createDataFrame(
      sc.parallelize(0 until Files, Files).flatMap(f => events(seed, f)), eventSchema)
      .write.parquet(s"$dir/events")
    spark.createDataFrame(
      sc.parallelize(0 until Files, Files).flatMap(f => traces(seed, f)), traceSchema)
      .write.parquet(s"$dir/traces")
    NEvents * (1 + Channels.size) + Spectra.generate(spark, s"$dir/spectra", seed)
  }

  def prepare(spark: SparkSession, dir: String): Prepared =
    new Session(spark, dir)

  private final class Session(spark: SparkSession, dir: String) extends Prepared {
    val items: Long = NEvents
    override val stageItems = Seq(("spectra", "traces", Spectra.Events * 2L))
    private val uid = Seq("series_number", "event_number")
    // the one-time preparation: open the event table and the trace store
    private val table0 = EventTable.load(spark, Seq(s"$dir/events"), uid)
    private val store = spark.read.parquet(s"$dir/traces")
    private val spectra = new Spectra.Batch(spark, s"$dir/spectra")
    require(table0.full.columns.length == eventSchema.length + 1)

    /** Reference results of the first run, which later runs must equal. */
    private val reference = mutable.HashMap[String, Seq[String]]()
    /** Filtered row counts the histogram sums must equal. */
    private val filtered = mutable.HashMap[String, Long]()
    private var frozen: Option[DataFrame] = None

    private def same(label: String, rows: Seq[Row]): Unit = {
      val got = Stats.canonical(rows)
      val want = reference.getOrElseUpdate(label, got)
      Check(got == want, s"$label differs from the first run")
    }

    private val randoms = Cut.Pred(col("trigger_type") === 3.0)
    private val physics = Cut.Pred(col("trigger_type") === 1.0)

    def run(ctx: RunCtx): Unit = {
      val t0 = ctx.op("load", "load") {
        ctx.layer("core.EventTable.load") {
          EventTable.load(spark, Seq(s"$dir/events"), uid)
        }
      } { t => Check(t.full.columns.toSeq == table0.full.columns.toSeq,
        "loaded columns differ") }

      // --- cut estimation
      val sigma = Channels.map { ch =>
        ch -> ctx.op("cut", s"sigma_baseline_$ch") {
          ctx.layer("cuts.SemiAutoCut.thresholds") {
            SemiAutoCut.thresholds(t0.view, s"baseline_$ch", CutPars(sigma = Some(3.0)))
          }
        } { t =>
          Check(t.lower.exists(_ < BaselineMean) &&
            t.upper.exists(_ > BaselineMean + BaselineDrift), s"sigma cut $t " +
            "does not cover the baseline's drift")
          Check(t.upper.exists(_ < OutlierFloor), s"sigma cut $t keeps outliers")
        }
      }.toMap
      val chi2 = Channels.map { ch =>
        ch -> ctx.op("cut", s"randoms_p95_lowchi2_$ch") {
          ctx.layer("cuts.SemiAutoCut.thresholds") {
            SemiAutoCut.thresholds(t0.filter(randoms), s"lowchi2_of1x1_nodelay_$ch",
              CutPars(percentUpper = Some(95.0)))
          }
        } { t =>
          Check(t.lower.isEmpty && t.upper.isDefined, s"percentile cut $t")
          Check.close(t.upper.get, Chi2P95, 0.01, s"randoms p95 of lowchi2_$ch")
        }
      }.toMap

      var df = t0.full
      Channels.foreach { ch =>
        val cut = s"cut_bbaseline_$ch"
        val base = col(s"baseline_$ch")
        df = ctx.op("cut", s"binned_baseline_$ch") {
          ctx.layer("cuts.SemiAutoCut.binnedCut") {
            val out = SemiAutoCut.binnedCut(df, s"baseline_$ch",
              Hist.bucket(col("event_time"), 0.0, TotalS, TimeBins),
              CutPars(sigma = Some(3.0)), cut)
            val r = out.agg(count(lit(1)), sum(col(cut).cast("long")),
              sum((col(cut) && base > OutlierFloor).cast("long"))).head()
            (out, r.getLong(0), r.getLong(1), r.getLong(2))
          }
        } { case (_, n, pass, passOutliers) =>
          Check(n == NEvents, s"$cut saw $n events")
          Check(passOutliers == 0, s"$cut keeps $passOutliers outliers")
          Check(pass >= 0.98 * n, s"$cut keeps only $pass of $n")
        }._1
      }
      df = ctx.op("cut", "rate") {
        ctx.layer("cuts.SemiAutoCut.rateCut") {
          val out = SemiAutoCut.rateCut(df, col("event_time"), 0.0, TotalS, RateBins,
            col("trigger_type") === 1.0, Right(("sigma", 5.0)), "cut_rate")
          val r = out.filter(!col("cut_rate"))
            .agg(count(lit(1)), min("event_time"), max("event_time")).head()
          (out, r.getLong(0), Option(r.get(1)), Option(r.get(2)))
        }
      } { case (_, nCut, lo, hi) =>
        Check(nCut >= BurstEvents, s"rate cut removes $nCut events")
        Check(lo.exists(_.asInstanceOf[Double] >= BurstT0) &&
          hi.exists(_.asInstanceOf[Double] <= BurstT0 + RateBinS),
          s"rate cut removes events in [$lo, $hi], outside the burst bin")
      }._1

      // --- register, combine, freeze
      var et = EventTable(df)
      Channels.foreach { ch =>
        et = ctx.layer("core.EventTable.registerCut") {
          et.registerCut(s"cut_baseline_$ch",
            Cut.Pred(sigma(ch).predicate(col(s"baseline_$ch"))))
        }
        et = ctx.layer("core.EventTable.registerCut") {
          et.registerCut(s"cut_chi2_$ch",
            Cut.Pred(chi2(ch).predicate(col(s"lowchi2_of1x1_nodelay_$ch"))))
        }
      }
      val cuts = Channels.flatMap(ch =>
        Seq(s"cut_baseline_$ch", s"cut_chi2_$ch", s"cut_bbaseline_$ch")) :+ "cut_rate"
      et = ctx.layer("core.EventTable.combineCuts") {
        et.combineCuts("cut_all", cuts, CombineMode.And)
      }
      val m = ctx.op("cut", "materialize") {
        ctx.layer("core.EventTable.materialize") {
          val m = et.materialize()
          frozen = Some(m.full)
          Materialize.noop(m.full)
          m
        }
      } { _ => () }

      // --- views
      val all = Cut.Named("cut_all")
      def fraction(label: String, cut: Cut, cond: Cut)(check: Double => Unit) =
        ctx.op("view", label) {
          ctx.layer("core.EventTable.passageFraction") {
            m.passageFraction(cut, cond).collect().toSeq
          }
        } { rows =>
          same(label, rows)
          val f = rows.head.getDouble(0)
          Check(f > 0 && f <= 1, s"$label = $f")
          check(f)
        }
      def histSum(label: String, rows: Seq[Row], countOf: => Long): Unit = {
        same(label, rows)
        val got = rows.map(_.getAs[Long]("cnt")).sum
        val want = filtered.getOrElseUpdate(label, countOf)
        Check(got == want, s"$label sums to $got, filtered count is $want")
      }
      fraction("pf_all_randoms", all, randoms)(_ => ())
      Channels.foreach { ch =>
        fraction(s"pf_chi2_$ch", Cut.Named(s"cut_chi2_$ch"), randoms)(f =>
          Check(math.abs(f - 0.95) < 0.01, s"cut_chi2_$ch passes $f of randoms"))
      }
      fraction("pf_rate_physics", Cut.Named("cut_rate"), physics)(f =>
        Check(f < 1.0, "the rate cut passes every physics event"))
      for (ch <- Channels; (cutLabel, cut) <- Seq("none" -> Cut.All, "all" -> all)) {
        val amp = col(s"amp_of1x1_nodelay_$ch")
        val label = s"hist_amp_${ch}_$cutLabel"
        ctx.op("view", label) {
          ctx.layer("stats.Hist.hist1d") {
            Hist.hist1d(m.filter(cut), amp, 100, 0.0, 5.0).collect().toSeq
          }
        } { rows => histSum(label, rows,
          m.filter(cut).filter(amp >= 0.0 && amp <= 5.0).count()) }
      }
      Channels.foreach { ch =>
        val (x, y) = (col(s"amp_of1x1_nodelay_$ch"), col(s"lowchi2_of1x1_nodelay_$ch"))
        val label = s"hist2d_amp_lowchi2_$ch"
        ctx.op("view", label) {
          ctx.layer("stats.Hist.hist2d") {
            Hist.hist2d(m.filter(all), x, y, 50, 50, (0.0, 5.0), (800.0, 1200.0))
              .collect().toSeq
          }
        } { rows => histSum(label, rows, m.filter(all)
          .filter(x >= 0.0 && x <= 5.0 && y >= 800.0 && y <= 1200.0).count()) }
      }
      ctx.op("view", "hist_time_rate") {
        ctx.layer("stats.Hist.hist1d") {
          Hist.hist1d(m.filter(Cut.Named("cut_rate")), col("event_time"),
            RateBins, 0.0, TotalS).collect().toSeq
        }
      } { rows => histSum("hist_time_rate", rows,
        m.filter(Cut.Named("cut_rate")).count()) }
      ctx.op("view", "cumulative_pass_fractions") {
        ctx.layer("cuts.MasterCuts.cumulativePassFractions") {
          MasterCuts.cumulativePassFractions(m.full, cuts, col("trigger_type") === 3.0)
            .collect().toSeq
        }
      } { rows =>
        same("cumulative_pass_fractions", rows)
        val r = rows.head
        for (j <- cuts.indices; i <- j + 1 until cuts.size) {
          val (wider, narrower) =
            (r.getAs[Double](s"frac_${j}_${i - 1}"), r.getAs[Double](s"frac_${j}_$i"))
          Check(narrower <= wider, s"pass fraction rises from cut ${i - 1} to $i")
        }
      }

      // --- fetch the raw traces of the top events
      ctx.op("fetch", "fetch_top_traces") {
        ctx.layer("traces.TraceStore.fetch") {
          val keys = m.filter(all)
            .orderBy(desc("amp_of1x1_nodelay_ch1"), col("series_number"), col("event_number"))
            .limit(FetchN)
          TraceStore.fetch(store, keys, Channels, nbEventsLimit = FetchN)
            .select("series_number", "event_number", "channel", "trace")
            .collect().toSeq
        }
      } { rows =>
        Check(rows.size == FetchN * Channels.size, s"fetched ${rows.size} traces")
        Check(rows.forall(_.getSeq[Double](3).length == TraceLen), "trace length")
        same("fetch_top_traces", rows)
      }

      spectra.run(ctx)
    }

    override def cleanup(): Unit = {
      frozen.foreach(_.unpersist(blocking = true))
      frozen = None
      spectra.cleanup()
      Materialize.releaseAll(spark)
    }
  }
}
