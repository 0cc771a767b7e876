package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.calib.PhotonCalib
import graft.stats.Hist
import graft.traces.Dsp
import graft.vibration.{Estimators, MomentAggregator, Moments}

/** The spectra stage of the analysis session: per-trace DSP on
  * two-channel raw traces into one mergeable moment aggregate, transfer
  * function estimates, and a photon-calibration fit of the pulse-height
  * spectrum. Compute-bound, with few Spark jobs: a kernel or aggregator
  * gain shows here, a cut in job count does not.
  *
  * Input: two-channel 1024-sample traces. Channel 2 is a planted gain
  * times channel 1's vibration line, plus independent noise; channel 1
  * also carries a pulse whose height follows a Poisson comb with a
  * planted spacing. */
object Spectra {
  val Events = 2048
  val Parts = 8
  val N = 1024
  val NFreq = N / 2 + 1
  val Fs = 1.0e5
  val KLine = 307 // the vibration line sits exactly on this rfft bin
  val LineAmp = 0.5
  val Gain = 0.6
  val Noise = 0.05
  val PulseT0 = 256
  val Spacing = 1.0
  val AmpSigma = 0.05
  val Lambda = 1.5
  val PhotonEv = 1.0
  val LowpassHz = Fs / 16
  val PeakWindow = 64
  val AmpBins = 200
  val AmpLo = -0.5
  val AmpHi = 9.5
  val NPeaks = 8
  val MinPeakBin = 8 // below this the pulses' own spectrum dominates

  private val schema = StructType(Seq(
    StructField("event_number", LongType),
    StructField("trace_ch1", ArrayType(DoubleType, containsNull = false)),
    StructField("trace_ch2", ArrayType(DoubleType, containsNull = false))))

  private val pulse: Array[Double] = {
    val raw = Array.tabulate(N)(j =>
      if (j < PulseT0) 0.0
      else (1 - math.exp(-(j - PulseT0) / 8.0)) * math.exp(-(j - PulseT0) / 80.0))
    raw.map(_ / raw.max)
  }

  private def poisson(rng: SplittableRandom, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0
    var p = rng.nextDouble()
    while (p > l) { k += 1; p *= rng.nextDouble() }
    k
  }

  private def part(seed: Long, p: Int): Iterator[Row] = {
    val rng = new SplittableRandom(seed * 7919L + p)
    val per = Events / Parts
    Iterator.range(p * per, (p + 1) * per).map { e =>
      val phase = rng.nextDouble() * 2 * math.Pi
      val amp = poisson(rng, Lambda) * Spacing + AmpSigma * rng.nextGaussian()
      val ch1 = new Array[Double](N)
      val ch2 = new Array[Double](N)
      var j = 0
      while (j < N) {
        val line = LineAmp * math.cos(2 * math.Pi * KLine * j / N + phase)
        ch1(j) = line + amp * pulse(j) + Noise * rng.nextGaussian()
        ch2(j) = Gain * line + Noise * rng.nextGaussian()
        j += 1
      }
      Row(e.toLong, ch1.toSeq, ch2.toSeq)
    }
  }

  /** Writes the traces under `path`; returns the rows written. */
  def generate(spark: SparkSession, path: String, seed: Long): Long = {
    spark.createDataFrame(spark.sparkContext.parallelize(0 until Parts, Parts)
      .flatMap(p => part(seed, p)), schema)
      .write.parquet(path)
    Events.toLong
  }

  final class Batch(spark: SparkSession, path: String) {
    import spark.implicits._
    private val df = spark.read.parquet(path)
    private var amps: Option[DataFrame] = None

    def run(ctx: RunCtx): Unit = {
      val line = ctx.op("spectra", "psd") {
        ctx.layer("traces.Dsp.psdUdf") {
          val psd = Dsp.psdUdf(Fs)
          df.select(psd(col("trace_ch1")).as("p1"), psd(col("trace_ch2")).as("p2"))
            .agg(avg(element_at(col("p1"), KLine + 1)),
              avg(element_at(col("p2"), KLine + 1)), count(lit(1)))
            .head()
        }
      } { r => Check(r.getLong(2) == Events, s"psd over ${r.getLong(2)} events") }

      val mo: Moments = ctx.op("spectra", "moments") {
        ctx.layer("vibration.MomentAggregator.aggregate") {
          val spectrum = Dsp.scaledSpectrumUdf(Fs)
          df.select(array(spectrum(col("trace_ch1")), spectrum(col("trace_ch2"))))
            .as[Seq[Seq[Double]]]
            .select(new MomentAggregator(2, NFreq).toColumn)
            .head()
        }
      } { mo =>
        Check(mo.n == Events, s"Moments.n = ${mo.n}, traces = $Events")
        // the aggregate and the per-trace PSDs are two paths to one number
        Check.close(mo.sRe(0, 0, KLine), line.getDouble(0), 1e-9, "ch1 PSD at the line")
        Check.close(mo.sRe(1, 1, KLine), line.getDouble(1), 1e-9, "ch2 PSD at the line")
      }

      ctx.op("spectra", "estimate") {
        val p = ctx.layer("vibration.Estimators.psd") { Estimators.psd(mo, 0) }
        val v = ctx.layer("vibration.Estimators.psdVariance") {
          Estimators.psdVariance(mo, 0)
        }
        val (h, _) = ctx.layer("vibration.Estimators.tfRmsRatio") {
          Estimators.tfRmsRatio(mo, 1, 0)
        }
        val (hx, _, _) = ctx.layer("vibration.Estimators.tfCross") {
          Estimators.tfCross(mo, 1, 0)
        }
        (p, v, h, hx)
      } { case (p, v, h, hx) =>
        val peak = (MinPeakBin until NFreq).maxBy(k => p(k))
        Check(peak == KLine, s"PSD peaks at bin $peak, the line is at $KLine")
        Check(v(KLine) > 0, "PSD variance at the line")
        Check.close(h(KLine), Gain, 0.01, "tfRmsRatio at the line")
        Check.close(hx(KLine), Gain, 0.01, "tfCross at the line")
      }

      val a = ctx.op("spectra", "amplitude") {
        ctx.layer("traces.Dsp.lowpassUdf") {
          val lp = Dsp.lowpassUdf(LowpassHz, Fs)
          val a = df.select(lp(col("trace_ch1")).as("lp"))
            .select((array_max(slice(col("lp"), PulseT0 + 1, PeakWindow)) -
              Dsp.baseline(col("lp"), 32, PulseT0 - 32)).as("amp"))
            .persist()
          amps = Some(a)
          Materialize.noop(a)
          a
        }
      } { _ => () }

      val counts = ctx.op("spectra", "histogram") {
        ctx.layer("stats.Hist.hist1d") {
          Hist.dense1d(Hist.hist1d(a, col("amp"), AmpBins, AmpLo, AmpHi), AmpBins)
        }
      } { c => Check(c.sum == Events, s"histogram holds ${c.sum} of $Events") }

      ctx.op("spectra", "calibrate") {
        val centers = Array.tabulate(AmpBins)(b =>
          AmpLo + (b + 0.5) * (AmpHi - AmpLo) / AmpBins)
        val y = counts.map(_.toDouble)
        val fit = ctx.layer("calib.PhotonCalib.fitSpectrum") {
          PhotonCalib.fitSpectrum(centers, y,
            Array(y.max * 3, 0.05, 1.1 * Spacing, 0.08, 1.2), NPeaks)
        }
        val res = ctx.layer("calib.PhotonCalib.energyResolution") {
          PhotonCalib.energyResolution(fit, PhotonEv)
        }
        (fit, res)
      } { case (fit, (res, err)) =>
        Check.close(fit.params(2), Spacing, 0.05, "comb spacing")
        Check.close(math.abs(fit.params(4)), Lambda, 0.1, "comb Poisson mean")
        Check(res > 0 && res < 0.2 * PhotonEv && err > 0,
          s"energy resolution $res +- $err")
      }
    }

    def cleanup(): Unit = {
      amps.foreach(_.unpersist(blocking = true))
      amps = None
    }
  }
}
