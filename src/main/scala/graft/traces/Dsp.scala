package graft.traces

import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.jtransforms.fft.DoubleFFT_1D
import graft.functions.Kernel

/** Signal-processing kernels over trace arrays (SURVEY §2.10 K1-K3).
  *
  * Reference uses scipy/numpy FFTs (`photon_calibration.py:15,1363-1401`,
  * `vibration_analyzer.py:344-357`) and qetpy's 2nd-order Butterworth
  * low-pass (`analyzer.py:880-886`). Here: JTransforms (ships with Spark)
  * for the FFTs, and a direct-form biquad for the filter. All functions
  * are pure and deterministic; [[Psd]], [[Lowpass]] and
  * [[ScaledSpectrum]] run them per trace as codegen'd kernels.
  */
object Dsp {

  /** One JTransforms plan per length per thread: a plan's twiddle tables
    * cost about as much to build as one transform of a short trace, and
    * a plan is not shared across threads. */
  private val plans = ThreadLocal.withInitial[mutable.HashMap[Int, DoubleFFT_1D]](
    () => mutable.HashMap.empty)
  private def plan(n: Int): DoubleFFT_1D =
    plans.get.getOrElseUpdate(n, new DoubleFFT_1D(n))

  /** [[onesidedScale]] built once per (n, fs); callers only read it. */
  private val scales =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()
  private def scale(n: Int, fs: Double): Array[Double] =
    scales.computeIfAbsent((n, fs), _ => onesidedScale(n, fs))

  /** Real-input FFT → (re, im) arrays of length n/2+1 (numpy rfft). */
  def rfft(x: Array[Double]): (Array[Double], Array[Double]) = {
    val n = x.length
    // complexForward on an interleaved buffer: simple, unambiguous layout
    val buf = Array.ofDim[Double](2 * n)
    var i = 0
    while (i < n) { buf(2 * i) = x(i); i += 1 }
    plan(n).complexForward(buf)
    val m = n / 2 + 1
    val re = Array.ofDim[Double](m)
    val im = Array.ofDim[Double](m)
    var k = 0
    while (k < m) { re(k) = buf(2 * k); im(k) = buf(2 * k + 1); k += 1 }
    (re, im)
  }

  /** Inverse of [[rfft]] for a hermitian half-spectrum → real signal of
    * length n (numpy irfft). */
  def irfft(re: Array[Double], im: Array[Double], n: Int): Array[Double] = {
    val buf = Array.ofDim[Double](2 * n)
    val m = n / 2 + 1
    var k = 0
    while (k < m) {
      buf(2 * k) = re(k); buf(2 * k + 1) = im(k)
      if (k > 0 && k < n - k) { // hermitian mirror
        buf(2 * (n - k)) = re(k); buf(2 * (n - k) + 1) = -im(k)
      }
      k += 1
    }
    plan(n).complexInverse(buf, true)
    Array.tabulate(n)(i => buf(2 * i))
  }

  /** rfft bin frequencies (numpy rfftfreq). */
  def rfftfreq(n: Int, fs: Double): Array[Double] =
    Array.tabulate(n / 2 + 1)(k => k * fs / n)

  /** One-sided PSD-normalized spectrum scale: interior bins 2/(fs·n),
    * DC and Nyquist 1/(fs·n) (`vibration_analyzer.py:349-357`). Returns
    * the per-bin sqrt-scale to apply to rfft amplitudes so that
    * |a|² integrates to the PSD. */
  def onesidedScale(n: Int, fs: Double): Array[Double] = {
    val m = n / 2 + 1
    Array.tabulate(m) { k =>
      val full = if (k == 0 || (n % 2 == 0 && k == m - 1)) 1.0 else 2.0
      math.sqrt(full / (fs * n))
    }
  }

  /** One-sided PSD of a single trace: |rfft|² · scale²  (K2). */
  def psd(x: Array[Double], fs: Double): Array[Double] = {
    val (re, im) = rfft(x)
    val s = scale(x.length, fs)
    Array.tabulate(re.length)(k => (re(k) * re(k) + im(k) * im(k)) * s(k) * s(k))
  }

  /** 2nd-order Butterworth low-pass (bilinear transform), zero-phase not
    * applied — matches scipy `butter(2, cutoff)` + `lfilter` as used by
    * qetpy's `lowpassfilter` (K3). */
  def butterworthLowpass(x: Array[Double], cutoff: Double, fs: Double)
      : Array[Double] = {
    val wc = math.tan(math.Pi * cutoff / fs)
    val k1 = math.sqrt(2.0) * wc
    val k2 = wc * wc
    val a0 = 1.0 + k1 + k2
    val b0 = k2 / a0
    val b1 = 2.0 * b0
    val b2 = b0
    val a1 = 2.0 * (k2 - 1.0) / a0
    val a2 = (1.0 - k1 + k2) / a0
    val y = Array.ofDim[Double](x.length)
    var x1 = 0.0; var x2 = 0.0; var y1 = 0.0; var y2 = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i)
      val yi = b0 * xi + b1 * x1 + b2 * x2 - a1 * y1 - a2 * y2
      y(i) = yi
      x2 = x1; x1 = xi; y2 = y1; y1 = yi
      i += 1
    }
    y
  }

  /** PSD-scaled half-spectrum, interleaved [re0,im0,re1,im1,…] — the
    * preprocessing step feeding [[graft.vibration.MomentAggregator]]. */
  def scaledSpectrum(x: Array[Double], fs: Double): Array[Double] = {
    val (re, im) = rfft(x)
    val s = scale(x.length, fs)
    val out = Array.ofDim[Double](2 * re.length)
    var k = 0
    while (k < re.length) {
      out(2 * k) = re(k) * s(k); out(2 * k + 1) = im(k) * s(k); k += 1
    }
    out
  }

  /** A trace's samples, unboxed. A null sample is an error that names
    * the kernel: no spectrum or filter is defined over a gap. */
  private[traces] def samples(trace: ArrayData, kernel: String): Array[Double] = {
    val n = trace.numElements()
    var i = 0
    while (i < n) {
      if (trace.isNullAt(i)) throw new IllegalArgumentException(
        s"$kernel: null sample at index $i of a trace")
      i += 1
    }
    trace.toDoubleArray()
  }

  // ------------------------------------------------ column functions

  /** K2 as a column function: trace → one-sided PSD array. */
  def psdUdf(fs: Double): Column => Column = Psd(_, fs)

  /** K3 as a column function. */
  def lowpassUdf(cutoff: Double, fs: Double): Column => Column =
    Lowpass(_, cutoff, fs)

  /** [[scaledSpectrum]] as a column function. */
  def scaledSpectrumUdf(fs: Double): Column => Column = ScaledSpectrum(_, fs)

  // --------------------------------------------- declarative array helpers

  /** W5: sub-window slice of a trace column (1-based start). */
  def window(trace: Column, start: Int, len: Int): Column =
    slice(trace, start, len)

  /** Baseline from a pre-trigger window [i0, i1) (0-based, numpy-style,
    * `analyzer.py:847,1018` `baselineinds=(5,100)`), as a codegen'd
    * higher-order-function mean — no UDF. */
  def baseline(trace: Column, i0: Int, i1: Int): Column =
    aggregate(slice(trace, i0 + 1, i1 - i0), lit(0.0),
      (acc, x) => acc + x) / (i1 - i0)

  /** Baseline-subtracted trace (S5's `baselinesub`). The baseline mean is
    * hoisted through a single-element array so it is computed ONCE per
    * trace, not re-evaluated inside the per-sample lambda (HOF lambdas
    * get no loop-invariant hoisting — inlining `baseline` there would be
    * O(n·window) per row). */
  def baselineSubtract(trace: Column, i0: Int, i1: Int): Column =
    transform(
      array(baseline(trace, i0, i1)),
      b => transform(trace, x => x - b)).getItem(0)
}

/** The per-trace DSP kernels over `array<double>` ([[graft.functions.Kernel]]):
  * the samples are read unboxed with `toDoubleArray` and the result is
  * written with `UnsafeArrayData.fromPrimitiveArray`. A null trace gives
  * null; a null sample fails with the kernel's name. */
object Psd extends Kernel("psd", Seq(ArrayType(DoubleType)),
    ArrayType(DoubleType, containsNull = false)) {
  def apply(trace: Column, fs: Double): Column = call(trace)(fs)
  def compute(trace: ArrayData, fs: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Dsp.psd(Dsp.samples(trace, name), fs))
}

object Lowpass extends Kernel("lowpass", Seq(ArrayType(DoubleType)),
    ArrayType(DoubleType, containsNull = false)) {
  def apply(trace: Column, cutoff: Double, fs: Double): Column =
    call(trace)(cutoff, fs)
  def compute(trace: ArrayData, cutoff: Double, fs: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Dsp.butterworthLowpass(Dsp.samples(trace, name), cutoff, fs))
}

object ScaledSpectrum
    extends Kernel("scaled_spectrum", Seq(ArrayType(DoubleType)),
    ArrayType(DoubleType, containsNull = false)) {
  def apply(trace: Column, fs: Double): Column = call(trace)(fs)
  def compute(trace: ArrayData, fs: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Dsp.scaledSpectrum(Dsp.samples(trace, name), fs))
}
