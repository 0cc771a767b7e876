package graft.vibration

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Accumulated spectral moments over an ensemble of multi-channel
  * spectra (SURVEY A16): for channels i,j and frequency bin k
  *
  *   m_i(k)  = ⟨a_i(k)⟩                (mean phasor)
  *   S_ij(k) = ⟨a_i(k)·conj(a_j(k))⟩   (cross-spectral density, Hermitian)
  *   R_ij(k) = ⟨|a_i(k)|²·|a_j(k)|²⟩   (4th moment, for variances)
  *
  * Reference: `_process_one_trace` / `_accumulate_moments_continuous`
  * (`detanalysis/vibration_analyzer.py:126-460`, kernel `:326-372`) and
  * the sweep path `_moments_from_dataframe` (`:462-530`).
  *
  * Storage: S and R keep only the upper triangle (i ≤ j); S_ji = conj
  * S_ij. Arrays are flat, indexed [pair, freq].
  */
final case class Moments(
    n: Long,
    nCh: Int,
    nFreq: Int,
    m: Array[Double], // nCh * nFreq * 2, interleaved re/im
    s: Array[Double], // nPairs * nFreq * 2, interleaved re/im
    r: Array[Double]) { // nPairs * nFreq

  def nPairs: Int = nCh * (nCh + 1) / 2

  /** upper-triangle pair index for i ≤ j. */
  def pair(i: Int, j: Int): Int = {
    require(i <= j, "use conj for i > j")
    i * nCh - i * (i - 1) / 2 + (j - i)
  }

  def mRe(i: Int, k: Int): Double = m(2 * (i * nFreq + k))
  def mIm(i: Int, k: Int): Double = m(2 * (i * nFreq + k) + 1)

  /** S_ij(k); for i > j returns conj(S_ji). */
  def sRe(i: Int, j: Int, k: Int): Double =
    if (i <= j) s(2 * (pair(i, j) * nFreq + k))
    else s(2 * (pair(j, i) * nFreq + k))
  def sImRaw(i: Int, j: Int, k: Int): Double =
    if (i <= j) s(2 * (pair(i, j) * nFreq + k) + 1)
    else -s(2 * (pair(j, i) * nFreq + k) + 1)

  def rAt(i: Int, j: Int, k: Int): Double =
    if (i <= j) r(pair(i, j) * nFreq + k) else r(pair(j, i) * nFreq + k)
}

/** Mergeable moment accumulator. Input rows are per-event channel
  * spectra: `Seq[Seq[Double]]`, outer = channel (fixed order), inner =
  * interleaved [re0, im0, re1, im1, …] of length 2·nFreq (produced by
  * the [[graft.traces.ScaledSpectrum]] kernel
  * ([[graft.traces.Dsp.scaledSpectrumUdf]]) for the continuous path, or
  * assembled directly from `amp_real_<ch>`/`amp_imag_<ch>` columns for
  * the transducer-sweep path with nFreq = 1).
  *
  * The buffer is one flat Array[Double]: [count, m…, s…, r…]. `merge` is
  * element-wise addition → associative and commutative, so Spark's
  * partial aggregation (map-side combine + arbitrary merge order) is
  * exact up to float-sum reordering (property-tested).
  */
final class MomentAggregator(nCh: Int, nFreq: Int)
    extends Aggregator[Seq[Seq[Double]], Array[Double], Moments] {

  private val nPairs = nCh * (nCh + 1) / 2
  private val mLen = nCh * nFreq * 2
  private val sLen = nPairs * nFreq * 2
  private val rLen = nPairs * nFreq
  private val mOff = 1
  private val sOff = mOff + mLen
  private val rOff = sOff + sLen

  def zero: Array[Double] = Array.ofDim[Double](1 + mLen + sLen + rLen)

  def reduce(buf: Array[Double], event: Seq[Seq[Double]]): Array[Double] = {
    require(event.length == nCh, s"expected $nCh channels, got ${event.length}")
    val chans = event.map(_.toArray).toArray
    buf(0) += 1.0
    var k = 0
    while (k < nFreq) {
      var i = 0
      var p = 0
      while (i < nCh) {
        val ri = chans(i)(2 * k); val ii = chans(i)(2 * k + 1)
        buf(mOff + 2 * (i * nFreq + k)) += ri
        buf(mOff + 2 * (i * nFreq + k) + 1) += ii
        var j = i
        while (j < nCh) {
          val rj = chans(j)(2 * k); val ij = chans(j)(2 * k + 1)
          // a_i * conj(a_j)
          buf(sOff + 2 * (p * nFreq + k)) += ri * rj + ii * ij
          buf(sOff + 2 * (p * nFreq + k) + 1) += ii * rj - ri * ij
          buf(rOff + p * nFreq + k) += (ri * ri + ii * ii) * (rj * rj + ij * ij)
          p += 1; j += 1
        }
        i += 1
      }
      k += 1
    }
    buf
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def finish(buf: Array[Double]): Moments = {
    val n = if (buf(0) > 0) buf(0) else 1.0
    // direct division (not *1/n): bit-identical to sum/count semantics
    Moments(
      buf(0).toLong, nCh, nFreq,
      Array.tabulate(mLen)(i => buf(mOff + i) / n),
      Array.tabulate(sLen)(i => buf(sOff + i) / n),
      Array.tabulate(rLen)(i => buf(rOff + i) / n))
  }

  def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  def outputEncoder: Encoder[Moments] = Encoders.product[Moments]
}

/** Post-aggregation estimators (SURVEY K11/K12, A17) — pure driver math
  * over the small Moments struct. */
object Estimators {

  /** K12: PSD of channel i = diag of S (`calc_psd`,
    * `vibration_analyzer.py:649-742`). */
  def psd(mo: Moments, i: Int): Array[Double] =
    Array.tabulate(mo.nFreq)(k => mo.sRe(i, i, k))

  /** K12: Var(PSD) = (R_ii − S_ii²)/(N−1). */
  def psdVariance(mo: Moments, i: Int): Array[Double] =
    Array.tabulate(mo.nFreq) { k =>
      val sii = mo.sRe(i, i, k)
      if (mo.n > 1) (mo.rAt(i, i, k) - sii * sii) / (mo.n - 1) else 0.0
    }

  /** K12: ASD = sqrt(PSD), Var(ASD) ≈ Var(PSD)/(4·PSD) (delta method). */
  def asd(mo: Moments, i: Int): (Array[Double], Array[Double]) = {
    val p = psd(mo, i)
    val v = psdVariance(mo, i)
    (p.map(math.sqrt),
      p.zip(v).map { case (pi, vi) => if (pi > 0) vi / (4 * pi) else 0.0 })
  }

  /** A17: variance of the mean phasor: (⟨|a|²⟩ − |⟨a⟩|²)/(N−1)
    * (`_variance_of_mean`, `vibration_analyzer.py:593-625`). */
  def varianceOfMean(mo: Moments, i: Int): Array[Double] =
    Array.tabulate(mo.nFreq) { k =>
      val meanSq = mo.mRe(i, k) * mo.mRe(i, k) + mo.mIm(i, k) * mo.mIm(i, k)
      if (mo.n > 1) (mo.sRe(i, i, k) - meanSq) / (mo.n - 1) else 0.0
    }

  /** K11 method 1: rms-ratio |H| = sqrt(S_oo/S_ii) with delta-method 1σ
    * (`_estimators_from_moments`, `vibration_analyzer.py:744-878`). */
  def tfRmsRatio(mo: Moments, out: Int, in: Int)
      : (Array[Double], Array[Double]) = {
    val h = Array.ofDim[Double](mo.nFreq)
    val err = Array.ofDim[Double](mo.nFreq)
    var k = 0
    while (k < mo.nFreq) {
      val soo = mo.sRe(out, out, k); val sii = mo.sRe(in, in, k)
      h(k) = if (sii > 0) math.sqrt(soo / sii) else 0.0
      if (mo.n > 1 && soo > 0 && sii > 0) {
        val vo = (mo.rAt(out, out, k) - soo * soo) / (mo.n - 1)
        val vi = (mo.rAt(in, in, k) - sii * sii) / (mo.n - 1)
        err(k) = h(k) / 2.0 * math.sqrt(
          vo / (soo * soo) + vi / (sii * sii))
      }
      k += 1
    }
    (h, err)
  }

  /** K11 method 2: cross-correlation (H1) estimator S_oi/S_ii —
    * complex; returns (|H|, phase, 1σ of |H|). */
  def tfCross(mo: Moments, out: Int, in: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    val mag = Array.ofDim[Double](mo.nFreq)
    val ph = Array.ofDim[Double](mo.nFreq)
    val err = Array.ofDim[Double](mo.nFreq)
    var k = 0
    while (k < mo.nFreq) {
      val re = mo.sRe(out, in, k); val im = mo.sImRaw(out, in, k)
      val sii = mo.sRe(in, in, k)
      if (sii > 0) {
        mag(k) = math.hypot(re, im) / sii
        ph(k) = math.atan2(im, re)
        // coherence-based standard error of |H1|
        val soo = mo.sRe(out, out, k)
        val coh2 = (re * re + im * im) / (soo * sii)
        val c = math.min(math.max(coh2, 1e-12), 1.0)
        if (mo.n > 1)
          err(k) = mag(k) * math.sqrt((1.0 - c) / (2.0 * c * mo.n))
      }
      k += 1
    }
    (mag, ph, err)
  }

  /** K11 method 3: phase-locked ⟨a_o⟩/⟨a_i⟩ with variance-of-mean 1σ. */
  def tfPhaseLocked(mo: Moments, out: Int, in: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    val mag = Array.ofDim[Double](mo.nFreq)
    val ph = Array.ofDim[Double](mo.nFreq)
    val err = Array.ofDim[Double](mo.nFreq)
    val vo = varianceOfMean(mo, out)
    val vi = varianceOfMean(mo, in)
    var k = 0
    while (k < mo.nFreq) {
      val or = mo.mRe(out, k); val oi = mo.mIm(out, k)
      val ir = mo.mRe(in, k); val ii = mo.mIm(in, k)
      val denom = ir * ir + ii * ii
      if (denom > 0) {
        val hr = (or * ir + oi * ii) / denom
        val hi = (oi * ir - or * ii) / denom
        mag(k) = math.hypot(hr, hi)
        ph(k) = math.atan2(hi, hr)
        val no = or * or + oi * oi
        if (no > 0 && mo.n > 0)
          err(k) = mag(k) * math.sqrt(
            (vo(k) / no + vi(k) / denom) / mo.n)
      }
      k += 1
    }
    (mag, ph, err)
  }
}
