package graft

import graft.traces.Dsp

/** K1-K3 signal kernels vs analytic expectations. */
class DspSpec extends SparkSpec {

  private val n = 256
  private val fs = 1000.0

  test("rfft of a pure sinusoid peaks at its bin with amplitude n/2") {
    val f0 = 10 // cycles in the window → bin 10
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * f0 * i / n))
    val (re, im) = Dsp.rfft(x)
    val mag = re.zip(im).map { case (r, i) => math.hypot(r, i) }
    assert(math.abs(mag(f0) - n / 2.0) < 1e-6)
    mag.zipWithIndex.filterNot(_._2 == f0).foreach { case (m, _) =>
      assert(m < 1e-6)
    }
  }

  test("irfft inverts rfft") {
    val x = Array.tabulate(n)(i => math.cos(0.1 * i) + 0.3 * math.sin(0.7 * i))
    val (re, im) = Dsp.rfft(x)
    val back = Dsp.irfft(re, im, n)
    x.zip(back).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("one-sided PSD satisfies Parseval: sum(psd)·fs/n ≈ mean power") {
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 17 * i / n))
    val p = Dsp.psd(x, fs)
    val meanPower = x.map(v => v * v).sum / n
    val integrated = p.sum * fs / n
    assert(math.abs(integrated - meanPower) < 1e-9)
  }

  test("PSD of unit-amplitude sine concentrates A²/2 of power in its bin") {
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 17 * i / n))
    val p = Dsp.psd(x, fs)
    assert(math.abs(p(17) * fs / n - 0.5) < 1e-9)
  }

  test("Butterworth low-pass: passes DC, attenuates high frequency") {
    val dc = Array.fill(2048)(1.0)
    val yDc = Dsp.butterworthLowpass(dc, 50.0, fs)
    assert(math.abs(yDc.last - 1.0) < 1e-3)

    val hf = Array.tabulate(2048)(i => math.sin(2 * math.Pi * 400 * i / fs))
    val yHf = Dsp.butterworthLowpass(hf, 50.0, fs)
    val rmsIn = math.sqrt(hf.drop(1024).map(v => v * v).sum / 1024)
    val rmsOut = math.sqrt(yHf.drop(1024).map(v => v * v).sum / 1024)
    // 2nd order at 8× cutoff → ≥ ~36 dB down
    assert(rmsOut / rmsIn < 0.02)
  }

  test("rfftfreq matches k·fs/n") {
    val f = Dsp.rfftfreq(8, 1000.0)
    assert(f.toSeq == Seq(0.0, 125.0, 250.0, 375.0, 500.0))
  }

  test("baseline subtraction via higher-order functions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(Tuple1(Array(2.0, 2.0, 2.0, 2.0, 5.0, 7.0)))
      .toDF("trace")
    val out = df.select(
      Dsp.baselineSubtract(col("trace"), 0, 4).as("t")).head.getSeq[Double](0)
    assert(out.take(4).forall(v => math.abs(v) < 1e-12))
    assert(math.abs(out(4) - 3.0) < 1e-12)
  }

  test("DSP kernels: a null trace gives null, a null sample names the kernel") {
    import org.apache.spark.sql.functions._
    // generated from a range, so the kernels run in generated code and
    // are not folded on the driver
    val traces = spark.range(3).select(
      when(col("id") === 0, array((1 to 8).map(i => lit(i.toDouble)): _*))
        .when(col("id") === 1,
          array(lit(1.0), lit(null).cast("double"), lit(3.0), lit(4.0)))
        .as("trace"),
      col("id"))
    val kernels = Seq("psd" -> Dsp.psdUdf(fs),
      "lowpass" -> Dsp.lowpassUdf(100.0, fs),
      "scaled_spectrum" -> Dsp.scaledSpectrumUdf(fs))
    kernels.foreach { case (name, f) =>
      val got = traces.filter(col("id") =!= 1).orderBy("id")
        .select(f(col("trace"))).collect()
      assert(!got(0).isNullAt(0), name)
      assert(got(1).isNullAt(0), s"$name of a null trace")
      val e = intercept[Exception](
        traces.filter(col("id") === 1).select(f(col("trace"))).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains(s"$name: null sample at index 1")),
        s"$name: ${e.getMessage}")
    }
  }

  test("reused FFT plans and scales: every thread gets one fresh plan's bits") {
    import org.jtransforms.fft.DoubleFFT_1D
    // the kernels as they were before plans were reused: a fresh plan
    // and a fresh scale per trace
    def freshRfft(x: Array[Double]) = {
      val buf = Array.ofDim[Double](2 * x.length)
      x.indices.foreach(i => buf(2 * i) = x(i))
      new DoubleFFT_1D(x.length).complexForward(buf)
      buf.take(2 * (x.length / 2 + 1))
    }
    def freshPsd(x: Array[Double]) = {
      val b = freshRfft(x)
      val s = Dsp.onesidedScale(x.length, fs)
      Array.tabulate(s.length)(k =>
        (b(2 * k) * b(2 * k) + b(2 * k + 1) * b(2 * k + 1)) * s(k) * s(k))
    }
    val rnd = new scala.util.Random(7)
    val traces = Seq(256, 300, 1024, 97, 256, 1024).map(len =>
      Array.fill(len)(rnd.nextGaussian()))
    def run(x: Array[Double]): Seq[Array[Double]] = {
      val (re, im) = Dsp.rfft(x)
      Seq(re, im, Dsp.irfft(re, im, x.length), Dsp.psd(x, fs))
    }
    val one = traces.map(run)
    traces.zip(one).foreach { case (x, Seq(re, im, _, p)) =>
      val b = freshRfft(x)
      assert(re.indices.forall(k => re(k) == b(2 * k) && im(k) == b(2 * k + 1)),
        s"rfft of length ${x.length} differs from a fresh plan's")
      assert(java.util.Arrays.equals(p, freshPsd(x)),
        s"psd of length ${x.length} differs from a fresh plan's")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 16).map(i => pool.submit(() =>
        (0 until 20).map(r => traces((i + r) % traces.size))
          .map(x => (x, run(x)))))
      futures.foreach(_.get().foreach { case (x, got) =>
        val want = one(traces.indexWhere(_ eq x))
        got.zip(want).foreach { case (g, w) =>
          assert(java.util.Arrays.equals(g, w),
            s"length ${x.length}: a thread's result differs from one thread's")
        }
      })
    } finally pool.shutdown()
  }
}
