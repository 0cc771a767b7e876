package perfbench

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{GramHashes, MinHashTextSig, ShingleHashes}

/** Per-layer metrics, computed from their BENCHMARK.json names.
  *
  * A name is `<layer>.<stat>`; `<layer>` is a span name (a library call
  * `<module>.<Object>.<function>`, or `run` for the whole run). Each
  * value is the median over the traced runs of the run's total for that
  * span name (several calls in one run are summed); a layer the workload
  * never calls reads 0. */
object Layers {

  def value(metric: String, traced: Seq[Main.RunOutcome], cores: Int,
      kernels: Map[String, Double], overheadS: Double): Double = {
    val dot = metric.lastIndexOf('.')
    val (layer, stat) = (metric.take(dot), metric.drop(dot + 1))
    stat match {
      case "trace_overhead_s" if layer == "run" => overheadS
      case "bytes_per_s" => kernels.getOrElse(layer,
        throw new IllegalArgumentException(s"no kernel timing for $layer"))
      case _ if traced.isEmpty => Double.NaN
      case _ => Stats.median(traced.map { o =>
        val all = o.layers.get
        // span self times against the run's wall clock, taken outside the
        // root span
        if (stat == "self_sum_err")
          math.abs(all.values.map(_.selfNs).sum / 1e9 - o.secs) / o.secs
        else all.get(layer).fold(0.0)(t => of(t, stat, cores, metric))
      })
    }
  }

  private def of(t: LayerTotals, stat: String, cores: Int, metric: String)
      : Double = stat match {
    case "wall_s" => t.wallNs / 1e9
    case "self_s" => t.selfNs / 1e9
    case "calls" => t.calls.toDouble
    case "jobs" => t.work.jobs.toDouble
    case "tasks" => t.work.tasks.toDouble
    case "task_s" => t.work.taskNs / 1e9
    case "util" =>
      if (t.wallNs == 0) 0.0 else t.work.taskNs.toDouble / (t.wallNs * cores)
    case "shuffle_bytes" => t.work.shuffleBytes.toDouble
    case "spill_bytes" => t.work.spillBytes.toDouble
    case other => throw new IllegalArgumentException(
      s"$metric: unknown per-layer stat '$other'")
  }
}

/** Text kernels timed without Spark: each kernel's static `compute`
  * called on one thread over the generated corpus. */
object Kernels {
  private val MinPasses = 3
  private val MinSeconds = 0.3

  def bytesPerSecond(texts: Seq[String]): Map[String, Double] = {
    val docs = texts.map(UTF8String.fromString).toArray
    val bytes = docs.map(_.numBytes.toLong).sum
    val kernels = Seq[(String, UTF8String => Int)](
      "functions.MinHashTextSig.compute" ->
        (t => MinHashTextSig.compute(t, 64, 3).numElements),
      "functions.ShingleHashes.compute" ->
        (t => ShingleHashes.compute(t, 3).numElements),
      "functions.GramHashes.compute" ->
        (t => GramHashes.compute(t, CurationPipeline.SpanK).numElements))
    kernels.map { case (name, f) =>
      var sink = 0L
      def pass(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < docs.length) { sink += f(docs(i)); i += 1 }
        (System.nanoTime() - t0) / 1e9
      }
      pass() // warm-up
      val rates = scala.collection.mutable.ArrayBuffer[Double]()
      var spent = 0.0
      while (rates.size < MinPasses || spent < MinSeconds) {
        val s = pass()
        spent += s
        rates += bytes / s
      }
      require(sink > 0, s"$name produced no output")
      name -> Stats.median(rates.toSeq)
    }.toMap
  }
}
