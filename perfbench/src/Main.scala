package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One invocation runs one workload:
  *
  *  1. starts a Spark session on `local[<cores>]` and generates the
  *     workload's inputs from the seed (generation is never timed);
  *  2. sets up [[SetupReps]] times (fresh session + the workload's one-time
  *     preparation) and reports the median as `setup_s`;
  *  3. warms up ([[WarmupRuns]] runs), then drives the workload in a
  *     closed loop with one client
  *     for `--seconds`, checking every op's output;
  *  4. prints every metric by name and unit, then one JSON result line.
  *
  * With `--trace 1` the loop alternates untraced and traced runs and the
  * result holds the per-layer metrics named in BENCHMARK.json.
  */
object Main {
  val SetupReps = 5
  // The JIT compiles the driver's planning and scheduling paths over the
  // first runs; one warm-up run leaves the next run up to 40% slow.
  val WarmupRuns = 2

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, spec: String, gitSha: String, sourceSha: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t: want 0|1")
      },
      need("work"), need("spec"), m.getOrElse("git-sha", ""),
      m.getOrElse("source-sha", ""))
  }

  val workloads: Map[String, Workload] =
    Seq(AnalysisSession, CurationPipeline)
      .map(w => w.name -> w).toMap

  def newSession(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Counts over every op attempted in this invocation. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
  }

  final case class RunOutcome(
      secs: Double, ops: Seq[OpSample], layers: Option[Map[String, LayerTotals]])

  /** One run; `None` if an op threw or any check failed. */
  def runOnce(p: Prepared, tracer: Option[Tracer], runId: String,
      tally: Tally): Option[RunOutcome] = {
    val ctx = new RunCtx(tracer)
    var root: Option[SpanRec] = None
    val t0 = System.nanoTime()
    val aborted =
      try {
        tracer match {
          case Some(t) => root = Some(t.tracedRun(runId)(p.run(ctx)))
          case None => p.run(ctx)
        }
        false
      } catch {
        case _: RunAborted => true
        case NonFatal(e) => // thrown between ops: charge it to the run
          val s = new OpSample("run", "run", (System.nanoTime() - t0) / 1e9)
          s.error = Some(RunCtx.describe(e))
          ctx.ops += s
          true
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val layers = for (t <- tracer; r <- root) yield t.totals(r)
    ctx.runDeferred()
    p.cleanup()
    val bad = ctx.ops.filter(_.error.isDefined)
    tally.attempted += ctx.ops.size
    tally.failed += bad.size
    bad.foreach(s => tally.errors += s"$runId ${s.label}: ${s.error.get}")
    if (aborted || bad.nonEmpty) None
    else Some(RunOutcome(secs, ctx.ops.toSeq, layers))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workloads.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; known: ${workloads.keys.mkString(", ")}"))
    val spec = Spec.load(a.spec)
    val cores = Runtime.getRuntime.availableProcessors
    val inputRoot = new File(s"${a.work}/inputs/${wl.name}")
    // keyed by the source digest too: a changed generator writes anew
    val inputDir = new File(inputRoot, s"seed-${a.seed}-${a.sourceSha.take(12)}")

    // --- set-up, SetupReps times; generation inside the first is excluded
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var prepared: Prepared = null
    var inputRows = 0L
    var generateS = 0.0
    for (i <- 0 until SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = newSession(a.work, cores)
      var genNs = 0L
      if (i == 0) {
        val g0 = System.nanoTime()
        inputRows = ensureInputs(spark, wl, inputRoot, inputDir, a.seed)
        genNs = System.nanoTime() - g0
        generateS = genNs / 1e9
      }
      prepared = wl.prepare(spark, inputDir.getPath)
      setups += (System.nanoTime() - t0 - genNs) / 1e9
    }

    // --- warm-up (also records the reference results later runs must match)
    val tally = new Tally
    val w0 = System.nanoTime()
    (0 until WarmupRuns).foreach(w => runOnce(prepared, None, s"warmup-$w", tally))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // --- measured closed loop; traced runs alternate with untraced ones
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val untraced = mutable.ArrayBuffer[RunOutcome]()
    val traced = mutable.ArrayBuffer[RunOutcome]()
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    def enough = untraced.nonEmpty && (!a.trace || traced.nonEmpty)
    var i = 0
    // past the deadline, a few more runs only while a kind of run has no
    // successful sample yet
    while (System.nanoTime() < end || (!enough && i < 4)) {
      val t = tracer.filter(_ => i % 2 == 1)
      t.foreach(_.install())
      val out = try runOnce(prepared, t, s"${wl.name}-${a.seed}-run$i", tally)
        finally t.foreach(_.uninstall())
      out.foreach(o => (if (t.isDefined) traced else untraced) += o)
      i += 1
    }

    // --- end-to-end metrics (always computed; printed by name)
    val runS = untraced.map(_.secs).toSeq
    val opSecs = untraced.flatMap(_.ops.map(_.secs)).toSeq
    def q(xs: Seq[Double], p: Double) =
      if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    val runMedian = q(runS, 0.5)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups.toSeq), "s"),
      "run_s" -> (runMedian, "s"),
      "op_p90_s" -> (q(opSecs, 0.9), "s"),
      "items_per_s" -> (prepared.items / runMedian, "1/s"))
    // the median and per-class latencies and named throughputs, for the
    // reader: the median op is one of the many short ones, whose latency
    // varies too much from run to run to gate on
    val extra = mutable.LinkedHashMap[String, (Double, String)](
      "op_p50_s" -> (q(opSecs, 0.5), "s"))
    untraced.flatMap(_.ops).groupBy(_.cls).toSeq.sortBy(_._1).foreach {
      case (cls, ss) =>
        extra(s"${cls}_p50_s") = (q(ss.map(_.secs).toSeq, 0.5), "s")
        extra(s"${cls}_p90_s") = (q(ss.map(_.secs).toSeq, 0.9), "s")
    }
    extra(s"${wl.itemName}_per_s") = (prepared.items / runMedian, "1/s")
    prepared.stageItems.foreach { case (cls, item, n) =>
      val perRun = untraced.map(_.ops.filter(_.cls == cls).map(_.secs).sum).toSeq
      extra(s"${item}_per_s") = (n / q(perRun, 0.5), "1/s")
    }
    extra("error_rate") =
      (tally.failed.toDouble / math.max(tally.attempted, 1L), "ratio")

    // --- per-layer metrics from the traced runs
    val layerMetrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (a.trace) {
      val kernels = Kernels.bytesPerSecond(CurationPipeline.texts(a.seed))
      val overhead = q(traced.map(_.secs).toSeq, 0.5) - runMedian
      spec.perLayer.foreach { case (name, unit) =>
        val v = Layers.value(name, traced.toSeq, cores, kernels, overhead)
        layerMetrics(name) = (v, unit)
      }
    }

    // --- report
    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores,
      "mem_total_bytes" -> memTotal,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "git_sha" -> (if (a.gitSha.isEmpty) null else a.gitSha),
      "source_sha256" -> a.sourceSha)
    val input = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "rows" -> inputRows,
      "bytes" -> dirBytes(inputDir), "items" -> prepared.items)
    val runs = mutable.LinkedHashMap[String, Any](
      "setups" -> setups.size, "generate_s" -> generateS,
      "warmup_runs" -> WarmupRuns, "warmup_s" -> warmupS,
      "measured_runs" -> untraced.size, "traced_runs" -> traced.size,
      "op_samples" -> opSecs.size, "local_cores" -> cores)
    println(s"# perfbench ${wl.name} seed=${a.seed} trace=${if (a.trace) 1 else 0}")
    println(s"# host ${Stats.json(host)}")
    println(s"# input ${Stats.json(input)}")
    println(s"# runs ${Stats.json(runs)}")
    (e2e ++ extra ++ layerMetrics).foreach { case (n, (v, u)) =>
      println(f"# metric $n%-48s $v%.6g $u")
    }
    tally.errors.take(20).foreach(e => println(s"# error $e"))

    val correct = tally.failed == 0 && untraced.nonEmpty
    val reported =
      if (a.trace) layerMetrics
      else e2e.filter { case (n, _) => spec.endToEnd.contains(n) }
    val missing =
      (if (a.trace) spec.perLayer.keys else spec.endToEnd).filterNot(reported.contains)
    require(missing.isEmpty, s"BENCHMARK.json names metrics this run cannot " +
      s"compute: ${missing.mkString(", ")}")
    val metricsJson = reported.map { case (n, (v, u)) =>
      n -> mutable.LinkedHashMap("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u)
    }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> tally.attempted,
      "failed" -> tally.failed, "metrics" -> metricsJson)

    val stamp = s"${wl.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    write(s"${a.work}/results/$stamp.json", Stats.json(mutable.LinkedHashMap(
      "result" -> result, "host" -> host, "input" -> input, "runs" -> runs,
      "all_metrics" -> (e2e ++ extra ++ layerMetrics).map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "setup_s_samples" -> setups, "run_s_samples" -> runS,
      "traced_run_s_samples" -> traced.map(_.secs),
      "errors" -> tally.errors)) + "\n")
    tracer.foreach(t =>
      write(s"${a.work}/traces/$stamp.jsonl", t.spanLines.mkString("", "\n", "\n")))
    stopSession(spark)
    println(Stats.json(result))
  }

  /** Generate the inputs for `seed` unless a complete copy is on disk;
    * other seeds' inputs of the workload are removed first. */
  private def ensureInputs(spark: SparkSession, wl: Workload, root: File,
      dir: File, seed: Long): Long = {
    val marker = new File(dir, "_ROWS")
    if (marker.isFile) return new String(Files.readAllBytes(marker.toPath)).trim.toLong
    Option(root.listFiles()).toSeq.flatten.foreach(deleteTree)
    dir.mkdirs()
    val rows = wl.generate(spark, dir.getPath, seed)
    write(marker.getPath, s"$rows\n")
    rows
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def dirBytes(d: File): Long =
    if (d.isFile) d.length()
    else Option(d.listFiles()).toSeq.flatten.map(dirBytes).sum

  private def memTotal: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _ => -1L
    }

  private def write(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(text) finally w.close()
  }
}

/** The metric names and units BENCHMARK.json declares. */
final case class Spec(endToEnd: Seq[String], perLayer: mutable.LinkedHashMap[String, String])

object Spec {
  def load(path: String): Spec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val js = parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def names(key: String) = (js \ key) match {
      case JArray(xs) => xs.map { x =>
        val JString(n) = x \ "name": @unchecked
        val JString(u) = x \ "unit": @unchecked
        n -> u
      }
      case _ => throw new IllegalArgumentException(s"$path: no $key list")
    }
    Spec(names("end_to_end").map(_._1),
      mutable.LinkedHashMap(names("per_layer"): _*))
  }
}
