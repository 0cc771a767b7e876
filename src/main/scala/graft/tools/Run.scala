package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Bench, GraftSession, SparkEntry}
import graft.core.Scope

/** Dev runner for registry queries, and the one way any runner executes
  * ([[once]]) and times ([[series]]) a query; `graft.Bench` is a
  * [[series]] over the benched suite. Modes:
  *   - `time <q> [q ...]`: a [[series]] over the named queries — one
  *     warm-up pass, then SPARK_GRAFT_BENCH_RUNS (default 7) passes,
  *     interleaved — printing each query's kept-run median and spread
  *     (`graft.Bench`'s estimator);
  *   - `ab <q> <spark.conf> <a> <b> [pairs]`: same-JVM interleaved A/B
  *     of one query under two values of a `spark.*` session conf (read
  *     at plan time on every run), strictly alternating A,B,A,B so
  *     ambient load hits both equally (default 7 pairs after one
  *     warm-up each);
  *   - `explain <tag> <suffix> <q> [q ...]`: runs each query once
  *     through [[capture]], prints its job count and writes EVERY plan
  *     it executed, in order, to
  *     `plans/<tag>/<q>_<suffix>_<i>_<action>.txt`. `RunnerSpec`
  *     checks the same record of every registry query against its
  *     plan rules and job ceiling.
  * Usage: `sbt "runMain graft.tools.Run <mode> ..."`;
  * SPARK_GRAFT_SF_DIR overrides the sf0.1 default.
  */
object Run {

  /** The data every registry query reads: SPARK_GRAFT_SF_DIR, else sf0.1
    * (`graft.Bench` runs on it too). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Measured passes of a [[series]]: SPARK_GRAFT_BENCH_RUNS, default 7,
    * at which [[Bench.keptRuns]] drops two warm-up passes and keeps the
    * fastest 3 of the other 5. */
  def benchRuns: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "7").toInt

  /** The one way a runner executes a query: build it in a fresh
    * [[Scope]], hand its output to `sink`, then close the scope. Left
    * when the query or the sink threw, or when the query left behind a
    * persisted RDD or (in a session whose SQL cache was empty) a SQL
    * cache entry — a leak is a failure, not something to sweep. State
    * the session held before the query is not counted. */
  def scoped[A](spark: SparkSession)(query: => DataFrame)(
      sink: DataFrame => A): Either[Throwable, A] = {
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.keySet
    val cacheWasEmpty = GraftSqlBridge.cacheIsEmpty(spark)
    val outcome =
      try {
        val (out, scope) = Scope.run(query)
        try Right(sink(out)) finally scope.close()
      } catch { case e: Throwable => Left(e) }
    val leaked = (sc.getPersistentRDDs.keySet -- rdds0).toSeq.sorted
    outcome.flatMap { a =>
      if (leaked.nonEmpty) Left(new IllegalStateException(
        s"left persisted RDDs behind: ${leaked.mkString(",")}"))
      else if (cacheWasEmpty && !GraftSqlBridge.cacheIsEmpty(spark))
        Left(new IllegalStateException("left a SQL cache entry behind"))
      else Right(a)
    }
  }

  /** Run registry query `name` end to end: a noop write (full
    * materialization — a bare count lets Catalyst prune work) through
    * [[scoped]]. The time of the write, or why the run failed. */
  def once(spark: SparkSession, sfDir: String,
      name: String): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    scoped(spark)(SparkEntry.queries(name)(spark, sfDir)) { out =>
      out.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** The one timing loop: an unmeasured warm-up pass over `names`, then
    * `runs` passes over all of them — interleaved at the suite level, so
    * a transient load spike perturbs one pass, not one query — every run
    * through [[once]]; per query, [[Bench.stats]] of the measured passes.
    * A failed run is reported on stderr and records no time. */
  def series(spark: SparkSession, names: Seq[String],
      runs: Int): Seq[Bench.QueryStat] = {
    names.foreach(once(spark, sfDir, _))
    val passes = Seq.fill(runs)(names.map { name =>
      val outcome = once(spark, sfDir, name)
      outcome.left.foreach(e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"))
      outcome.toOption
    })
    Bench.stats(names, passes)
  }

  /** `body`'s result, with the (action, query execution) of every plan
    * it executed, in order — checkpoints, the counts that fill persists,
    * driver collects and the final write — and the number of Spark jobs
    * it started. `capture(spark)(once(spark, sfDir, q))` is query `q`'s
    * full execution record. */
  def capture[A](spark: SparkSession)(body: => A)
      : (A, Seq[(String, QueryExecution)], Int) = {
    val sc = spark.sparkContext
    val plans = mutable.ArrayBuffer[(String, QueryExecution)]()
    def record(action: String, qe: QueryExecution): Unit =
      plans.synchronized(plans += action -> qe)
    val queries = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        record(action, qe)
      def onFailure(action: String, qe: QueryExecution,
          e: Exception): Unit = record(action, qe)
    }
    val jobs = new AtomicInteger()
    val jobStarts = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener callbacks arrive on the asynchronous listener bus: drain
    // it before (so no earlier job is counted) and after the body
    GraftListenerBus.drain(sc)
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobStarts)
    try {
      val a = body
      GraftListenerBus.drain(sc)
      (a, plans.synchronized(plans.toSeq), jobs.get)
    } finally {
      sc.removeSparkListener(jobStarts)
      spark.listenerManager.unregister(queries)
    }
  }

  private def summary(rs: Seq[Either[Throwable, Double]]): String =
    rs.collectFirst { case Left(e) => s"FAILED: ${e.getMessage}" }
      .getOrElse {
        val ts = rs.collect { case Right(t) => t }
        f"median=${Bench.median(ts)}%6.3f  " +
          s"runs=${ts.map(t => f"$t%.3f").mkString(",")}"
      }

  private def time(spark: SparkSession, names: Seq[String]): Unit =
    series(spark, names, benchRuns).foreach { q =>
      val verdict =
        if (q.failed) "  FAILED" else if (q.noisy) "  noisy" else ""
      println(f"[time] ${q.name}%-28s median=${q.median}%6.3f  " +
        f"spread=${q.spread * 100}%5.1f%%  " +
        s"runs=${q.runs.map(t => f"$t%.3f").mkString(",")}$verdict")
    }

  private def ab(spark: SparkSession, name: String, conf: String,
      a: String, b: String, pairs: Int): Unit = {
    def at(v: String) = { spark.conf.set(conf, v); once(spark, sfDir, name) }
    at(a); at(b) // one warm-up each
    val (as, bs) = (1 to pairs).map(_ => (at(a), at(b))).unzip
    println(s"[ab] $name $conf A=$a ${summary(as)}")
    println(s"[ab] $name $conf B=$b ${summary(bs)}")
    if ((as ++ bs).forall(_.isRight)) {
      def med(rs: Seq[Either[Throwable, Double]]) =
        Bench.median(rs.collect { case Right(t) => t })
      println(f"[ab] speedup A/B = ${med(as) / med(bs)}%.3f")
    }
  }

  private def explain(spark: SparkSession, tag: String, suffix: String,
      names: Seq[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(s"plans/$tag"))
    names.foreach { name =>
      val (outcome, plans, jobs) = capture(spark)(once(spark, sfDir, name))
      plans.zipWithIndex.foreach { case ((action, qe), i) =>
        Files.writeString(
          dir.resolve(f"${name}_${suffix}_${i + 1}%02d_$action.txt"),
          qe.explainString(FormattedMode))
      }
      outcome.left.foreach(e =>
        println(s"[explain] $name FAILED: ${e.getMessage}"))
      println(s"[explain] $name: $jobs jobs; wrote ${plans.size} plans to " +
        s"plans/$tag/${name}_${suffix}_*.txt")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Run time <q> [q ...] | " +
      "Run ab <q> <spark.conf> <a> <b> [pairs] | " +
      "Run explain <tag> <suffix> <q> [q ...]"
    def known(names: Seq[String]): Seq[String] = {
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      names
    }
    val mode: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty =>
        time(_, known(names))
      case "ab" :: name :: conf :: a :: b :: rest if rest.size <= 1 =>
        require(conf.startsWith("spark."),
          s"ab varies session confs only (spark.*), got $conf")
        ab(_, known(Seq(name)).head, conf, a, b,
          rest.headOption.fold(7)(_.toInt))
      case "explain" :: tag :: suffix :: names if names.nonEmpty =>
        explain(_, tag, suffix, known(names))
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = GraftSession.create()
    try mode(spark) finally spark.stop()
  }
}
