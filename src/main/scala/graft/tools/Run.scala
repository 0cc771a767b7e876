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
  * a query ([[once]]; `graft.Bench` measures through it too). Modes:
  *   - `time <q> [q ...]`: one warm-up plus SPARK_GRAFT_BENCH_RUNS
  *     (default 3) runs per query, median printed;
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

  private def time(spark: SparkSession, names: Seq[String]): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    names.foreach { name =>
      once(spark, sfDir, name) // warm-up
      val rs = Seq.fill(runs)(once(spark, sfDir, name))
      println(f"[time] $name%-28s ${summary(rs)}")
    }
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
