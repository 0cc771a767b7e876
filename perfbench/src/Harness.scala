package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: seeded input generation (never timed), one-time
  * preparation on a fresh Spark session (timed as set-up), and the
  * prepared object that performs one run. */
trait Workload {
  def name: String

  /** What one input item is, for the named throughput (`<item>_per_s`). */
  def itemName: String

  /** Write the inputs for `seed` under `dir`; returns the rows written. */
  def generate(spark: SparkSession, dir: String, seed: Long): Long

  /** Open the inputs written under `dir`. */
  def prepare(spark: SparkSession, dir: String): Prepared
}

trait Prepared {
  /** Input items one run processes (events, documents). */
  def items: Long

  /** Items a class of ops processes, as (op class, item name, count): its
    * throughput is reported against the time spent in those ops. */
  def stageItems: Seq[(String, String, Long)] = Nil

  /** One complete run. Every user-visible step goes through `ctx.op`. */
  def run(ctx: RunCtx): Unit

  /** Release what a run left cached; called after the run's clock stops. */
  def cleanup(): Unit = ()
}

/** One op's outcome: its class (e.g. `cut`, `view`), label, latency and
  * the first check that failed, if any. */
final class OpSample(val cls: String, val label: String, val secs: Double) {
  var error: Option[String] = None
}

/** Thrown out of a run when an op threw: the rest of the run depends on
  * its result. */
final class RunAborted(cause: Throwable) extends RuntimeException(cause)

/** The op/layer API the workloads drive. An op is one step the user waits
  * for; its latency is a sample of the end-to-end metrics unless the op
  * threw or its check failed. A layer is one call into a library module;
  * in a traced run it becomes a span. */
final class RunCtx(tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer[OpSample]()
  private val deferred = mutable.ArrayBuffer[(OpSample, () => Unit)]()

  def layer[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  def op[T](cls: String, label: String)(body: => T)(check: T => Unit): T = {
    val t0 = System.nanoTime()
    val v = try layer(s"op.$label")(body) catch {
      case e: Throwable =>
        val s = new OpSample(cls, label, (System.nanoTime() - t0) / 1e9)
        s.error = Some(RunCtx.describe(e))
        ops += s
        throw new RunAborted(e)
    }
    val s = new OpSample(cls, label, (System.nanoTime() - t0) / 1e9)
    ops += s
    try check(v) catch { case NonFatal(e) => s.error = Some(RunCtx.describe(e)) }
    v
  }

  /** A check on the last op that needs Spark jobs (e.g. reading back what
    * the op wrote): it runs after the run's clock has stopped. */
  def afterRun(check: => Unit): Unit = deferred += (ops.last -> (() => check))

  def runDeferred(): Unit = deferred.foreach { case (s, check) =>
    try check() catch {
      case NonFatal(e) => if (s.error.isEmpty) s.error = Some(RunCtx.describe(e))
    }
  }
}

object RunCtx {
  /** A failed check reads as its message; anything else a check or an op
    * throws reads as an exception, and counts as a wrong result too. */
  def describe(e: Throwable): String = e match {
    case c: CheckFailed => c.getMessage
    case other => s"threw ${other.getClass.getSimpleName}: ${other.getMessage}"
  }
}

object Materialize {
  /** Execute every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop every cached table and persisted RDD (the library's
    * localCheckpoints included) and wait until they are gone, so one
    * run's leftovers do not slow the next. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
