package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** One span: a call into a layer (or a benchmark step) on the driver. */
final case class SpanRec(
    id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = 0L) {
  def wallNs: Long = endNs - startNs
}

/** Spark work attributed to one span (its own jobs, not its children's). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Totals of every span of one name within one run. Counters are
  * inclusive of child spans, so the run's root span carries the run
  * totals. */
final class LayerTotals {
  var calls = 0
  var wallNs = 0L
  var selfNs = 0L
  val work = new Counters
}

/** In-memory span recorder for the traced run.
  *
  * Spans are opened and closed on the driver thread around each call into
  * a layer. While a span is open its id sits in a SparkContext local
  * property, which Spark copies into every job and stage submitted from
  * that thread, so the listener can charge jobs, tasks, executor run time,
  * shuffle writes and spills to the innermost open span. Nothing inside
  * the library is instrumented. */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanProp

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[SpanRec]()
  private var open: List[SpanRec] = Nil
  private val own = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private var runId = ""

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        Tracer.this.synchronized {
          own.getOrElseUpdate(id, new Counters).jobs += 1
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { id =>
        Tracer.this.synchronized { stageSpan(e.stageInfo.stageId) = id }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          val c = own.getOrElseUpdate(id, new Counters)
          c.tasks += 1
          c.taskNs += m.executorRunTime * 1000000L
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  def install(): Unit = sc.addSparkListener(listener)
  def uninstall(): Unit = sc.removeSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = SpanRec(spans.size, name, open.headOption.fold(-1)(_.id), runId,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Run `body` as one traced run under a root span named `run`; returns
    * the root span. */
  def tracedRun(id: String)(body: => Unit): SpanRec = {
    runId = id
    span("run")(body)
    spans.filter(s => s.runId == id && s.parent == -1).last
  }

  /** Per-name totals of the spans under `root`, after every listener
    * event of the run has been delivered. */
  def totals(root: SpanRec): Map[String, LayerTotals] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val inRun = spans.filter(_.runId == root.runId).toSeq
    val children = inRun.groupBy(_.parent)
    val out = mutable.LinkedHashMap[String, LayerTotals]()
    def visit(s: SpanRec): Counters = {
      val kids = children.getOrElse(s.id, Nil)
      val work = new Counters
      synchronized { own.get(s.id).foreach(work += _) }
      kids.foreach(k => work += visit(k))
      val t = out.getOrElseUpdate(s.name, new LayerTotals)
      t.calls += 1
      t.wallNs += s.wallNs
      t.selfNs += s.wallNs - kids.map(_.wallNs).sum
      t.work += work
      work
    }
    visit(root)
    out.toMap
  }

  /** All spans as JSON lines: times in seconds since the tracer began,
    * and the Spark work charged to the span itself (not its children). */
  def spanLines: Seq[String] = synchronized {
    spans.toSeq.map { s =>
      val c = own.getOrElse(s.id, new Counters)
      Stats.json(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name,
        "parent" -> (if (s.parent < 0) null else s.parent),
        "run_id" -> s.runId,
        "start_s" -> (s.startNs - origin) / 1e9,
        "end_s" -> (s.endNs - origin) / 1e9,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.taskNs / 1e9,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes))
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
