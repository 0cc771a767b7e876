package perfbench

import org.apache.spark.sql.Row

/** Small numeric and formatting helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated quantile of a non-empty sample (numpy's default
    * "linear" method), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Rows as sorted strings with every double rounded to 9 significant
    * digits: the form results are compared in across runs. A float sum's
    * last bits may depend on the order partial aggregates merge in, so
    * doubles are compared to 9 digits; everything else exactly. */
  def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(r => r.toSeq.map(canonicalValue).mkString("|")).sorted

  private def canonicalValue(v: Any): String = v match {
    case d: Double => f"$d%.9g"
    case s: scala.collection.Seq[_] => s.map(canonicalValue).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canonicalValue).mkString("(", ",", ")")
    case other => String.valueOf(other)
  }

  /** Minimal JSON rendering of nested maps, sequences, strings and numbers
    * (the result lines and files need nothing more). */
  def json(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s: String =>
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      (sb += '"').toString
    case other => json(other.toString)
  }
}

/** Thrown by an output check that found a wrong result. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  def close(got: Double, want: Double, relTol: Double, what: String): Unit =
    apply(math.abs(got - want) <= relTol * math.abs(want),
      f"$what: got $got%.6g, want $want%.6g within ${relTol * 100}%.2g%%")
}
