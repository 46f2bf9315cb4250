package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros().toPlainString
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  /** The highest of p50/p90/p99/p99.9 that still has at least ten samples
    * beyond it, as (label, value). */
  def tail(xs: collection.Seq[Double]): (String, Double) = {
    val ok = Seq(99.9 -> "p99.9", 99.0 -> "p99", 90.0 -> "p90", 50.0 -> "p50")
      .find { case (p, _) => xs.length * (1 - p / 100.0) >= 10 }
      .getOrElse(50.0 -> "p50")
    (ok._2, pct(xs, ok._1))
  }
}

/** What one run reports: the op and check counts, the metrics, and notes
  * (run conditions, sample counts, tail percentiles). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def note(name: String, value: Any): Unit = notes(name) = value match {
    case d: Double => Json.num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => Json.str(other.toString)
  }

  /** A timing series: its median as the metric, and its tail percentile
    * and sample count as notes. */
  def timing(name: String, xs: collection.Seq[Double], unit: String = "ms"): Unit = {
    metric(name, Stats.median(xs), unit)
    val (label, v) = Stats.tail(xs)
    note(s"$name.samples", xs.length)
    note(s"$name.tail", s"$label=${Json.num(v)}")
    note(s"$name.all", xs.map(x => math.round(x).toString).mkString(" "))
  }

  /** Count one output check. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  /** Count `n` ops, of which `bad` failed. */
  def ops(n: Long, bad: Long = 0L): Unit = { attempted += n; failed += bad }

  def toJson: String = {
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "notes" -> obj(notes),
      "problems" -> problems.take(20).map(Json.str).mkString("[", ",", "]")))
  }
}
