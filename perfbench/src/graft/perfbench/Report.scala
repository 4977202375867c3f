package graft.perfbench

import scala.collection.mutable

/** Operation accounting and the metrics a run reports. An operation is
  * a batch, a lookup, a query or a correctness gate; a failed gate
  * counts like a failed batch. */
final class Report {
  private val lock = new Object
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()

  def op(ok: Boolean, what: => String): Boolean = lock.synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    ok
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** Tail metrics plus the detail saying which percentile and count. */
  def tail(name: String, xs: Seq[Double], unit: String, into: (String, Double, String) => Unit): Unit = {
    val t = Stats.tail(xs)
    into(name, t.value, unit)
    detail(s"${name}_percentile") = t.percentile
    detail(s"${name}_samples") = t.n
    detail(s"${name}_beyond") = t.beyond
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }
      .mkString("{", ",", "}")
}
