package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank quantile of `xs` (p in (0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. Unlike wall time it does
    * not grow while the host runs other guests' work. */
  def processCpuSec: Double = os.getProcessCpuTime / 1e9

  /** Tail of a latency sample: the highest percentile on a fixed ladder
    * that still has at least ten samples strictly beyond its rank. A
    * fixed ladder keeps the reported percentile the same from run to run
    * when the sample count moves a little. With fewer than 20 samples no
    * rung qualifies and the tail is the maximum (`ruleMet` false). */
  final case class Tail(percentile: Int, value: Double, beyond: Int, n: Int, ruleMet: Boolean)

  val Ladder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val n = xs.size
    Ladder.iterator
      .map(p => p -> (n - math.ceil(p / 100.0 * n).toInt))
      .find { case (_, beyond) => beyond >= minBeyond } match {
      case Some((p, beyond)) => Tail(p, quantile(xs, p / 100.0), beyond, n, ruleMet = true)
      case None =>
        Tail(100, if (n == 0) Double.NaN else xs.max, 0, n, ruleMet = false)
    }
  }
}
