package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A fixed list of `SparkEntry` queries on the sf0.1 test tables, one
  * client, closed loop. Each query's first run in a session comes after
  * a neutral warm-up only, so planning and codegen stay in the wall a
  * user pays; the caller may repeat the list. The order is fixed — the
  * first query to touch a code path pays its cold cost, so a shuffled
  * order would move that cost between queries from run to run. Outputs
  * are pinned by row count and an order-insensitive hash. */
object QueryMix {

  /** One query per family, the slowest by the recorded 8-core bench
    * wall among those that run in under 10 s cold — q41, e22, s19 (d55
    * and d35 exceed it) — plus d13, and m11 for the m family: m02 and
    * m10, slower on that bench, go through the javax.imageio PNG path,
    * whose wall swung 0.7–4.7 s from run to run on a 4-vCPU machine.
    * e22 and s19 are index-backed store users. */
  val Queries: Seq[String] = Seq(
    "q41_recursive_cte", "d13_rolling_fp", "e22_knn_ivf_rebalance",
    "m11_audio_fingerprint", "s19_indexed_stream_knn")

  /** Queries whose doubles are compared at the oracle's rounding (e22's
    * centroid folds depend on partitioning; its oracle rounds to 4 dp). */
  val RoundedDoubles: Map[String, Int] = Map("e22_knn_ivf_rebalance" -> 4)

  private def render(v: Any, dp: Option[Int]): String = v match {
    case null => "\u0000null"
    case d: Double => dp.fold(java.lang.Double.toString(d))(n =>
      if (d.isNaN || d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d).setScale(n, java.math.RoundingMode.HALF_UP).toPlainString)
    case f: Float => render(f.toDouble, dp)
    case b: java.math.BigDecimal => b.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render(_, dp)).mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render(_, dp)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k, dp)}:${render(x, dp)}" }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** (row count, order-insensitive 64-bit hash) of a result, columns
    * taken in name order. */
  def fingerprint(rows: Array[Row], query: String): (Long, String) = {
    if (rows.isEmpty) return (0L, "0")
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val dp = RoundedDoubles.get(query)
    var acc = 0L
    rows.foreach { r =>
      val s = order.map(i => names(i) + "=" + render(r.get(i), dp)).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 0x1234).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5678).toLong & 0xffffffffL)
      acc += h
    }
    (rows.length.toLong, java.lang.Long.toHexString(acc))
  }

  final case class Result(name: String, wall: Double, cpu: Double, rows: Long, hash: String,
      plan: (Double, Double, Double), codegen: Double, error: Option[String])

  /** Run one query and fingerprint its output. `group` is the Spark job
    * group (per-query listener keys); `traced` takes spans, planning
    * phases and the codegen delta. */
  def runOne(spark: SparkSession, dataDir: String, name: String, group: String,
      traced: Boolean): Result = {
    val fn = SparkEntry.queries(name)
    spark.sparkContext.setJobGroup(group, group, false)
    val wasOn = Trace.on
    Trace.on = traced
    val cg0 = if (traced) PlanProbe.codegenTotalSec else 0.0
    val c0 = Stats.processCpuSec
    val t0 = System.nanoTime()
    val res =
      try {
        Trace.withOp(group) {
          Trace.span("query", "query") {
            val df = fn(spark, dataDir)
            Right((df, df.collect()))
          }
        }
      } catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Stats.processCpuSec - c0
    Trace.on = wasOn
    spark.sparkContext.clearJobGroup()
    res match {
      case Right((df, rows)) =>
        val (n, h) = fingerprint(rows, name)
        Result(name, wall, cpu, n, h,
          if (traced) PlanProbe.phases(df) else (0.0, 0.0, 0.0),
          if (traced) PlanProbe.codegenTotalSec - cg0 else 0.0, None)
      case Left(e) =>
        Result(name, wall, cpu, -1, "", (0.0, 0.0, 0.0), 0.0, Some(String.valueOf(e.getMessage).take(300)))
    }
  }

  /** pins.json: {"name": {"rows": n, "hash": "hex"}, ...}. */
  def readPins(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    """"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"\s*\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def writePins(path: String, results: Seq[Result]): Unit = {
    val body = results.sortBy(_.name).map(r =>
      s"""  "${r.name}": {"rows": ${r.rows}, "hash": "${r.hash}"}""").mkString(",\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s"{\n$body\n}\n".getBytes("UTF-8"))
  }
}
