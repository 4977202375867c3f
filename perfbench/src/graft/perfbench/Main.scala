package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.PerfBudget
import graft.core.GraftSession
import graft.store.StoreTiming

/** Spark engine metrics per operation (batch or query), from the job
  * groups the benchmark sets. */
object SparkLayers {
  def report(rep: Report, p: SparkProbe, ops: Seq[(String, Double)], suffix: String = "",
      executorOnly: Boolean = false): Unit = {
    val n = math.max(1, ops.size).toDouble
    val accs = ops.map { case (g, wall) => (p.acc(g), wall) }
    def avg(f: p.Acc => Double): Double = accs.map(a => f(a._1)).sum / n
    val active = avg(p.activeSec)
    if (!executorOnly) {
      rep.layer("spark.jobs", avg(_.jobs.sum.toDouble), "count")
      rep.layer("spark.stages", avg(_.stages.sum.toDouble), "count")
      rep.layer("spark.tasks", avg(_.tasks.sum.toDouble), "count")
      rep.layer("spark.job_active_s", active, "s")
      rep.layer("driver.only_s", accs.map(_._2).sum / n - active, "s")
    }
    rep.layer(s"spark.executor_cpu_s$suffix", avg(_.cpuNs.sum / 1e9), "s")
    rep.layer(s"spark.executor_run_s$suffix", avg(_.runMs.sum / 1e3), "s")
    rep.layer(s"spark.gc_s$suffix", avg(_.gcMs.sum / 1e3), "s")
    rep.layer(s"spark.shuffle_read_bytes$suffix", avg(_.shRead.sum.toDouble), "bytes")
    rep.layer(s"spark.shuffle_write_bytes$suffix", avg(_.shWrite.sum.toDouble), "bytes")
    rep.layer(s"spark.fetch_wait_s$suffix", avg(_.fetchWaitMs.sum / 1e3), "s")
    rep.layer(s"spark.spill_bytes$suffix", avg(_.spill.sum.toDouble), "bytes")
  }
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload cdc_cow|cdc_mor_multi|query_mix --seed N --seconds S
  *      --trace 0|1 --work-dir DIR [--data-dir DIR --pins FILE]
  *      [--record-pins FILE] [--spans-out FILE]
  * }}}
  *
  * Prints a detail line (`{"detail": ...}`) and, last, the result line
  * with `correct`, `attempted`, `failed` and `metrics`. */
object Main {

  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The resident-set high-water mark, a diagnostic: it follows the
    * collector's heap sizing, not what the program holds. */
  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Recorded calibration from PERF_BUDGET.json, when present. */
  private def recordedCalibration: Option[(Double, Double)] =
    try {
      val txt = new String(Files.readAllBytes(Paths.get("PERF_BUDGET.json")), "UTF-8")
      for {
        c <- """"cpu_sec"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt).map(_.group(1).toDouble)
        f <- """"fs_sec"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt).map(_.group(1).toDouble)
      } yield (c, f)
    } catch { case _: Throwable => None }

  /** Host calibration marks around the measured phase: diagnostics
    * only, never a metric and never used to rescale one. Each mark is
    * one reading of each `PerfBudget.calibrate` probe (calibrate takes
    * the min of three, which would triple the marks' share of a run). */
  final class CalibrationMarks(spark: SparkSession) {
    var start: Map[String, Any] = Map.empty
    var end: Map[String, Any] = Map.empty
    def mark(): Unit = {
      spark.sparkContext.setJobGroup("_calib", "_calib", false)
      val t0 = System.nanoTime()
      val (cpu, fs) = (PerfBudget.cpuCalibOnce(spark), PerfBudget.fsCalibOnce(spark))
      spark.sparkContext.clearJobGroup()
      val m = Map("cpu_s" -> cpu, "fs_s" -> fs, "mark_s" -> (System.nanoTime() - t0) / 1e9) ++
        recordedCalibration.map { case (c, f) => "host_factor" -> PerfBudget.hostFactor(cpu, fs, c, f) }
      if (start.isEmpty) start = m else end = m
    }
  }

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = GraftSession.builder(appName = "perfbench", master = s"local[$cpus]",
        shufflePartitions = cpus)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session-independent warm-up: codegen, shuffle and collect paths. */
  def neutralWarmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    spark.range(20000).groupBy((col("id") % 10).as("k")).count().collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val workDir = a("work-dir")
    val cpus = Runtime.getRuntime.availableProcessors()
    val rep = new Report

    val t0 = System.nanoTime()
    val spark = session(cpus, workDir)
    val warm = (1 to 3).map { _ =>
      val w0 = System.nanoTime(); neutralWarmup(spark); (System.nanoTime() - w0) / 1e9
    }
    val sessionSec = (System.nanoTime() - t0) / 1e9 - warm.sum + Stats.median(warm)
    rep.detail("core.session_s") = sessionSec

    val probe = if (traced) {
      Trace.on = true
      StoreTiming.enable()
      val p = new SparkProbe
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None

    val runStart = System.nanoTime()
    // calibration marks bracket the measured phase, after set-up warmed
    // the parquet and codegen paths the probes share with the workload
    val marks = new CalibrationMarks(spark)
    workload match {
      case "cdc_cow" | "cdc_mor_multi" =>
        val cfg = if (workload == "cdc_cow") CdcConfig.Cow else CdcConfig.MorMulti
        val bench = new CdcBench(spark, cfg, seed, seconds, traced, workDir, rep, probe, Some(marks))
        if (traced) rep.layer("trace.equivalent", if (bench.equivalence()) 1.0 else 0.0, "bool")
        bench.run(sessionSec)
      case "query_mix" =>
        runQueryMix(spark, a, seconds, traced, rep, probe, sessionSec, marks)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val runWall = (System.nanoTime() - runStart) / 1e9

    val (liveHeap, nonHeap) = LiveMemory.retained()
    rep.e2e("retained_mb", liveHeap + nonHeap, "MB")
    rep.detail("retained_heap_mb") = liveHeap
    rep.detail("retained_non_heap_mb") = nonHeap
    rep.detail("vm_hwm_mb") = vmHwmMb
    if (traced) {
      val selfTime = Trace.selfTimeByLayer
      rep.detail("self_time_s_by_layer") = selfTime
      rep.layer("core.session_s", sessionSec, "s")
      rep.layer("trace.self_share",
        (Trace.selfNanos.sum + probe.map(_.selfNanos.sum).getOrElse(0L)) / 1e9 / runWall, "ratio")
      a.get("spans-out").foreach { path =>
        Files.write(Paths.get(path), Trace.toJsonLines.toSeq.asJava)
        rep.detail("spans_file") = path
        rep.detail("spans") = Trace.all.size
      }
    }
    rep.detail("workload") = workload
    rep.detail("seed") = seed
    rep.detail("calibration_start") = marks.start
    rep.detail("calibration_end") = marks.end
    rep.detail("failures") = rep.failures.toSeq
    rep.detail("error_rate") = rep.failed.toDouble / math.max(1L, rep.attempted)
    spark.stop()

    println("{\"detail\":" + Json.value(rep.detail) + "}")
    val metrics = if (traced) rep.perLayer else rep.endToEnd
    println(s"""{"correct":${rep.failed == 0},"attempted":${rep.attempted},""" +
      s""""failed":${rep.failed},"metrics":${Json.metrics(metrics)}}""")
  }

  private def runQueryMix(spark: SparkSession, a: Map[String, String], seconds: Double,
      traced: Boolean, rep: Report, probe: Option[SparkProbe], sessionSec: Double, marks: CalibrationMarks): Unit = {
    val dataDir = a("data-dir")
    val pins = QueryMix.readPins(a.getOrElse("pins", ""))
    // table footers and the first parquet scan are set-up, as for a user
    // whose session already serves queries
    val (_, readSec) = {
      val t0 = System.nanoTime()
      new java.io.File(dataDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach(f => spark.read.parquet(f.getPath).limit(1).collect())
      (None, (System.nanoTime() - t0) / 1e9)
    }
    marks.mark()
    // first runs: each query once, cold, as a user meets it; per-layer
    // figures come from these
    val first = QueryMix.Queries.map(q => QueryMix.runOne(spark, dataDir, q, q, traced))
    // repeats: the list again, in whole passes until `seconds` have
    // passed, with the queries' code compiled. In the traced run each
    // query repeats once untraced and once traced, the order alternating
    // from query to query and pass to pass, for the tracing overhead.
    val repeats = collection.mutable.ArrayBuffer[(QueryMix.Result, Boolean)]()
    val repStart = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - repStart < seconds * 1e9) {
      pass += 1
      QueryMix.Queries.zipWithIndex.foreach { case (q, i) =>
        val order = if (!traced) Seq(false) else if ((i + pass) % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { t =>
          repeats += QueryMix.runOne(spark, dataDir, q, s"$q#repeat$pass${if (t) "-traced" else ""}", t) -> t
        }
      }
    }
    rep.detail("repeat_passes") = pass
    marks.mark()
    a.get("record-pins").foreach(p => QueryMix.writePins(p, first))
    def pinned(r: QueryMix.Result): Boolean =
      r.error.isEmpty && (a.contains("record-pins") || pins.get(r.name).contains((r.rows, r.hash)))
    (first ++ repeats.toSeq.map(_._1)).foreach { r =>
      rep.op(pinned(r), s"${r.name}: rows=${r.rows} hash=${r.hash} pin=${pins.get(r.name)} " +
        r.error.getOrElse(""))
    }
    val walls = first.map(_.wall)
    val plain = repeats.toSeq.collect { case (r, false) => r.wall }
    // rates over the first runs and the first repeat pass: later passes
    // would shift the mix toward the faster repeats from run to run
    val twoPasses = first ++ repeats.toSeq.collect { case (r, false) => r }.take(first.size)
    rep.e2e("throughput_per_s", twoPasses.size / twoPasses.map(_.wall).sum, "1/s")
    rep.e2e("work_per_cpu_s", twoPasses.size / twoPasses.map(_.cpu).sum, "1/s")
    rep.e2e("op_s_p50", Stats.median(walls), "s")
    // per query first, so the median does not jump between queries as
    // the pooled sample's middle moves
    val repeatByQuery = QueryMix.Queries.map(q => q -> repeats.toSeq.collect {
      case (r, false) if r.name == q => r.wall
    })
    rep.e2e("read_s_p50", Stats.median(repeatByQuery.map(x => Stats.median(x._2))), "s")
    rep.e2e("setup_s", sessionSec + readSec, "s")
    rep.tail("op_s_tail", walls, "s", rep.layer)
    rep.tail("read_s_tail", plain, "s", rep.layer)
    rep.detail("query_wall_s") = walls.sum
    rep.detail("query_s_p50") = Stats.median(walls)
    rep.detail("repeat_wall_s") = plain.sum
    rep.detail("repeat_s_by_query") = repeatByQuery.toMap
    rep.detail("queries") = first.map(r => r.name -> r.wall).toMap
    if (traced) probe.foreach { p =>
      BusDrain(spark.sparkContext)
      SparkLayers.report(rep, p, first.map(r => r.name -> r.wall))
      Seq("q", "d", "e", "m", "s").foreach { fam =>
        val rs = first.filter(_.name.startsWith(fam))
        SparkLayers.report(rep, p, rs.map(r => r.name -> r.wall), s".$fam", executorOnly = true)
        rep.layer(s"query.wall_s.$fam", rs.map(_.wall).sum, "s")
      }
      val n = math.max(1, first.size).toDouble
      rep.layer("plan.analysis_s", first.map(_.plan._1).sum / n, "s")
      rep.layer("plan.optimization_s", first.map(_.plan._2).sum / n, "s")
      rep.layer("plan.planning_s", first.map(_.plan._3).sum / n, "s")
      rep.layer("codegen.compile_s", first.map(_.codegen).sum / n, "s")
      val tracedRepeats = repeats.toSeq.collect { case (r, true) => r }
      rep.layer("trace.overhead_ratio", tracedRepeats.map(_.wall).sum / plain.sum, "ratio")
      rep.layer("trace.equivalent",
        if ((first ++ tracedRepeats).forall(pinned)) 1.0 else 0.0, "bool")
    }
  }
}
