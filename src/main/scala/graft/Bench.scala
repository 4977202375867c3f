package graft

import graft.core.GraftSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Timing sinks each result into the `noop` v2 sink
  * so the full plan executes (a bare `.count()` lets Catalyst prune the
  * projections being measured); failures are reported in an `errors` map
  * with a -1 timing instead of being swallowed as ~0s successes.
  *
  * The run is SELF-DESCRIBING: `bench_detail.json` carries, per query,
  * the executor CPU time, task run time, GC time, task count, max task
  * duration and spill next to the wall-clock — enough to tell engine
  * time from machine noise from the artifact alone — plus the event-log
  * analyzer's whole-run health bands (GC/CPU/memory/skew), computed by
  * pointing [[graft.tools.EventLogAnalyzer]] at the event log this very
  * run wrote (the reference's analyze-your-own-run verification loop).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val evDir = java.nio.file.Files.createTempDirectory("graft-bench-evlog")
    val spark = GraftSession
      .builder(appName = "graft-bench", master = s"local[$cpus]",
        shufflePartitions = cpus.toInt)
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", evDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // Neutral warmup: initialize codegen/shuffle/parquet machinery once so
    // the alphabetically-first query doesn't absorb session bring-up. No
    // query work is precomputed (different tables/plans).
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 10).as("k"))
      .count().write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").write.format("noop")
      .mode("overwrite").save()
    // SELF-ADJUDICATION: run the graft-free calibration walls (the
    // PerfBudget probes) at bench start and end and emit them with the
    // results — a 4× host storm then prints its own factor in the
    // artifact instead of costing extra full runs to diagnose (the r20
    // driver bench read 1258 s vs 289 s same-code; four runs were spent
    // proving it was host phase). Runs under its own job group so the
    // ~2×4 s of probe work never pollutes a query's attributed metrics
    // and is excluded from the reported total.
    spark.sparkContext.setJobGroup("_calib", "_calib")
    val (cpuCalib0, fsCalib0) = PerfBudget.calibrate(spark)
    spark.sparkContext.clearJobGroup()
    val recordedCalib: Option[(Double, Double)] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
            "PERF_BUDGET.json")), java.nio.charset.StandardCharsets.UTF_8)
        val num = """"cpu_sec"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble)
        val fs = """"fs_sec"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble)
        for (c <- num; f <- fs) yield (c, f)
      } catch { case _: Throwable => None }
    // reported as "abandoned_scans" (the summary line's key set is
    // fixed): store writes whose own file count could not be read,
    // expected 0
    val abandoned0 = org.apache.spark.sql.StoreWrite.unreadCounts.get()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          false
        }
      spark.sparkContext.clearJobGroup()
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    spark.sparkContext.setJobGroup("_calib", "_calib")
    val (cpuCalib1, fsCalib1) = PerfBudget.calibrate(spark)
    spark.sparkContext.clearJobGroup()
    val abandonedDelta = org.apache.spark.sql.StoreWrite.unreadCounts.get() - abandoned0
    def js(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val qs = results.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // host factor vs the RECORDED calibration (PERF_BUDGET.json), when
    // present: >~2 says the run sat on a slow host phase — the artifact
    // adjudicates its own total
    val calibJson = {
      val rec = recordedCalib.map { case (c, f) =>
        s""","cpu_recorded":${r3(c)},"fs_recorded":${r3(f)}""" +
          s""","host_factor_start":${r3(PerfBudget.hostFactor(cpuCalib0, fsCalib0, c, f))}""" +
          s""","host_factor_end":${r3(PerfBudget.hostFactor(cpuCalib1, fsCalib1, c, f))}"""
      }.getOrElse("")
      s"""{"cpu_start":${r3(cpuCalib0)},"fs_start":${r3(fsCalib0)},""" +
        s""""cpu_end":${r3(cpuCalib1)},"fs_end":${r3(fsCalib1)}$rec,""" +
        s""""abandoned_scans":$abandonedDelta}"""
    }
    val summaryJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"calibration":$calibJson,"errors":$errJson,"n_failed":${errors.size},"sf":"$sfDir"}"""
    // Per-query timings go to a file and an EARLY stdout line; the driver
    // keeps only a ~2 KB tail of stdout and parses the LAST line as JSON,
    // so the final line must be a compact summary (r04's 4.8 KB full line
    // overflowed the tail window and parsed as null).
    println(summaryJson)
    // stop() BEFORE the final print: the compact JSON must be the last
    // stdout line for the driver's parser (session shutdown logs at INFO
    // are suppressed, but ordering makes it robust regardless of level).
    spark.stop()
    // per-query metrics are snapshotted only now: stop() drains the
    // async listener bus, so the tail queries' late task-end events are
    // all accounted — no sleep-and-hope race
    val qm = results.map { case (name, wall) =>
      val a = metrics.total(name)
      js(name) + ":" + List(
        s""""wall_sec":${r3(wall)}""",
        s""""cpu_sec":${r3(a.cpuNs / 1e9)}""",
        s""""task_run_sec":${r3(a.runMs / 1e3)}""",
        s""""gc_sec":${r3(a.gcMs / 1e3)}""",
        s""""tasks":${a.tasks}""",
        s""""max_task_sec":${r3(a.maxTaskMs / 1e3)}""",
        s""""spill_bytes":${a.spillBytes}""").mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // whole-run health bands from the event log this run just wrote —
    // best-effort: an analyzer hiccup must not cost the bench artifact
    val analyzerJson =
      try {
        val rep = graft.tools.EventLogAnalyzer.analyzeDir(evDir)
        val skews = rep.skewedStages.sortBy(-_.skewRatio).take(5).map(s =>
          s"""{"stage":${s.stageId},"tasks":${s.tasks},"median_ms":${s.medianMs},"max_ms":${s.maxMs},"skew_ratio":${r3(s.skewRatio)}}""")
          .mkString("[", ",", "]")
        s"""{"gc_share_pct":${r3(rep.gcSharePct)},"gc_health":${js(rep.gcHealth)},""" +
          s""""cpu_efficiency_pct":${r3(rep.cpuEfficiencyPct)},"cpu_health":${js(rep.cpuHealth)},""" +
          s""""memory_health":${js(rep.memory.memoryHealth)},""" +
          s""""disk_spill_bytes":${rep.memory.totalDiskSpill},""" +
          s""""n_skewed_stages":${rep.skewedStages.size},"top_skewed_stages":$skews}"""
      } catch { case e: Throwable => js(s"analyze failed: ${e.getMessage}") }
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_metrics":$qm,"calibration":$calibJson,"analyzer":$analyzerJson,"errors":$errJson,"n_failed":${errors.size},"sf":"$sfDir"}"""
    val detailPath = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "bench_detail.json").toAbsolutePath
    val detailWritten =
      try {
        java.nio.file.Files.write(detailPath,
          detailJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch { case _: Throwable => false }
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(evDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => () }
    // advertise the detail file only when it actually landed
    val detail = if (detailWritten) s""","detail":${js(detailPath.toString)}""" else ""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${errors.size},"calibration":$calibJson,"sf":"$sfDir"$detail}""")
  }
}
