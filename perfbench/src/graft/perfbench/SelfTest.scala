package graft.perfbench

/** The benchmark's own checks: the tail-percentile rule, the replay
  * model on a tiny seed (both CDC shapes end to end, every gate green),
  * and failure counting — an injected corrupt Avro frame must count as
  * one failed batch, not crash the run or trip the other gates.
  *
  * `SelfTest --work-dir DIR` prints a detail line and a result line like
  * [[Main]]; `correct` is true when every check passed. */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val a = Main.parse(args)
    val workDir = a("work-dir")
    val out = new Report
    def check(name: String, ok: Boolean, info: => Any = ""): Unit = {
      out.op(ok, s"$name: $info")
      out.detail(name) = if (ok) "ok" else s"FAILED $info"
    }

    // tail rule: highest ladder rung with >= 10 samples beyond it
    def ramp(n: Int) = (1 to n).map(_.toDouble)
    check("tail.n10_is_max", Stats.tail(ramp(10)) == Stats.Tail(100, 10.0, 0, 10, ruleMet = false),
      Stats.tail(ramp(10)))
    check("tail.n20_is_p50", Stats.tail(ramp(20)) == Stats.Tail(50, 10.0, 10, 20, ruleMet = true),
      Stats.tail(ramp(20)))
    check("tail.n39_is_p50", Stats.tail(ramp(39)).percentile == 50, Stats.tail(ramp(39)))
    check("tail.n40_is_p75", Stats.tail(ramp(40)) == Stats.Tail(75, 30.0, 10, 40, ruleMet = true),
      Stats.tail(ramp(40)))
    check("tail.n100_is_p90", Stats.tail(ramp(100)).percentile == 90, Stats.tail(ramp(100)))
    check("tail.n1000_is_p99", Stats.tail(ramp(1000)) == Stats.Tail(99, 990.0, 10, 1000, ruleMet = true),
      Stats.tail(ramp(1000)))

    // replay model: rolling back reproduces an earlier state exactly
    val s = new CdcStream(7, 50, 20, 2, skewed = true, twoSchemaEvery = 2, recencyMean = 5)
    (1 to 3).foreach(_ => s.nextBatch())
    val at3 = s.model.clone()
    (1 to 4).foreach(_ => s.nextBatch())
    s.rollbackTo(3)
    check("model.rollback", s.model == at3)

    val spark = Main.session(2, workDir)
    val tiny = CdcConfig(topics = 1, mergeOnRead = false, skewedKeys = true, seedRows = 300,
      batchSize = 40, lookupsPerBatch = 3, maintenanceEvery = 3, warmBatches = 1,
      maxBatches = 5)
    def runCdc(name: String, cfg: CdcConfig, seed: Long): Report = {
      val rep = new Report
      new CdcBench(spark, cfg, seed, 1e6, traced = false, s"$workDir/$name", rep, None).run(0.0)
      rep
    }

    val cow = runCdc("cow", tiny, 11)
    check("cdc.cow_tiny_all_gates", cow.failed == 0 && cow.attempted == 5 + 15 + 4,
      s"attempted=${cow.attempted} failures=${cow.failures}")
    val cow2 = runCdc("cow2", tiny, 12)
    check("cdc.cow_second_seed", cow2.failed == 0, cow2.failures)
    val mor = runCdc("mor", tiny.copy(topics = 2, mergeOnRead = true, skewedKeys = false,
      lookupsPerBatch = 1, concurrency = 2, maxBatches = 4), 13)
    check("cdc.mor_tiny_all_gates", mor.failed == 0, s"attempted=${mor.attempted} failures=${mor.failures}")

    val bad = runCdc("corrupt", tiny.copy(corruptBatch = Some(3)), 14)
    check("cdc.corrupt_frame_counts_one_failed_batch",
      bad.failed == 1 && bad.attempted == cow.attempted &&
        bad.failures.headOption.exists(_.contains("batch 3")),
      s"attempted=${bad.attempted} failed=${bad.failed} failures=${bad.failures}")

    // traced call sequence against processBatch
    val eqRep = new Report
    val eq = new CdcBench(spark, tiny, 15, 1e6, traced = true, s"$workDir/eq", eqRep, None).equivalence()
    check("cdc.traced_sequence_equivalent", eq && eqRep.failed == 0, eqRep.failures)

    spark.stop()
    println("{\"detail\":" + Json.value(out.detail) + "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{}}""")
  }
}
