package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions.col

/** The shared task-metrics listener's booking, Probe's argument check,
  * and the query probes end to end on the sf0.001 test data. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withListener[A](body: TaskMetricsListener => A): A = {
    val l = new TaskMetricsListener
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def inGroup[A](group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def probeOutput(argv: String*): String = {
    val out = new ByteArrayOutputStream()
    val invocation = Probe.parse(sf +: argv).fold(p => fail(p), identity)
    Console.withOut(out)(invocation.run(spark))
    out.toString("UTF-8")
  }

  test("listener books a grouped job under its group and an ungrouped one under _warmup") {
    withListener { l =>
      inGroup("probe-spec-g1")(spark.range(0, 100, 1, 3).collect())
      spark.range(0, 10, 1, 2).collect()
      ListenerBusDrain(spark.sparkContext)
      l.total("probe-spec-g1").tasks shouldBe 3
      l.stages("probe-spec-g1").map(_._3.tasks) shouldBe Seq(3)
      l.stages(TaskMetricsListener.Ungrouped).map(_._3.tasks) should contain(2L)
      l.total("no-such-group") shouldBe TaskTotals()
    }
  }

  test("a group's per-stage rows sum to its totals") {
    withListener { l =>
      inGroup("probe-spec-g2") {
        spark.range(0, 5000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      }
      ListenerBusDrain(spark.sparkContext)
      val rows = l.stages("probe-spec-g2").map(_._3)
      val tot = l.total("probe-spec-g2")
      rows.size should be >= 2
      tot.tasks should be >= 5L
      tot.tasks shouldBe rows.map(_.tasks).sum
      tot.runMs shouldBe rows.map(_.runMs).sum
      tot.cpuNs shouldBe rows.map(_.cpuNs).sum
      tot.gcMs shouldBe rows.map(_.gcMs).sum
      tot.spillBytes shouldBe rows.map(_.spillBytes).sum
      tot.shuffleReadBytes shouldBe rows.map(_.shuffleReadBytes).sum
      tot.shuffleReadRecords shouldBe rows.map(_.shuffleReadRecords).sum
      tot.shuffleWriteBytes shouldBe rows.map(_.shuffleWriteBytes).sum
      tot.shuffleWriteRecords shouldBe rows.map(_.shuffleWriteRecords).sum
      tot.inputRecords shouldBe rows.map(_.inputRecords).sum
      tot.shuffleWriteRecords should be > 0L
      tot.taskRunMs.size.toLong shouldBe tot.tasks
      tot.maxTaskMs shouldBe rows.map(_.maxTaskMs).max
    }
  }

  test("argument check rejects bad command lines before any session starts") {
    Probe.parse(Seq(sf, "nosuch")).left.toOption.get should include("unknown subcommand")
    Probe.parse(Seq(sf, "scale", "lshfarg")).left.toOption.get should include("integer")
    Probe.parse(Seq(sf, "commit", "typo")).left.toOption.get should include("integer")
    Probe.parse(Seq(sf, "manifest", "5", "x")).left.toOption.get should include("integer")
    Probe.parse(Seq(sf, "stages")).left.toOption.get should include("missing <query>")
    Probe.parse(Seq(sf, "time", "1", "q99_nosuch")).left.toOption.get should include("unknown query")
    Probe.parse(Seq(sf, "audit", "extra")).left.toOption.get should include("unexpected")
    Probe.parse(Seq(sf)).isLeft shouldBe true
    Probe.parse(Seq(sf, "manifest", "5", "20")).isRight shouldBe true

    // the main itself, in a fresh JVM: usage on stderr, non-zero exit,
    // and no SparkContext ever started
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.Probe", sf, "scale", "lshfarg").redirectErrorStream(true).start()
    val output = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    proc.waitFor() should not be 0
    output should include("usage: graft.Probe")
    output should not include "SparkContext"
  }

  test("time, stages and plan each run one query at sf0.001") {
    probeOutput("time", "1", "q01_pricing_agg") should include("PROFILE q01_pricing_agg")

    val stages = probeOutput("stages", "c07_lake_partitioned_cow", "1")
    stages should include("ITER 1 wall")
    stages should include("STORE-PHASE")
    stages should include("STAGES-FOR c07_lake_partitioned_cow")
    stages should include("TOTAL stages=")
    stages.linesIterator.count(_.matches("""\s*\d+\s+\d+\s+\d.*""")) should be > 0

    val tag = s"probespec-${UUID.randomUUID()}"
    val dir = Paths.get("plans", tag)
    try {
      probeOutput("plan", tag, "t", "q01_pricing_agg") should include(
        s"PLAN q01_pricing_agg -> plans/$tag/q01_pricing_agg_t.txt")
      new String(Files.readAllBytes(dir.resolve("q01_pricing_agg_t.txt")), "UTF-8") should
        include("Physical Plan")
    } finally {
      if (Files.exists(dir)) {
        Files.list(dir).iterator().asScala.foreach(Files.delete)
        Files.delete(dir)
      }
    }
  }
}
