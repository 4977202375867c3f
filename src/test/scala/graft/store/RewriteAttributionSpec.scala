package graft.store

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Job-group attribution through the rewrite pool: the per-slice write
  * jobs of a clustered rewrite are submitted from RewriteEc threads,
  * and SparkContext job-group/description/pool are THREAD-LOCAL — so
  * without explicit propagation those jobs carry no group and a
  * [[graft.TaskMetricsListener]] (Bench, Probe) books their task time under
  * "_warmup" instead of the running query. This spec pins the
  * propagation: every job started while the caller holds a job group —
  * pool-thread slices included — must report that group.
  *
  * Suites run sequentially in the forked test JVM (Test/fork without
  * testForkedParallel), so the recording window only sees this spec's
  * jobs.
  */
class RewriteAttributionSpec extends SparkSpec {

  private def df(rows: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("clustered-rewrite slice jobs inherit the caller's job group") {
    val groups = new ConcurrentLinkedQueue[String]()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.incrementAndGet() // counted ALWAYS — the drain signal below
        if (recording) groups.add(
          Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse("<none>"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val wh = Files.createTempDirectory("rewrite-attr").toString
      val t = new LakeCatalog(spark, wh).table("db.t")
      // several appends ⇒ several files, so the rewrite has real slices
      t.createOrReplace(df((1L to 400L).map(i => (i, i.toDouble))))
      t.append(df((401L to 800L).map(i => (i, i.toDouble))))
      t.append(df((801L to 1200L).map(i => (i, i.toDouble))))

      // the listener bus is async: the group-less SETUP jobs above may
      // still have JobStart events in flight — drain (seen-counter
      // quiescence; it counts regardless of the recording flag) before
      // opening the window, or a late setup event lands inside it and
      // fails the all-jobs assertion
      def settle(): Unit = {
        var last = -1
        var same = 0
        while (same < 3) {
          Thread.sleep(100)
          val n = seen.get()
          if (n == last) same += 1 else { same = 0; last = n }
        }
      }
      settle()
      groups.clear()
      spark.sparkContext.setJobGroup("rw-attr-test", "sorted rewrite under group")
      recording = true
      try {
        // tiny target ⇒ multiple range slices ⇒ multiple pool-thread jobs
        t.rewriteSortedDataFiles(Seq("id"), targetFileBytes = 4096L)
      } finally spark.sparkContext.clearJobGroup()
      // keep recording through a second drain, so LATE-delivered rewrite
      // events are captured too (no actions run between here and the
      // close, so quiescence means the window saw every rewrite job)
      settle()
      recording = false

      import scala.jdk.CollectionConverters._
      val recorded = groups.asScala.toSeq
      recorded should not be empty
      // EVERY job in the window — pool-thread slice writes included —
      // carried the caller's group; "<none>" is the pre-fix regression
      all(recorded) shouldBe "rw-attr-test"
      t.read.count() shouldBe 1200
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
