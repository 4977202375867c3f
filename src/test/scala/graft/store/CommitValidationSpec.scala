package graft.store

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.{DataFrame, StoreWrite}

import graft.SparkSpec

/** Harvest validation for committer-v2 writes: the manifest harvest
  * trusts a directory listing of the freshly-written dir, so a stray
  * data file left by an abandoned task attempt (partial task commit +
  * retry with a different file set — the MAPREDUCE-7282 class) would
  * be committed as live rows. The net: the dir's file count is checked
  * against the commit protocol's OWN per-task-commit report
  * (`numFiles`, read off the write's own command by [[StoreWrite]]),
  * and a surplus fails the write BEFORE the manifest commit. */
class CommitValidationSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFilesUnder(abs: String): Long = {
    var n = 0L
    Files.walk(Paths.get(abs)).iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith("."))
        n += 1
    }
    n
  }

  private def freshPath(): String =
    s"${Files.createTempDirectory("cv")}/data/${java.util.UUID.randomUUID().toString.take(18)}"

  /** Writes `df` through the shim; its count must equal the files on disk. */
  private def assertExactCount(df: DataFrame, partitionCols: Seq[String] = Nil): Long = {
    val abs = freshPath()
    val reported = StoreWrite.parquet(df, abs, partitionCols)
    val onDisk = parquetFilesUnder(abs)
    onDisk should be > 0L
    reported shouldBe Some(onDisk)
    onDisk
  }

  test("StoreWrite counts partitioned, unpartitioned, persisted writes") {
    val unread0 = StoreWrite.unreadCounts.get()
    // adaptive execution on (the shared session: the write node sits
    // under an AdaptiveSparkPlanExec) and off (a child session, so the
    // shared session's conf stays untouched)
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    Seq(spark, noAqe).foreach { s =>
      val rows = s.range(0, 90).selectExpr("id", "CAST(id AS STRING) AS v", "id % 3 AS p")
      assertExactCount(rows.repartition(2), Seq("p")) should be > 1L
      assertExactCount(rows.drop("p").repartition(4)) shouldBe 4L
      val persisted = rows.repartition(3).persist()
      try {
        persisted.count()
        assertExactCount(persisted) shouldBe 3L
      } finally persisted.unpersist(false)
    }
    StoreWrite.unreadCounts.get() shouldBe unread0
  }

  test("a stray file in the written dir fails the commit; the report's absence degrades") {
    val wh = Files.createTempDirectory("cv2").toString
    val cat = new LakeCatalog(spark, wh)
    cat.createDatabase("db")
    val t = cat.table("db.hv")
    t.createOrReplace((1L to 20L).toDF("id"))
    val dataDir = new java.io.File(s"$wh/db/hv/data")
      .listFiles().filter(_.isDirectory).head
    val files = dataDir.listFiles().count(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    // consistent dir + honest report: passes
    t.validateHarvest(dataDir.toString, Some(files.toLong))
    // stray attempt output appears in the listing but not in the report
    val legit = dataDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val stray = new java.io.File(dataDir, "part-99999-deadbeef.c000.snappy.parquet")
    Files.copy(legit.toPath, stray.toPath)
    val ex = intercept[IllegalStateException] {
      t.validateHarvest(dataDir.toString, Some(files.toLong))
    }
    ex.getMessage should include("stray task-attempt output")
    // no report captured (listener-bus lag / drop): fail-open, no throw
    t.validateHarvest(dataDir.toString, None)
    // deficit (report larger than the listing) warns, never aborts
    t.validateHarvest(dataDir.toString, Some(files.toLong + 10))
  }

  test("every store write validates live: an append still lands green end-to-end") {
    val wh = Files.createTempDirectory("cv3").toString
    val cat = new LakeCatalog(spark, wh)
    cat.createDatabase("db")
    val t = cat.table("db.live")
    t.createOrReplace(
      (1L to 60L).map(i => (i, (i % 4).toString)).toDF("id", "p"),
      partitionBy = Seq("p"))
    t.append((61L to 80L).map(i => (i, (i % 4).toString)).toDF("id", "p"))
    t.read.count() shouldBe 80
  }

  test("a 1-file write racing a 4-file write reports exactly 1") {
    // each write reads its own command's metric, so a concurrent write
    // on another thread can neither raise nor lower this one's count
    val barrier = new CyclicBarrier(2)
    @volatile var foreign: Either[Throwable, Option[Long]] = Right(None)
    val t = new Thread(() =>
      foreign =
        try {
          val df = (1 to 40).map(i => (i.toLong, s"f$i")).toDF("id", "v").repartition(4)
          barrier.await()
          Right(StoreWrite.parquet(df, freshPath(), Nil))
        } catch { case scala.util.control.NonFatal(e) => Left(e) })
    t.start()
    val mine = (1L to 10L).toDF("id").coalesce(1)
    barrier.await()
    val reported = StoreWrite.parquet(mine, freshPath(), Nil)
    t.join()
    foreign.left.foreach(e => fail("foreign write failed", e))
    reported shouldBe Some(1L)
    foreign shouldBe Right(Some(4L))
  }
}
