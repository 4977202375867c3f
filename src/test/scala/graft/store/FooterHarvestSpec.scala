package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The two execution shapes of the footer-stats harvest must be
  * indistinguishable in manifest content: `write.stats.
  * distributed-min-files=0` forces every write through the
  * distributed job ([[FooterHarvest.distributed]]), a huge threshold
  * forces the driver-local overlapped reads — same footers, same
  * stats, same pruning behavior. (Break-even measured by
  * `graft.Probe <sf> stats`; at 100 TB the distributed shape is the
  * point — zero driver-side footer opens for a 10³–10⁴-file
  * backfill.) */
class FooterHarvestSpec extends SparkSpec {

  private def cat() =
    new LakeCatalog(spark, Files.createTempDirectory("fh-test").toString)

  private def df(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"s${i % 7}", i * 1.5, s"p${i % 3}"))
      .toDF("id", "s", "amount", "p")
  }

  private def entryStats(t: LakeTable): Seq[(Option[String], Map[String, (String, String)])] =
    t.currentSnapshot.get.entries
      .map(e => e.partition -> e.stats)
      .sortBy(_._1.getOrElse(""))

  test("distributed harvest matches driver-local stats exactly (partitioned)") {
    val c = cat()
    val dist = c.table("db.dist")
    val local = c.table("db.local")
    val data = df(3000).repartition(6) // several files per leaf
    dist.createOrReplace(data, partitionBy = Seq("p"),
      tableProperties = Map("write.stats.distributed-min-files" -> "0"))
    local.createOrReplace(data, partitionBy = Seq("p"),
      tableProperties = Map("write.stats.distributed-min-files" -> "1000000"))
    val d = entryStats(dist)
    val l = entryStats(local)
    d.map(_._1) shouldBe l.map(_._1) // same leaves
    d shouldBe l // identical per-leaf min/max maps
    d.foreach { case (_, stats) =>
      stats.keySet shouldBe Set("id", "s", "amount") // p is a partition col
    }
  }

  test("distributed harvest matches driver-local stats and rows (unpartitioned)") {
    val c = cat()
    val dist = c.table("db.dist_u")
    val local = c.table("db.local_u")
    val data = df(2000).drop("p").repartition(5)
    dist.createOrReplace(data,
      tableProperties = Map("write.stats.distributed-min-files" -> "0"))
    local.createOrReplace(data,
      tableProperties = Map("write.stats.distributed-min-files" -> "1000000"))
    entryStats(dist) shouldBe entryStats(local)
    dist.read.count() shouldBe 2000L
    // the harvested ranges are the real ones
    val stats = entryStats(dist).head._2
    stats("id") shouldBe ("0", "1999")
  }

  test("merge-on-read delete files harvest key ranges distributed too") {
    val c = cat()
    import spark.implicits._
    val t = c.table("db.mor")
    t.createOrReplace(df(1000).drop("p"),
      tableProperties = Map("write.stats.distributed-min-files" -> "0"))
    t.mergeIntoMoR(
      (0 until 50).map(i => (i.toLong, "upd", 0.0)).toDF("id", "s", "amount")
        .repartition(4),
      Seq("id"))
    t.read.filter(col("s") === "upd").count() shouldBe 50L
    t.read.count() shouldBe 1000L
    val del = t.currentSnapshot.get.deleteEntries
    del should not be empty
    // the delete entry's key-range stats survived the distributed path
    del.last.stats.get("id") shouldBe Some(("0", "49"))
  }

  test("partial merge poisons a column dropped anywhere in the file set") {
    val prunable = FooterHarvest.prunableCols(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val a = FooterHarvest.Partial(Map("id" -> (BigDecimal(1), BigDecimal(5))), Set.empty, 10L)
    val b = FooterHarvest.Partial(Map("id" -> (BigDecimal(0), BigDecimal(9))), Set("id"), 7L)
    val m = FooterHarvest.merge(prunable, a, b)
    m.rows shouldBe 17L
    m.acc("id") shouldBe (BigDecimal(0), BigDecimal(9))
    FooterHarvest.finish(m)._1 shouldBe Map.empty // dropped wins
  }
}
