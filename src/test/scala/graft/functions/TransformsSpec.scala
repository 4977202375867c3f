package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, StoreWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.Merge

class TransformsSpec extends SparkSpec {

  import spark.implicits._

  test("trimStringColumns trims only strings, keeps order and types") {
    val df = Seq((1, "  a  ", 2.5)).toDF("id", "s", "d")
    val out = Transforms.trimStringColumns(df)
    out.columns.toSeq shouldBe Seq("id", "s", "d")
    out.head() shouldBe org.apache.spark.sql.Row(1, "a", 2.5)
    out.schema("d").dataType shouldBe DoubleType
  }

  test("convertTimestampsToUtc with a non-UTC source zone shifts wall time") {
    val df = Seq(Timestamp.valueOf("2026-01-01 09:00:00")).toDF("ts")
    val utc = Transforms.convertTimestampsToUtc(df, "Asia/Seoul").head().getTimestamp(0)
    utc shouldBe Timestamp.valueOf("2026-01-01 00:00:00")
    // default zone is an identity shift
    Transforms.convertTimestampsToUtc(df).head().getTimestamp(0) shouldBe
      Timestamp.valueOf("2026-01-01 09:00:00")
  }

  test("pkHashColumn: composite order matters, null PK yields null-safe hash") {
    val df = Seq(("a", "b"), ("b", "a")).toDF("k1", "k2")
    val hashes = df.select(Transforms.pkHashColumn(Seq("k1", "k2"))).collect().map(_.getString(0))
    hashes(0) should not be hashes(1) // order is part of identity
    hashes(0) shouldBe org.apache.commons.codec.digest.DigestUtils.md5Hex("a|b")
    // concat_ws skips NULLs: (null,"x") hashes like ("x") — documented
    val n = Seq((Option.empty[String], "x")).toDF("k1", "k2")
      .select(Transforms.pkHashColumn(Seq("k1", "k2"))).head().getString(0)
    n shouldBe org.apache.commons.codec.digest.DigestUtils.md5Hex("x")
  }

  /** `latestPerKey` over `df` held by the driver and distributed: the
    * held input stays held, and both give the same rows. */
  private def latestBothWays(df: DataFrame, keys: Seq[String], order: String,
      tieBreak: Seq[String] = Nil): Seq[Row] = {
    val outs = heldAndDistributed(df).map { case (how, in) =>
      val out = Transforms.latestPerKey(in, keys, order, tieBreak)
      withClue(how) { StoreWrite.local(out).isDefined shouldBe (how == "held") }
      out.collect().toSeq.sortBy(_.toString)
    }
    outs.head shouldBe outs.last
    outs.head
  }

  test("latestPerKey: ties broken deterministically, multi-key partitions") {
    val df = Seq(
      (1L, "a", 10L, 100L), (1L, "a", 10L, 101L), // same orderCol → tieBreak
      (1L, "b", 5L, 1L), (2L, "a", 7L, 2L))
      .toDF("k1", "k2", "ord", "tie")
    val out = latestBothWays(df, Seq("k1", "k2"), "ord", Seq("tie"))
    out.length shouldBe 3
    out.find(r => r.getLong(0) == 1L && r.getString(1) == "a").get.getLong(3) shouldBe 101L
  }

  test("latestPerKey without tieBreak still keeps exactly one row per key") {
    val df = Seq((1L, 5L), (1L, 9L), (1L, 7L)).toDF("k", "ord")
    val out = latestBothWays(df, Seq("k"), "ord")
    out.length shouldBe 1
    out(0).getLong(1) shouldBe 9L
  }

  test("latestPerKey: null order values sort last, a null tie falls to tieBreak") {
    val df = Seq[(Long, Option[Long], Long)](
      (1L, None, 1L), (1L, Some(5L), 2L), (1L, Some(3L), 3L),
      (2L, None, 4L), (2L, None, 6L), (2L, None, 5L))
      .toDF("k", "ord", "tie")
    latestBothWays(df, Seq("k"), "ord", Seq("tie")).map(r => (r.getLong(0), r.getLong(2))) shouldBe
      Seq((1L, 2L), (2L, 6L))
  }

  test("latestPerKey: a full tie without tieBreak keeps one of the tied rows") {
    val df = Seq((1L, 5L, "a"), (1L, 5L, "b"), (1L, 4L, "c")).toDF("k", "ord", "v")
    heldAndDistributed(df).foreach { case (how, in) =>
      val out = Transforms.latestPerKey(in, Seq("k"), "ord").collect()
      withClue(how) {
        out.length shouldBe 1
        Set("a", "b") should contain(out(0).getString(2))
      }
    }
  }

  test("latestPerKey groups NaN, -0.0 and null keys as Spark does; NaN orders highest") {
    val df = Seq[(Option[Double], Double, Int)](
      (Some(Double.NaN), 1.0, 1), (Some(java.lang.Double.longBitsToDouble(0x7ff8000000000123L)), 2.0, 2),
      (Some(-0.0), 1.0, 3), (Some(0.0), 2.0, 4),
      (None, 3.0, 5), (None, 1.0, 6),
      (Some(1.0), 7.0, 7), (Some(1.0), Double.NaN, 8))
      .toDF("k", "ord", "id")
    latestBothWays(df, Seq("k"), "ord").map(_.getInt(2)).sorted shouldBe Seq(2, 4, 5, 8)
  }

  test("confluent expressions at boundary values") {
    val maxId = Array[Byte](0) ++
      java.nio.ByteBuffer.allocate(4).putInt(Int.MaxValue).array() ++ Array[Byte](9)
    val df = Seq(Tuple1(maxId)).toDF("frame")
    val r = df.select(
      Transforms.confluentSchemaId(col("frame")),
      Transforms.confluentPayload(col("frame"))).head()
    r.getInt(0) shouldBe Int.MaxValue
    r.getAs[Array[Byte]](1).toSeq shouldBe Seq[Byte](9)
    // empty payload
    val empty = Array[Byte](0, 0, 0, 0, 42)
    val r2 = Seq(Tuple1(empty)).toDF("frame")
      .select(Transforms.confluentSchemaId(col("frame")),
        org.apache.spark.sql.functions.length(
          Transforms.confluentPayload(col("frame")))).head()
    r2.getInt(0) shouldBe 42
    r2.getInt(1) shouldBe 0
  }

  test("Merge.upsert non-broadcast and broadcast paths agree") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val source = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    val expected = Set((1L, "a"), (2L, "B"), (3L, "c"))
    for (hint <- Seq(true, false)) {
      Merge.upsert(target, source, Seq("id"), broadcastSource = hint)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe expected
      Merge.deleteMatching(target, source, Seq("id"), broadcastDeletes = hint)
        .collect().map(_.getLong(0)).toSet shouldBe Set(1L)
      Merge.semiMatching(target, source, Seq("id"), broadcastProbe = hint)
        .collect().map(_.getLong(0)).toSet shouldBe Set(2L)
    }
  }

  test("Merge.upsert on composite keys") {
    val target = Seq((1L, "x", "old"), (1L, "y", "old")).toDF("k1", "k2", "v")
    val source = Seq((1L, "x", "new")).toDF("k1", "k2", "v")
    Merge.upsert(target, source, Seq("k1", "k2"))
      .orderBy("k2").collect().map(_.getString(2)).toSeq shouldBe Seq("new", "old")
  }
}
