package graft.store

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DeleteKeyMask, Row, StoreWrite}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The driver write ([[StoreWrite]] over rows the driver holds) lands
  * files a Spark write of the same rows would: the same parquet schema
  * (field order, logical types, repetition), codec and key-value
  * metadata, the same values bit for bit, the same Hive leaves, and
  * delete keys deduplicated and normalized as Spark's `distinct` writes
  * them. */
class DriverWriteSpec extends SparkSpec {

  // the column types a Debezium-cast CDC table carries
  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("amount", DoubleType),
    StructField("price", DecimalType(18, 4)),
    StructField("big", LongType),
    StructField("day", DateType),
    StructField("ts", TimestampType),
    StructField("flag", BooleanType)))

  private val rows = Seq(
    Row(1, "a", 1.5, new java.math.BigDecimal("12.3400"), 10L, Date.valueOf("2024-01-02"),
      Timestamp.valueOf("2024-01-02 03:04:05.123456"), true),
    Row(2, null, Double.NaN, null, null, null, null, null),
    Row(3, "a/b:c", -0.0, new java.math.BigDecimal("-0.0001"), Long.MinValue,
      Date.valueOf("1900-02-28"), Timestamp.valueOf("1969-12-31 23:59:59.999999"), false),
    Row(4, "a", 0.0, new java.math.BigDecimal("99999999999999.9999"), Long.MaxValue,
      Date.valueOf("2024-01-02"), Timestamp.valueOf("2038-01-19 03:14:08"), false))

  private def local: DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def freshPath(): String =
    s"${Files.createTempDirectory("driver-write")}/data/${java.util.UUID.randomUUID().toString.take(18)}"

  /** Data files under `abs` by leaf rel path ("" for the root). */
  private def filesByLeaf(abs: String): Map[String, Seq[java.nio.file.Path]] = {
    val root = Paths.get(abs)
    Files.walk(root).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.groupBy(p => root.relativize(p.getParent).toString)
  }

  private def footer(p: java.nio.file.Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(p.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Every value, doubles by their bits: NaN equals NaN, -0.0 differs from 0.0. */
  private def values(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  private def writeBoth(df: DataFrame, partitionCols: Seq[String]): (String, String) = {
    val (viaDriver, viaSpark) = (freshPath(), freshPath())
    val held = StoreWrite.local(df)
    held shouldBe defined
    StoreWrite.parquet(held.get, viaDriver, partitionCols) shouldBe
      Some(filesByLeaf(viaDriver).values.map(_.size).sum.toLong)
    StoreWrite.parquet(df, viaSpark, partitionCols) shouldBe defined
    (viaDriver, viaSpark)
  }

  test("a driver-written file's footer and values equal a Spark-written file's") {
    val (viaDriver, viaSpark) = writeBoth(local, Nil)
    val Seq(mine) = filesByLeaf(viaDriver)("")
    val theirs = filesByLeaf(viaSpark)("")
    theirs should not be empty
    val m = footer(mine)
    theirs.map(footer).foreach { t =>
      t.getFileMetaData.getSchema shouldBe m.getFileMetaData.getSchema
      t.getFileMetaData.getKeyValueMetaData shouldBe m.getFileMetaData.getKeyValueMetaData
    }
    // the logical types the CDC columns need, and the session's codec
    m.getFileMetaData.getSchema.toString should (include("(DATE)") and
      include("(DECIMAL(18,4))") and include("(STRING)"))
    val codecs = (m +: theirs.map(footer)).flatMap(_.getBlocks.asScala)
      .flatMap(_.getColumns.asScala.map(_.getCodec)).distinct
    codecs shouldBe Seq(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
    val read = spark.read.schema(schema)
    values(read.parquet(viaDriver)) shouldBe values(read.parquet(viaSpark))
    values(read.parquet(viaDriver)) shouldBe values(local)
  }

  test("a partitioned driver write lands the Hive leaves a Spark write does") {
    val (viaDriver, viaSpark) = writeBoth(local, Seq("name", "day"))
    val leaves = filesByLeaf(viaDriver)
    leaves.keySet shouldBe filesByLeaf(viaSpark).keySet
    // one file per leaf; a null lands in the default partition, and a
    // path character is escaped
    leaves.values.map(_.size).toSet shouldBe Set(1)
    leaves.keySet should contain("name=__HIVE_DEFAULT_PARTITION__/day=__HIVE_DEFAULT_PARTITION__")
    leaves.keySet should contain("name=a%2Fb%3Ac/day=1900-02-28")
    val read = spark.read.schema(schema)
    values(read.parquet(viaDriver)) shouldBe values(read.parquet(viaSpark))
  }

  test("an unpartitioned write of no rows leaves one file with the schema") {
    val none = spark.createDataFrame(java.util.List.of[Row](), schema)
    val abs = freshPath()
    StoreWrite.parquet(StoreWrite.local(none).get, abs, Nil) shouldBe Some(1L)
    spark.read.schema(schema).parquet(abs).count() shouldBe 0L
    val partitioned = freshPath()
    StoreWrite.parquet(StoreWrite.local(none).get, partitioned, Seq("name")) shouldBe Some(0L)
    Files.isDirectory(Paths.get(partitioned)) shouldBe true
  }

  test("only a frame that folds to local rows is written on the driver") {
    StoreWrite.local(local.filter("id > 1").select("id", "amount")) shouldBe defined
    StoreWrite.local(local.distinct()) shouldBe None
    StoreWrite.local(local.hint("rebalance")) shouldBe None
    StoreWrite.local(spark.range(3).toDF()) shouldBe None
    StoreWrite.local(StoreWrite.collectLocal(spark.range(3).toDF())).map(_.rows.size) shouldBe Some(3)
  }

  test("projections and filters over held rows give the rows the optimizer's fold gives") {
    import org.apache.spark.sql.functions._
    val frames = Seq(
      local.select(col("id"), upper(col("name")).as("u"), (col("amount") * 2).as("a2"),
        col("price").cast("string").as("p"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t"),
        struct(col("id"), col("name")).as("s"), when(col("flag"), lit("y")).as("f")),
      local.filter(col("name").isNotNull && col("amount") >= 0).select("id", "name"),
      local.withColumn("x", col("id") * 10).filter(col("x") > 10)
        .withColumn("y", concat(col("name"), lit("!"))),
      local.select(col("id"), monotonically_increasing_id().as("m"), rand(7).as("r")),
      local.filter(lit(false)))
    frames.foreach { df =>
      val held = StoreWrite.local(df)
      held.map(_.output.map(_.name)) shouldBe Some(df.columns.toSeq)
      // collect runs the optimizer's own fold over the same rows
      values(held.get.toDF) shouldBe values(df)
    }
    // rows a cached frame stands for are read from the cache, as before
    val cached = local.select("id", "name").cache()
    try StoreWrite.local(cached.filter("id > 1")) shouldBe None
    finally cached.unpersist()
  }

  test("driver-deduplicated delete keys load as Spark-deduplicated ones do") {
    val keySchema = StructType(Seq(StructField("k", DoubleType), StructField("s", StringType)))
    val keys = spark.createDataFrame(Seq(
      Row(-0.0, "x"), Row(0.0, "x"), Row(Double.NaN, "x"),
      Row(java.lang.Double.longBitsToDouble(0x7ff8000000000123L), "x"),
      Row(null, null), Row(null, null), Row(1.0, null), Row(1.0, "y")).asJava, keySchema)
    val (viaDriver, viaSpark) = (freshPath(), freshPath())
    StoreWrite.parquet(StoreWrite.local(keys).get.distinctKeys, viaDriver, Nil)
    StoreWrite.parquet(keys.distinct(), viaSpark, Nil)
    val read = spark.read.schema(keySchema)
    // the same rows, normalized alike: 0.0 for -0.0, one NaN
    values(read.parquet(viaDriver)) shouldBe values(read.parquet(viaSpark))
    read.parquet(viaDriver).count() shouldBe 5L
    footer(filesByLeaf(viaDriver)("").head).getFileMetaData.getSchema shouldBe
      footer(filesByLeaf(viaSpark)("").head).getFileMetaData.getSchema
    def statuses(abs: String): Seq[FileStatus] = filesByLeaf(abs)("").map(p =>
      new Path(p.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(new Path(p.toUri)))
    val Seq(Some(mine), Some(theirs)) = DeleteKeyMask.load(spark,
      Seq("driver" -> statuses(viaDriver), "spark" -> statuses(viaSpark)), keySchema, 1 << 16)
    mine.size shouldBe 5
    mine.tuples shouldBe theirs.tuples
  }
}
