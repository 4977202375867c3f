package graft.cdc

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, StoreWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.avro.AvroTestData
import graft.functions.Transforms
import graft.ledger.Watermark
import graft.maintenance.ProcessedTableTracker
import graft.store.LakeCatalog
import graft.streaming.StreamRunner

/** End-to-end CDC micro-batch processing against the LakeTable store:
  * Avro envelopes (with Confluent framing in the streaming tests) →
  * processBatch → MERGE/DELETE → watermark, mirroring the flow of
  * `cdc_pipeline.py:254-439` without Kafka (the reference's structure
  * makes processBatch callable with a static DataFrame — its own
  * testability seam, SURVEY §7.4.5). */
class CdcPipelineSpec extends SparkSpec {

  // --- Debezium-shaped Avro schemas -----------------------------------

  private val valueSchemaJson =
    """{"type":"record","name":"Envelope","namespace":"dbz.store.TB_ITEM","fields":[
      {"name":"before","type":["null",{"type":"record","name":"Value","fields":[
        {"name":"id","type":"int"},
        {"name":"name","type":["null","string"],"default":null},
        {"name":"amount","type":["null","double"],"default":null},
        {"name":"DT","type":[{"type":"long","connect.version":1,"connect.default":0,
          "connect.name":"io.debezium.time.Timestamp"},"null"],"default":0}
      ]}],"default":null},
      {"name":"after","type":["null","Value"],"default":null},
      {"name":"op","type":"string"},
      {"name":"ts_ms","type":["null","long"],"default":null}
    ]}"""

  private val keySchemaJson =
    """{"type":"record","name":"Key","namespace":"dbz.store.TB_ITEM","fields":[
      {"name":"id","type":"int"}]}"""

  private lazy val valueSchema = new Schema.Parser().parse(valueSchemaJson)
  private lazy val keySchema = new Schema.Parser().parse(keySchemaJson)
  private lazy val recordSchema =
    valueSchema.getField("after").schema().getTypes.get(1)

  private val registry = new InMemorySchemaRegistry(Map(
    1 -> keySchemaJson, 2 -> valueSchemaJson, 3 -> valueSchemaJson))

  // --- encode helpers -------------------------------------------------

  private def keyBytes(id: Int): Array[Byte] =
    AvroTestData.encode(keySchema, _.put("id", id))

  private def valueBytes(
      op: String,
      id: Int,
      name: String,
      amount: Double,
      dtMs: Long,
      tsMs: Long): Array[Byte] =
    AvroTestData.encode(valueSchema, env => {
      if (op != "d") {
        val v = new GenericData.Record(recordSchema)
        v.put("id", id); v.put("name", name); v.put("amount", amount); v.put("DT", dtMs)
        env.put("after", v)
      }
      env.put("op", op)
      env.put("ts_ms", tsMs)
    })

  /** Post-header-strip batch row shape (processBatch contract). */
  private def batchDf(rows: Seq[(Int, Int, Array[Byte], Array[Byte], Long)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("key_schema_id", IntegerType),
      StructField("value_schema_id", IntegerType),
      StructField("key", BinaryType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType)))
    val data = rows.map { case (ks, vs, k, v, off) =>
      Row(ks, vs, k, v, "dbz.store.TB_ITEM",
        off, new Timestamp(1700000000000L + off * 1000))
    }
    spark.createDataFrame(data.asJava, schema)
  }

  // --- target table bootstrap (the JDBC-batch RTAS path) --------------

  private def bootstrap(dbs: Seq[String] = Seq("store")): (LakeCatalog, PipelineContext) = {
    val cat = new LakeCatalog(spark, Files.createTempDirectory("cdc-e2e").toString)
    Watermark.ensureWatermarkTables(cat)
    import spark.implicits._
    val base = Seq(
      (1, "a", 10.0, new Timestamp(1600000000000L)),
      (2, "b", 20.0, new Timestamp(1600000000000L)),
      (3, "c", 30.0, new Timestamp(1600000000000L)))
      .toDF("id", "name", "amount", "DT")
    val withMeta = Transforms.withPkHash(
      Transforms.withAuditColumn(Transforms.trimStringColumns(base)), Seq("id"))
    dbs.foreach { db =>
      cat.createDatabase(s"svc_$db")
      cat.table(s"svc_$db.tb_item").createOrReplace(withMeta)
    }
    val ctx = PipelineContext(cat, registry, "dbz.store.TB_ITEM", "dag1", "svc")
    (cat, ctx)
  }

  private def state(
      cat: LakeCatalog, table: String = "svc_store.tb_item"): Seq[(Int, String, Double)] =
    cat.table(table).read
      .select("id", "name", "amount").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq

  // --------------------------------------------------------------------

  test("processBatch: upsert + delete + latest-offset dedup + watermark") {
    val (cat, ctx) = bootstrap()
    val batch = batchDf(Seq(
      (1, 2, keyBytes(2), valueBytes("u", 2, "b2", 21.0, 1600000000000L, 1700000001000L), 10L),
      (1, 2, keyBytes(2), valueBytes("u", 2, "b3", 22.0, 1600000000000L, 1700000002000L), 12L),
      (1, 2, keyBytes(3), valueBytes("d", 3, null, 0.0, 0L, 1700000003000L), 11L),
      (1, 2, keyBytes(4), valueBytes("c", 4, "d", 40.0, 1600000000000L, 1700000004000L), 13L)))

    CdcPipeline.processBatch(batch, batchId = 1L, ctx)

    // id2: highest offset (12) wins → b3; id3 deleted; id4 inserted
    state(cat) shouldBe Seq((1, "a", 10.0), (2, "b3", 22.0), (4, "d", 40.0))

    val wm = cat.table(Watermark.CdcTable).read.head()
    wm.getString(wm.fieldIndex("dag_id")) shouldBe "dag1"
    wm.getString(wm.fieldIndex("iceberg_schema")) shouldBe "svc_store"
    wm.getString(wm.fieldIndex("table_name")) shouldBe "tb_item"
    wm.getLong(wm.fieldIndex("event_count")) shouldBe 4L
    wm.getLong(wm.fieldIndex("min_offset")) shouldBe 10L
    wm.getLong(wm.fieldIndex("max_offset")) shouldBe 13L
    wm.getLong(wm.fieldIndex("batch_id")) shouldBe 1L
  }

  test("processBatch on a merge-on-read target: same net state, zero data rewrites") {
    val (cat, ctx) = bootstrap()
    val t = cat.table("svc_store.tb_item")
    t.setProperties(Map(
      "write.merge.mode" -> "merge-on-read",
      "write.delete.mode" -> "merge-on-read"))
    val baseDirs = t.currentSnapshot.get.entries.map(_.dir).toSet
    val batch = batchDf(Seq(
      (1, 2, keyBytes(2), valueBytes("u", 2, "b2", 21.0, 1600000000000L, 1700000001000L), 10L),
      (1, 2, keyBytes(3), valueBytes("d", 3, null, 0.0, 0L, 1700000003000L), 11L),
      (1, 2, keyBytes(4), valueBytes("c", 4, "d", 40.0, 1600000000000L, 1700000004000L), 13L)))

    CdcPipeline.processBatch(batch, batchId = 1L, ctx)

    // identical net semantics to the COW run...
    state(cat) shouldBe Seq((1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0))
    // ...but the bootstrap data dirs were never rewritten: the upsert
    // and the delete each committed only O(batch) files
    val s = t.currentSnapshot.get
    baseDirs.subsetOf(s.entries.map(_.dir).toSet) shouldBe true
    s.deleteEntries should have size 2
    // maintenance folds the read-side debt without changing the state
    t.rewritePositionDeleteFiles()._1 shouldBe 2
    state(cat) shouldBe Seq((1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0))
  }

  test("Debezium zero-guard flows through: DT=0 lands as NULL") {
    val (cat, ctx) = bootstrap()
    val batch = batchDf(Seq(
      (1, 2, keyBytes(5), valueBytes("c", 5, "e", 50.0, 0L, 1700000005000L), 20L)))
    CdcPipeline.processBatch(batch, 2L, ctx)
    val row = cat.table("svc_store.tb_item").read.filter(col("id") === 5).head()
    assert(row.isNullAt(row.fieldIndex("DT")))
  }

  test("multi-schema batch processes ascending so newest version wins") {
    val (cat, ctx) = bootstrap()
    // same key touched under value-schema ids 3 and 2: slice 2 runs
    // first, slice 3 (the NEWER registered version) merges last and wins
    val batch = batchDf(Seq(
      (1, 3, keyBytes(1), valueBytes("u", 1, "newer-schema", 11.0, 1600000000000L, 1700000007000L), 31L),
      (1, 2, keyBytes(1), valueBytes("u", 1, "older-schema", 12.0, 1600000000000L, 1700000006000L), 30L)))
    CdcPipeline.processBatch(batch, 3L, ctx)
    state(cat).head shouldBe ((1, "newer-schema", 11.0))
    // the ledger row covers the whole batch, folded across both slices:
    // the min offset is slice 2's, the max offset and latest event
    // time slice 3's (the UTC wall clock of offset 31's timestamp)
    val wm = cat.table(Watermark.CdcTable).read.head()
    wm.getLong(wm.fieldIndex("event_count")) shouldBe 2L
    wm.getLong(wm.fieldIndex("min_offset")) shouldBe 30L
    wm.getLong(wm.fieldIndex("max_offset")) shouldBe 31L
    wm.getTimestamp(wm.fieldIndex("max_event_ts")) shouldBe
      Timestamp.valueOf("2023-11-14 22:13:51")
  }

  test("an empty batch still writes its ledger row: count 0, no bounds") {
    val (cat, ctx) = bootstrap()
    CdcPipeline.processBatch(batchDf(Nil), 5L, ctx)
    state(cat) shouldBe Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
    val wm = cat.table(Watermark.CdcTable).read.head()
    wm.getLong(wm.fieldIndex("event_count")) shouldBe 0L
    Seq("min_offset", "max_offset", "max_event_ts").foreach(c =>
      assert(wm.isNullAt(wm.fieldIndex(c)), c))
    wm.getLong(wm.fieldIndex("batch_id")) shouldBe 5L
  }

  /** The Spark jobs `body` runs on this thread (counted under one job group). */
  private def jobsOf(body: => Unit): Int = {
    val group = "cdc-batch-jobs"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      ListenerBusDrain(sc)
      sc.setJobGroup(group, "one CDC batch")
      try body
      finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def morBootstrap(): (LakeCatalog, PipelineContext) = {
    val (cat, ctx) = bootstrap()
    cat.table("svc_store.tb_item").setProperties(Map(
      "write.merge.mode" -> "merge-on-read",
      "write.delete.mode" -> "merge-on-read"))
    (cat, ctx)
  }

  /** The same batch rows as a distributed frame, the kind foreachBatch
    * over Kafka or files gives: written to parquet and read back. */
  private def onDisk(batch: DataFrame): DataFrame = {
    val path = Files.createTempDirectory("cdc-batch").resolve("batch").toString
    batch.write.parquet(path)
    val read = spark.read.parquet(path)
    assert(StoreWrite.local(read).isEmpty)
    read
  }

  test("a merge-on-read batch with upserts and deletes runs a pinned number of Spark jobs") {
    val batch = batchDf(Seq(
      (1, 2, keyBytes(2), valueBytes("u", 2, "b2", 21.0, 1600000000000L, 1700000001000L), 10L),
      (1, 2, keyBytes(3), valueBytes("d", 3, null, 0.0, 0L, 1700000003000L), 11L),
      (1, 2, keyBytes(4), valueBytes("c", 4, "d", 40.0, 1600000000000L, 1700000004000L), 13L)))
    // held rows: bookkeeping, decode, dedup, side counts and writes all
    // run on the driver; the same rows read from parquet add the
    // batch's cache build, the bookkeeping aggregate's shuffle and
    // result, and one collect of the slice's raw rows
    for ((frame, pinned) <- Seq(batch -> 0, onDisk(batch) -> 4)) {
      val (cat, ctx) = morBootstrap()
      jobsOf(CdcPipeline.processBatch(frame, 1L, ctx)) shouldBe pinned
      state(cat) shouldBe Seq((1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0))
    }
  }

  test("the ledger append writes its row on the driver: no Spark job") {
    val (cat, _) = bootstrap()
    val jobs = jobsOf(Watermark.appendCdcWatermark(cat, "dag1", "svc_store", "tb_item",
      eventCount = 3, maxEventTs = Some(new Timestamp(1700000000000L)),
      minOffset = Some(1L), maxOffset = Some(3L), batchId = Some(9L)))
    jobs shouldBe 0
    Watermark.lastCdcBatch(cat, "dag1", "svc_store", "tb_item") shouldBe Some(9L)
    val wm = cat.table(Watermark.CdcTable).read.head()
    wm.getLong(wm.fieldIndex("event_count")) shouldBe 3L
    wm.getTimestamp(wm.fieldIndex("max_event_ts")) shouldBe new Timestamp(1700000000000L)
  }

  test("slices on both sides of the driver cap land the same state and ledger row") {
    import graft.store.LakeTable
    val (cat, ctx) = morBootstrap()
    // slice 2 has one event past the cap, over 100 keys: upserts of
    // keys 10..109, each key's last event at the highest offset, then
    // deletes of keys 100..109 and of bootstrap key 3; slice 3 (under
    // the cap, applied last) re-upserts key 10 and deletes key 1
    val over = LakeTable.MaxDeleteReachKeys + 1
    val slice2 = (0 until over).map { i =>
      val id = 10 + i % 100
      val last = i >= over - 100
      val op = if (last && id >= 100) "d" else "u"
      (1, 2, keyBytes(id), valueBytes(op, id, s"n$i", i.toDouble, 1600000000000L,
        1700000000000L + i), i.toLong)
    } :+ ((1, 2, keyBytes(3), valueBytes("d", 3, null, 0.0, 0L, 1700000000000L), over.toLong))
    val slice3 = Seq(
      (1, 3, keyBytes(10), valueBytes("u", 10, "newest", 7.0, 1600000000000L, 1800000000000L),
        over + 1L),
      (1, 3, keyBytes(1), valueBytes("d", 1, null, 0.0, 0L, 1800000000000L), over + 2L))
    val local0 = org.apache.spark.sql.StoreWrite.localWrites.get()
    CdcPipeline.processBatch(batchDf(slice2 ++ slice3), 4L, ctx)
    // slice 3's MERGE and DELETE write their three files on the driver,
    // slice 2's go through Spark; the ledger row is local either way
    org.apache.spark.sql.StoreWrite.localWrites.get() - local0 shouldBe 4L

    // the last event per key in slice 2: index over - 100 + k for key 10 + k
    val want = (2, "b", 20.0) +: (10 until 100).map { id =>
      val i = over - 100 + Math.floorMod(id - 10 - (over - 100), 100)
      if (id == 10) (10, "newest", 7.0) else (id, s"n$i", i.toDouble)
    }
    state(cat) shouldBe want.sortBy(_._1)
    val wm = cat.table(Watermark.CdcTable).read.head()
    wm.getLong(wm.fieldIndex("event_count")) shouldBe over + 3L
    wm.getLong(wm.fieldIndex("min_offset")) shouldBe 0L
    wm.getLong(wm.fieldIndex("max_offset")) shouldBe over + 2L
    wm.getLong(wm.fieldIndex("batch_id")) shouldBe 4L
  }

  test("held and distributed batch frames land the same tables and ledger rows") {
    import graft.store.LakeTable
    val dbs = Seq("held", "spread")
    val (cat, _) = bootstrap(dbs)
    val ctxs = dbs.map { db =>
      cat.table(s"svc_$db.tb_item").setProperties(Map(
        "write.merge.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
      PipelineContext(cat, registry, s"dbz.$db.TB_ITEM", "dag1", "svc")
    }
    val ops = randomOps(new scala.util.Random(11), "eq")
    def event(schemaId: Int, k: Int, op: String, name: String, amount: Double, off: Long) =
      (1, schemaId, keyBytes(k), valueBytes(op, k, name, amount, 1600000000000L, 1700000000000L + off), off)
    val over = LakeTable.MaxDeleteReachKeys + 1
    val batches = Seq(
      // the latest event's timestamp is null: the bound skips it
      opsBatch(ops.take(30)).withColumn("timestamp",
        when(col("offset") === ops(29)._5, lit(null)).otherwise(col("timestamp"))),
      // two value schemas over the same keys: the newer merges last
      batchDf(ops.slice(30, 60).map { case (k, op, name, amount, off) =>
        event(if (off % 3 == 0) 3 else 2, k, op, name, amount, off) }),
      batchDf(Nil),
      // past the cap: both frames are persisted and the slice stays
      // distributed
      batchDf((0 until over).map(i =>
        event(2, 1 + i % 40, if (i % 7 == 0) "d" else "u", s"L$i", i.toDouble, 2000L + i))))

    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try batches.zipWithIndex.foreach { case (batch, bi) =>
      CdcPipeline.processBatch(batch, bi.toLong, ctxs(0))
      CdcPipeline.processBatch(onDisk(batch), bi.toLong, ctxs(1))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)

    val tables = ctxs.map(c => cat.table(c.fullTableName).read.orderBy("id").collect().toSeq)
    tables(0) should not be empty
    tables(0) shouldBe tables(1)
    val ledgers = ctxs.map(c => cat.table(Watermark.CdcTable).read
      .filter(col("iceberg_schema") === c.icebergSchema)
      .select("event_count", "min_offset", "max_offset", "max_event_ts", "batch_id")
      .orderBy("batch_id").collect().toSeq)
    ledgers(0).map(_.getLong(0)) shouldBe Seq(30L, 30L, 0L, over.toLong)
    ledgers(0) shouldBe ledgers(1)
  }

  test("missing target table is skipped with no failure") {
    val (cat, _) = bootstrap()
    val ctx = PipelineContext(cat, registry, "dbz.store.TB_MISSING", "dag1", "svc")
    val batch = batchDf(Seq(
      (1, 2, keyBytes(1), valueBytes("u", 1, "x", 1.0, 1600000000000L, 1L), 1L)))
    CdcPipeline.processBatch(batch, 4L, ctx) // must not throw
    cat.tableExists("svc_store.tb_missing") shouldBe false
  }

  test("runTopicStream: file-backed availableNow round, checkpoint, heartbeat, replay") {
    val (cat, ctx0) = bootstrap()
    val tracker = new ProcessedTableTracker
    val ctx = ctx0.copy(tracker = Some(tracker))
    val sourceDir = Files.createTempDirectory("cdc-src").toString
    val checkpointRoot = Files.createTempDirectory("cdc-ckpt").toString

    // Kafka-shaped source files WITH Confluent framing
    val kafkaSchema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType)))
    val frames = Seq(
      (AvroTestData.confluentFrame(1, keyBytes(2)),
        AvroTestData.confluentFrame(2, valueBytes("u", 2, "streamed", 99.0, 1600000000000L, 1700000001000L)), 100L),
      (AvroTestData.confluentFrame(1, keyBytes(3)),
        AvroTestData.confluentFrame(2, valueBytes("d", 3, null, 0.0, 0L, 1700000002000L)), 101L))
    val rows = frames.map { case (k, v, off) =>
      Row(k, v, ctx.topic, 0, off, new Timestamp(1700000000000L + off))
    }
    spark.createDataFrame(rows.asJava, kafkaSchema)
      .write.mode("overwrite").parquet(sourceDir)

    def source(): DataFrame =
      spark.readStream.schema(kafkaSchema).parquet(sourceDir)

    CdcPipeline.runTopicStream(spark, source(), ctx, checkpointRoot)
    state(cat).map(_._1) shouldBe Seq(1, 2) // id3 deleted
    state(cat).find(_._1 == 2).get._2 shouldBe "streamed"
    tracker.getAndClear() shouldBe Set("svc_store.tb_item")
    val wmCount1 = cat.table(Watermark.CdcTable).read.count()

    // second round, no new files: foreachBatch never fires → heartbeat row
    CdcPipeline.runTopicStream(spark, source(), ctx, checkpointRoot)
    val wm = cat.table(Watermark.CdcTable).read
    wm.count() shouldBe wmCount1 + 1
    wm.filter(col("event_count") === 0).count() shouldBe 1L

    // replay from scratch (checkpoint wiped): idempotent MERGE converges
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(checkpointRoot))
    CdcPipeline.runTopicStream(spark, source(), ctx, checkpointRoot)
    state(cat).map(_._1) shouldBe Seq(1, 2)
    state(cat).find(_._1 == 2).get._2 shouldBe "streamed"
  }

  /** A random CDC workload over keys 1–12 (ops in offset order); names
    * carry `tag` so rows from another workload are recognizable. */
  private def randomOps(
      rnd: scala.util.Random, tag: String): Seq[(Int, String, String, Double, Long)] = {
    val keys = 1 to 12
    (1 to 60).map { i =>
      val key = keys(rnd.nextInt(keys.length))
      val op = rnd.nextInt(5) match {
        case 0 => "d"
        case 1 => "c"
        case _ => "u"
      }
      (key, op, s"$tag-v$i", rnd.nextInt(1000).toDouble, 1000L + i)
    }
  }

  private def opsBatch(chunk: Seq[(Int, String, String, Double, Long)]): DataFrame =
    batchDf(chunk.map { case (k, op, name, amount, off) =>
      (1, 2, keyBytes(k),
        valueBytes(op, k, name, amount, 1600000000000L, 1700000000000L + off),
        off)
    })

  /** Replay oracle: the last op per key decides presence and values;
    * untouched keys keep the bootstrap seed. */
  private def replayOracle(
      ops: Seq[(Int, String, String, Double, Long)]): Seq[(Int, String, Double)] = {
    val lastPerKey = ops.groupBy(_._1).view.mapValues(_.maxBy(_._5)).toMap
    (
      Seq(1, 2, 3).filterNot(k =>
        lastPerKey.get(k).exists(_._2 == "d")).map { k =>
        lastPerKey.get(k) match {
          case Some((_, _, name, amount, _)) => (k, name, amount)
          case None => (k, Seq("", "a", "b", "c")(k), k * 10.0) // untouched seed
        }
      } ++
        lastPerKey.collect {
          case (k, (_, op, name, amount, _)) if k > 3 && op != "d" =>
            (k, name, amount)
        }
    ).sortBy(_._1)
  }

  test("property: batched processBatch converges to the replay oracle") {
    // Random CDC workload split across micro-batches must reach exactly
    // the state of a single latest-op-per-key replay — the idempotent-
    // MERGE convergence contract (SURVEY §5c / src/README.md:39).
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val (cat, ctx) = bootstrap()
      val ops = randomOps(rnd, s"t$trial")
      // 3 micro-batches in offset order (Kafka delivery order per key)
      ops.grouped(20).zipWithIndex.foreach { case (chunk, bi) =>
        CdcPipeline.processBatch(opsBatch(chunk), bi.toLong, ctx)
      }
      state(cat) shouldBe replayOracle(ops)
    }
  }

  test("concurrent topics whose tables share a name in different schemas stay isolated") {
    // svc_db1.tb_item and svc_db2.tb_item ingest at once under the
    // daemon's thread-per-topic runner: each must converge to its own
    // replay oracle, and nothing is staged in the session-shared
    // global_temp database
    val (cat, _) = bootstrap(Seq("db1", "db2"))
    val topics = Seq("dbz.db1.TB_ITEM", "dbz.db2.TB_ITEM")
    val ctxs = topics.map(t => t -> PipelineContext(cat, registry, t, "dag1", "svc")).toMap
    val rnd = new scala.util.Random(7)
    val ops = topics.map(t => t -> randomOps(rnd, t)).toMap
    for (bi <- 0 until 4) {
      val batches = topics.map(t => t -> opsBatch(ops(t).slice(bi * 15, bi * 15 + 15))).toMap
      StreamRunner.runTopicsConcurrently(spark, topics, concurrency = 2) { t =>
        CdcPipeline.processBatch(batches(t), bi.toLong, ctxs(t))
      } shouldBe empty
    }
    topics.foreach { t =>
      state(cat, ctxs(t).fullTableName) shouldBe replayOracle(ops(t))
    }
    spark.catalog.listTables("global_temp").collect().map(_.name)
      .filter(n => n.startsWith("upsert_view_") || n.startsWith("delete_view_")) shouldBe empty
  }

  test("stripConfluentHeader extracts ids and payloads as column exprs") {
    val body = Array[Byte](9, 8, 7)
    val framed = AvroTestData.confluentFrame(42, body)
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType)))
    val df = spark.createDataFrame(
      Seq(Row(framed, framed, "t", 0, 1L, new Timestamp(0L))).asJava, schema)
    val out = CdcPipeline.stripConfluentHeader(df).head()
    out.getInt(0) shouldBe 42
    out.getInt(1) shouldBe 42
    out.getAs[Array[Byte]](2).toSeq shouldBe body.toSeq
    out.getAs[Array[Byte]](3).toSeq shouldBe body.toSeq
  }
}
