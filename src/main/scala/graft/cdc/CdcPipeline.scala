package graft.cdc

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, StoreWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType}
import org.apache.spark.storage.StorageLevel

import graft.avro.AvroDecode
import graft.core.{BoundedCache, TableNaming}
import graft.functions.Transforms
import graft.ledger.Watermark
import graft.maintenance.{Maintenance, ProcessedTableTracker}
import graft.store.{LakeCatalog, LakeTable, StoreConf}

/** Schema Registry lookup: id → Avro schema JSON. The HTTP variant of
  * the reference is the `GET /schemas/ids/{id}` endpoint
  * (`cdc_pipeline.py:270`); tests inject an in-memory map. */
trait SchemaRegistry {
  def getSchema(id: Int): String
}

class InMemorySchemaRegistry(schemas: Map[Int, String]) extends SchemaRegistry {
  def getSchema(id: Int): String =
    schemas.getOrElse(id, throw new NoSuchElementException(s"schema id $id"))
}

/** Minimal Confluent-compatible HTTP client with a bounded LRU cache
  * (schemas are immutable per id). The request runs outside the cache
  * lock, so one topic's slow lookup never stalls another topic's hit. */
class HttpSchemaRegistry(baseUrl: String) extends SchemaRegistry {
  private val cache = new BoundedCache[Int, String](256, _ => 1L)

  // one client for the registry's lifetime — HttpClient pools connections
  private val client = java.net.http.HttpClient.newHttpClient()

  def getSchema(id: Int): String = cache.getOrElseUpdate(id) {
    val uri = java.net.URI.create(s"$baseUrl/schemas/ids/$id")
    val req = java.net.http.HttpRequest.newBuilder(uri).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    Option.when(resp.statusCode() == 200)(DebeziumSchema.parse(resp.body()).path("schema"))
      .filter(_.isTextual).map(_.asText())
      .getOrElse(throw new NoSuchElementException(s"schema id $id: HTTP ${resp.statusCode()}"))
  }
}

/** Per-topic immutable execution context (`cdc_pipeline.py:132-145`).
  * Captured by the foreachBatch closure; never mutated between batches. */
case class PipelineContext(
    catalog: LakeCatalog,
    schemaRegistry: SchemaRegistry,
    topic: String,
    dagId: String,
    service: String,
    scheduledAt: Option[Timestamp] = None,
    tracker: Option[ProcessedTableTracker] = None,
    positionDeleteInterval: Long = 0,
    positionDeleteLastMap: Option[Map[String, Option[Timestamp]]] = None) {

  val (icebergSchema, icebergTable) = TableNaming.topicToTable(service, topic)
  def fullTableName: String = s"$icebergSchema.$icebergTable"
}

/** The Kafka-CDC micro-batch pipeline, ported whole from
  * `/root/reference/src/utils/cdc_pipeline.py:153-439` against the
  * LakeTable store. `processBatch` is callable with a static DataFrame —
  * the reference's own testability seam — and is what foreachBatch runs.
  *
  * Batch DataFrame contract (after Confluent header stripping):
  * `key_schema_id int, value_schema_id int, key binary, value binary,
  *  topic string, offset long, timestamp timestamp`.
  */
object CdcPipeline {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Avro decode → Debezium cast → id_iceberg → conform-to-catalog →
    * latest-offset dedup: one row per key, its `__op` kept. None when
    * the target table does not exist (skip-with-warning,
    * `cdc_pipeline.py:184-188`). */
  def latestChanges(
      schemaFiltered: DataFrame,
      keySchemaStr: String,
      valueSchemaStr: String,
      debeziumSchema: Map[String, String],
      pkCols: Seq[String],
      table: LakeTable): Option[DataFrame] = {

    if (!table.exists) {
      logger.warn(s"Table ${table.name} not found. Skipping.")
      return None
    }

    val decoded = AvroDecode.withDecoded(
      AvroDecode.withDecoded(schemaFiltered, "key", keySchemaStr, "key_s"),
      "value", valueSchemaStr, "value_s")

    val transformed = decoded
      .withColumn("id_iceberg",
        md5(concat_ws("|", pkCols.map(c =>
          DebeziumCast.castColumn(col(s"key_s.$c"),
            debeziumSchema.getOrElse(c, "")).cast("string")): _*)))
      .select(
        (col("value_s.after.*") +:
          Seq(
            col("value_s.op").as("__op"),
            col("offset").as("__offset"),
            timestamp_millis(col("value_s.ts_ms")).as("last_applied_date"),
            col("id_iceberg"))): _*)

    // the live catalog schema is the source of truth for final types
    val catalogSchema = table.schema
    val cdcDf = DebeziumCast.conformToCatalog(
      transformed, catalogSchema, debeziumSchema, extraCols = Seq("__op", "__offset"))

    Some(Transforms.latestPerKey(cdcDf, Seq("id_iceberg"), "__offset").drop("__offset"))
  }

  /** [[latestChanges]] split into (upserts, deletes). */
  def transformAndDedup(
      schemaFiltered: DataFrame,
      keySchemaStr: String,
      valueSchemaStr: String,
      debeziumSchema: Map[String, String],
      pkCols: Seq[String],
      table: LakeTable): Option[(DataFrame, DataFrame)] =
    latestChanges(schemaFiltered, keySchemaStr, valueSchemaStr, debeziumSchema, pkCols, table)
      .map(c => (upserts(c), deletes(c)))

  private val isDelete = col("__op") === "d"
  private def upserts(changes: DataFrame): DataFrame = changes.filter(!isDelete).drop("__op")
  private def deletes(changes: DataFrame): DataFrame = changes.filter(isDelete).drop("__op")

  /** One micro-batch (`cdc_pipeline.py:254-339`): one aggregate per
    * (value, key) schema-id pair gives both the slices and the ledger
    * row's statistics; value-schema versions are applied in ASCENDING
    * id order (so the newest version's MERGE lands last and wins);
    * then track, and append the batch-stats watermark row.
    *
    * A batch frame over at most [[LakeTable.MaxDeleteReachKeys]] rows
    * the driver holds (`StoreWrite.local`: what perfbench and the tests
    * build) runs on the driver end to end, with no Spark job: its
    * bookkeeping rows are counted there, each slice is decoded and
    * deduplicated there (`AvroDecode.withDecoded`,
    * `Transforms.latestPerKey`), its sides are counted from the held
    * rows, and the store writes the MERGE's data and delete files and
    * the DELETE's delete file there. Any other batch frame (what
    * foreachBatch over Kafka or files gives, or a larger held one) is
    * persisted, one aggregate gives its bookkeeping rows, and it is
    * applied slice by slice: a slice of at most that many events is
    * collected raw, in one job, and goes on as held rows; a larger one
    * is persisted, decoded and deduplicated by Spark, and its sides
    * counted by one aggregate. The MERGE (`cdc_pipeline.py:211-237`)
    * and the DELETE (`:239-251`) read filters of one latest-per-key
    * frame. The reference stages both through global temp views; those
    * are shared by every topic thread, so two same-named tables in
    * different schemas would race on one view name — the frames go
    * straight to the table instead. */
  def processBatch(batchDf: DataFrame, batchId: Long, ctx: PipelineContext): Unit = {
    val startNs = System.nanoTime()
    val table = ctx.catalog.table(ctx.fullTableName)

    // replay high-water guard ([[Watermark.lastCdcBatch]]): a batch
    // whose watermark commit landed is proven fully applied on both
    // the data table and the ledger — a checkpoint-unconfirmed replay
    // must no-op WHOLESALE (the MERGE would converge anyway, but the
    // ledger append would double-count the batch and the re-merge
    // would burn table commits for nothing)
    if (Watermark.lastCdcBatch(ctx.catalog, ctx.dagId,
        ctx.icebergSchema, ctx.icebergTable).exists(_ >= batchId)) {
      logger.info(s"<batch-$batchId> replay of a fully-committed batch " +
        s"for ${ctx.topic}; no-op on the high-water guard")
      return
    }

    logger.info(s"<batch-$batchId> Processing ${ctx.topic}")
    // the batch's frames are batch-sized store inputs: coalesce them
    // bytes-first, as the store's own actions are (see StoreConf)
    val pairs = StoreConf.bytesFirstCoalesce(batchDf.sparkSession) {
      StoreWrite.local(batchDf).filter(h => h.rows.size <= LakeTable.MaxDeleteReachKeys &&
        Bookkeeping.forall { case (c, t) => h.indexOf(c).exists(h.output(_).dataType == t) }
      ) match {
        case Some(held) =>
          val rows = bookkeeping(held)
          applySlices(held.toDF, rows, ctx, table)
          rows
        case None =>
          batchDf.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val rows = batchDf.groupBy("value_schema_id", "key_schema_id").agg(
              count(lit(1)),
              date_format(max("timestamp"), TsFormat),
              min("offset"),
              max("offset")).collect()
            applySlices(batchDf, rows, ctx, table)
            rows
          } finally batchDf.unpersist()
      }
    }
    ctx.tracker.foreach(_.mark(ctx.fullTableName))

    // the batch's statistics, folded from its per-pair rows: the
    // timestamp strings are fixed-width, so their string max is the
    // latest; an empty batch has no rows, so count 0 and no bounds
    def present(i: Int) = pairs.toSeq.flatMap(r => Option(r.get(i)))
    Watermark.appendCdcWatermark(
      ctx.catalog, ctx.dagId, ctx.icebergSchema, ctx.icebergTable,
      eventCount = pairs.map(_.getLong(2)).sum,
      maxEventTs = present(3).map(_.asInstanceOf[String]).maxOption.map(Timestamp.valueOf),
      minOffset = present(4).map(_.asInstanceOf[Long]).minOption,
      maxOffset = present(5).map(_.asInstanceOf[Long]).maxOption,
      batchId = Some(batchId),
      processingDurationSec = Some((System.nanoTime() - startNs) / 1e9),
      scheduledAt = ctx.scheduledAt)
  }

  private val TsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** The batch columns the bookkeeping reads, with their contract types. */
  private val Bookkeeping = Seq("value_schema_id" -> IntegerType, "key_schema_id" -> IntegerType,
    "timestamp" -> TimestampType, "offset" -> LongType)

  /** The bookkeeping aggregate's rows over a batch the driver holds: per
    * (value, key) schema-id pair, the event count, the latest
    * `timestamp` through `date_format` in the session time zone, and the
    * least and greatest offset, nulls skipped as the aggregates skip
    * them. */
  private def bookkeeping(held: StoreWrite.Local): Array[Row] = {
    val Seq(vid, kid, ts, off) = Bookkeeping.map(c => held.indexOf(c._1).get)
    def opt(r: InternalRow, i: Int) = Option.unless(r.isNullAt(i))(r.getLong(i))
    def int(r: InternalRow, i: Int): Any = if (r.isNullAt(i)) null else r.getInt(i)
    val acc = new java.util.LinkedHashMap[(Any, Any), (Long, Option[Long], Option[Long], Option[Long])]()
    held.rows.foreach { r =>
      val (n, t, lo, hi) = acc.getOrDefault((int(r, vid), int(r, kid)), (0L, None, None, None))
      val o = opt(r, off)
      acc.put((int(r, vid), int(r, kid)), (n + 1, (t ++ opt(r, ts)).maxOption,
        (lo ++ o).minOption, (hi ++ o).maxOption))
    }
    val tz = Some(held.session.sessionState.conf.sessionLocalTimeZone)
    def render(micros: Long) =
      DateFormatClass(Literal(micros, TimestampType), Literal(TsFormat), tz).eval().toString
    acc.asScala.map { case ((v, k), (n, t, lo, hi)) =>
      Row(v, k, n, t.map(render).orNull, lo.map(Long.box).orNull, hi.map(Long.box).orNull)
    }.toArray
  }

  /** Applies a batch's slices: a slice of at most
    * [[LakeTable.MaxDeleteReachKeys]] events goes on as rows the driver
    * holds (collected raw, in one job, unless `batch` holds them
    * already); a larger one is persisted. */
  private def applySlices(batch: DataFrame, rows: Array[Row],
      ctx: PipelineContext, table: LakeTable): Unit = {
    val idPairs = rows.map(r => (r.getInt(0), r.getInt(1)))
    val schemaOf = idPairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> ctx.schemaRegistry.getSchema(id)).toMap
    // value id → its smallest paired key id, in ascending value-id
    // order: old versions first, so the newest version's MERGE wins
    val slices = idPairs.groupBy(_._1).view.mapValues(_.map(_._2).min)
      .toSeq.sortBy(_._1)

    logger.info(s"${ctx.topic} | Key Schema Ids: ${idPairs.map(_._2).distinct.toSeq} | " +
      s"Value Schema Ids: ${slices.map(_._1)}")

    // a slice's events, from the bookkeeping rows: its latest-per-key
    // rows are at most that many
    val eventsOf = rows.groupMapReduce(_.getInt(0))(_.getLong(2))(_ + _)
    def mergeAndDelete(changes: DataFrame, upsertCount: Long, deleteCount: Long): Unit = {
      if (upsertCount > 0) {
        logger.info(s"Executing Merge Into for ${table.name}")
        // honors write.merge.mode: COW (default) or merge-on-read — the
        // reference's commented per-table switch (iceberg.py:78-84)
        table.upsert(upserts(changes), Seq("id_iceberg"))
      }
      if (deleteCount > 0) {
        logger.info(s"Executing Delete for ${table.name}")
        table.deleteMatching(deletes(changes).select("id_iceberg"), Seq("id_iceberg"))
      }
    }

    val batchHeld = StoreWrite.local(batch).isDefined
    for ((valueSchemaId, keySchemaId) <- slices) {
      val schemaFiltered = batch.filter(col("value_schema_id") === valueSchemaId)
      val held = eventsOf(valueSchemaId) <= LakeTable.MaxDeleteReachKeys
      val valueSchemaStr = schemaOf(valueSchemaId)
      val keySchemaStr = schemaOf(keySchemaId)
      latestChanges(
        if (held && !batchHeld) StoreWrite.collectLocal(schemaFiltered) else schemaFiltered,
        keySchemaStr, valueSchemaStr,
        DebeziumSchema.extract(valueSchemaStr),
        DebeziumSchema.keyColumns(keySchemaStr), table)
        .foreach { changes =>
          if (held) {
            // as many rows as the driver holds for a read's delete keys:
            // both sides counted here, and the store writes them on the
            // driver (collected once if their plan did not fold)
            val local = StoreWrite.local(changes)
              .getOrElse(StoreWrite.local(StoreWrite.collectLocal(changes)).get)
            val op = local.indexOf("__op").get
            val ops = local.rows.map(r => if (r.isNullAt(op)) null else r.getUTF8String(op).toString)
            mergeAndDelete(local.toDF, ops.count(o => o != null && o != "d"), ops.count(_ == "d"))
          } else {
            val cached = changes.persist(StorageLevel.MEMORY_AND_DISK)
            try {
              val sides = cached.agg(
                count(when(!isDelete, true)), count(when(isDelete, true))).head()
              mergeAndDelete(cached, sides.getLong(0), sides.getLong(1))
            } finally cached.unpersist(false)
          }
        }
    }
  }

  /** Strip the Confluent wire header and surface the schema ids — the
    * pre-foreachBatch projection (`cdc_pipeline.py:406-410`), as pure
    * column expressions (no UDF). */
  def stripConfluentHeader(df: DataFrame): DataFrame =
    df.withColumn("key_schema_id", Transforms.confluentSchemaId(col("key")))
      .withColumn("key", Transforms.confluentPayload(col("key")))
      .withColumn("value_schema_id", Transforms.confluentSchemaId(col("value")))
      .withColumn("value", Transforms.confluentPayload(col("value")))
      .selectExpr("key_schema_id", "value_schema_id", "key", "value",
        "topic", "offset", "timestamp")

  /** One availableNow streaming round for a topic
    * (`cdc_pipeline.py:347-439`): read the stream, strip headers,
    * foreachBatch(processBatch) with a per-topic checkpoint, then the
    * gated position-delete compaction and the heartbeat row when no
    * batch ran. `sourceDf` is the Kafka-shaped streaming DataFrame
    * (file-backed in tests; spark-sql-kafka in production). */
  def runTopicStream(
      spark: SparkSession,
      sourceDf: DataFrame,
      ctx: PipelineContext,
      checkpointRoot: String): Unit = {

    val checkpointPath = TableNaming.checkpointPath(checkpointRoot, ctx.dagId, ctx.topic)
    logger.info(s"Starting stream for topic: ${ctx.topic}, checkpoint: $checkpointPath")

    @volatile var processed = false
    val query = stripConfluentHeader(sourceDf)
      .writeStream
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        processBatch(batchDf, batchId, ctx)
        processed = true
      }
      .option("checkpointLocation", checkpointPath)
      .queryName(ctx.topic)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    // gated position-delete compaction (MoR analog, cdc_pipeline.py:421-425)
    if (processed && ctx.positionDeleteInterval > 0) {
      ctx.positionDeleteLastMap.foreach { lastMap =>
        val key = ctx.fullTableName
        if (Watermark.shouldRun(lastMap.getOrElse(key, None), ctx.positionDeleteInterval))
          Maintenance.runPositionDeleteCompaction(ctx.catalog, ctx.dagId, key)
      }
    }

    // availableNow never calls foreachBatch on an empty round — record a
    // heartbeat watermark so liveness is observable (cdc_pipeline.py:427-439)
    if (!processed)
      Watermark.appendCdcWatermark(
        ctx.catalog, ctx.dagId, ctx.icebergSchema, ctx.icebergTable,
        eventCount = 0, maxEventTs = None, scheduledAt = ctx.scheduledAt)
  }
}
