package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession, StoreWrite}
import org.apache.spark.sql.functions._
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
    * Each slice's latest-per-key frame, with its `__op`, is computed
    * once: the decode → cast → window-dedup lineage runs in one job,
    * and the MERGE (`cdc_pipeline.py:211-237`) and the DELETE
    * (`:239-251`) read filters of its result. A slice of at most
    * [[LakeTable.MaxDeleteReachKeys]] events is collected to the
    * driver: both sides are counted there, and the store writes the
    * MERGE's data and delete files and the DELETE's delete file there,
    * with no job. A larger slice is persisted; one aggregate counts
    * both sides and the writes are Spark jobs. The reference stages
    * both through global temp views; those are shared by every topic
    * thread, so two same-named tables in different schemas would race
    * on one view name — the frames go straight to the table instead. */
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
    batchDf.persist(StorageLevel.MEMORY_AND_DISK)
    // the batch's frames are batch-sized store inputs: coalesce them
    // bytes-first, as the store's own actions are (see StoreConf)
    val pairs = StoreConf.bytesFirstCoalesce(batchDf.sparkSession) {
      try {
        val rows = batchDf.groupBy("value_schema_id", "key_schema_id").agg(
          count(lit(1)),
          date_format(max("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          min("offset"),
          max("offset")).collect()
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

        for ((valueSchemaId, keySchemaId) <- slices) {
          val schemaFiltered = batchDf.filter(col("value_schema_id") === valueSchemaId)
          val valueSchemaStr = schemaOf(valueSchemaId)
          val keySchemaStr = schemaOf(keySchemaId)
          latestChanges(schemaFiltered, keySchemaStr, valueSchemaStr,
            DebeziumSchema.extract(valueSchemaStr),
            DebeziumSchema.keyColumns(keySchemaStr), table)
            .foreach { changes =>
              if (eventsOf(valueSchemaId) <= LakeTable.MaxDeleteReachKeys) {
                // as many rows as the driver holds for a read's delete
                // keys: collected in one job, both sides counted here, and
                // the store writes them on the driver
                val local = StoreWrite.collectLocal(changes)
                val ops = local.select("__op").collect().map(_.getString(0))
                mergeAndDelete(local, ops.count(op => op != null && op != "d"), ops.count(_ == "d"))
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

        ctx.tracker.foreach(_.mark(ctx.fullTableName))
        rows
      } finally batchDf.unpersist()
    }

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
