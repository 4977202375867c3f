package graft.ledger

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{LakeCatalog, LakeTable}

/** Pipeline/maintenance progress ledgers — the application-level
  * offset/run tracking of the reference (`/root/reference/src/utils/
  * watermark.py`; NOT a Spark event-time watermark).
  *
  * Two append-only tables under `di_ops`:
  *  - `cdc_watermark`      one row per processed micro-batch (or
  *    heartbeat) per (dag, schema, table)
  *  - `maintenance_watermark`  one row per procedure run with
  *    success/failed/skipped status
  *
  * Appends are additive table commits. The reference serializes each
  * whole append under a per-table lock (`watermark.py:16,193`); here
  * the row writes run concurrently and only the commit is serialized:
  * [[LakeTable.append]] holds the table's in-JVM commit lock around the
  * log commit, and a writer in another process that wins the claim
  * first makes the append rebuild on the fresh head and retry. At scale
  * the ledgers stay tiny (rows ∝ batches, not data), so the single-row
  * append commits are metadata-only costs.
  */
object Watermark {

  val OpsSchema = "di_ops"
  val CdcTable = s"$OpsSchema.cdc_watermark"
  val MaintenanceTable = s"$OpsSchema.maintenance_watermark"

  /** `watermark.py:40-62`. */
  val CdcSchema: StructType = StructType(Seq(
    StructField("dag_id", StringType),
    StructField("iceberg_schema", StringType),
    StructField("table_name", StringType),
    StructField("scheduled_at", TimestampType),
    StructField("max_event_ts", TimestampType),
    StructField("processed_at", TimestampType),
    StructField("min_offset", LongType),
    StructField("max_offset", LongType),
    StructField("event_count", LongType),
    StructField("processing_duration_sec", DoubleType),
    StructField("batch_id", LongType)))

  /** `watermark.py:75-98`. */
  val MaintenanceSchema: StructType = StructType(Seq(
    StructField("dag_id", StringType),
    StructField("iceberg_schema", StringType),
    StructField("table_name", StringType),
    StructField("procedure_type", StringType),
    StructField("started_at", TimestampType),
    StructField("completed_at", TimestampType),
    StructField("duration_sec", DoubleType),
    StructField("status", StringType),
    StructField("error_message", StringType),
    StructField("rewritten_files_count", LongType),
    StructField("added_files_count", LongType),
    StructField("batch_id", LongType)))

  /** Contended-ledger commit tuning, as on the reference's DDL. */
  private val LedgerProperties = Map(
    "commit.retry.min-wait-ms" -> "200",
    "commit.retry.num-retries" -> "20")

  /** Create both ledger tables if absent (`watermark.py:24-98`). */
  def ensureWatermarkTables(cat: LakeCatalog): Unit = {
    cat.createDatabase(OpsSchema)
    ensure(cat, CdcTable, CdcSchema)
    ensure(cat, MaintenanceTable, MaintenanceSchema)
  }

  private def ensure(cat: LakeCatalog, fqn: String, schema: StructType): Unit = {
    val t = cat.table(fqn)
    if (!t.exists) {
      val empty = cat.spark.createDataFrame(
        cat.spark.sparkContext.emptyRDD[Row], schema)
      t.createOrReplace(empty, tableProperties = LedgerProperties)
      ()
    }
  }

  // -------------------------------------------------------------------
  // CDC watermark
  // -------------------------------------------------------------------

  private def cdcRow(
      spark: SparkSession,
      dagId: String,
      icebergSchema: String,
      tableName: String,
      eventCount: Long,
      maxEventTs: Option[Timestamp],
      minOffset: Option[Long],
      maxOffset: Option[Long],
      batchId: Option[Long],
      processingDurationSec: Option[Double],
      scheduledAt: Option[Timestamp]): DataFrame = {
    val row = Row(
      dagId, icebergSchema, tableName,
      scheduledAt.orNull,
      maxEventTs.orNull,
      new Timestamp(System.currentTimeMillis()),
      minOffset.map(Long.box).orNull,
      maxOffset.map(Long.box).orNull,
      Long.box(eventCount),
      processingDurationSec.map(Double.box).orNull,
      batchId.map(Long.box).orNull)
    spark.createDataFrame(java.util.List.of(row), CdcSchema)
  }

  /** Append one CDC progress row (`watermark.py:161-195`). Safe under
    * concurrent thread-per-topic writers. */
  def appendCdcWatermark(
      cat: LakeCatalog,
      dagId: String,
      icebergSchema: String,
      tableName: String,
      eventCount: Long,
      maxEventTs: Option[Timestamp],
      minOffset: Option[Long] = None,
      maxOffset: Option[Long] = None,
      batchId: Option[Long] = None,
      processingDurationSec: Option[Double] = None,
      scheduledAt: Option[Timestamp] = None): Unit = {
    // batch-id rows carry the stream's replay high-water mark ON the
    // same append commit (see [[lastCdcBatch]]) — heartbeats
    // (batchId = None) never move it
    cat.table(CdcTable).append(
      cdcRow(cat.spark, dagId, icebergSchema, tableName,
        eventCount, maxEventTs, minOffset, maxOffset, batchId,
        processingDurationSec, scheduledAt),
      batchId.map(b =>
        cdcBatchProp(dagId, icebergSchema, tableName) -> b.toString).toMap)
    ()
  }

  /** Replay high-water mark of one (dag, schema, table) CDC stream —
    * the two-sink exactly-once guard (the index families' `BatchProp`
    * pattern, `cdc_pipeline.py`'s missing half): the mark rides the
    * watermark APPEND commit, which `processBatch` runs LAST, after
    * the MERGE/DELETE landed on the data table. So a batch whose mark
    * is visible is proven fully applied on BOTH tables and a replayed
    * foreachBatch no-ops wholesale (no duplicate ledger row, no
    * re-merge); a crash BETWEEN the data commit and the ledger append
    * leaves the mark unset, and the replay re-applies the batch — the
    * MERGE/DELETE converge idempotently and the ledger row lands once.
    * Single sequential writer per key assumed (a streaming query's
    * foreachBatch contract): batch ids arrive monotonically — wiping a
    * checkpoint without clearing the mark (or changing the dag id)
    * replays nothing until fresh ids pass the old high-water. */
  def lastCdcBatch(
      cat: LakeCatalog, dagId: String,
      icebergSchema: String, tableName: String): Option[Long] =
    cat.table(CdcTable).properties
      .get(cdcBatchProp(dagId, icebergSchema, tableName))
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  private val CdcBatchPropPrefix = "cdc.last-batch."

  private def cdcBatchProp(
      dagId: String, icebergSchema: String, tableName: String): String =
    s"$CdcBatchPropPrefix$dagId.$icebergSchema.$tableName"

  /** Upsert variant keyed on (dag_id, iceberg_schema, table_name) —
    * single-writer environments only (`watermark.py:198-247`). */
  def mergeCdcWatermark(
      cat: LakeCatalog,
      dagId: String,
      icebergSchema: String,
      tableName: String,
      eventCount: Long,
      maxEventTs: Option[Timestamp],
      minOffset: Option[Long] = None,
      maxOffset: Option[Long] = None,
      batchId: Option[Long] = None,
      processingDurationSec: Option[Double] = None,
      scheduledAt: Option[Timestamp] = None): Unit = {
    cat.table(CdcTable).mergeInto(
      cdcRow(cat.spark, dagId, icebergSchema, tableName, eventCount, maxEventTs,
        minOffset, maxOffset, batchId, processingDurationSec, scheduledAt),
      Seq("dag_id", "iceberg_schema", "table_name"))
    ()
  }

  // -------------------------------------------------------------------
  // Maintenance watermark
  // -------------------------------------------------------------------

  /** Append one procedure-run row (`watermark.py:333-361`). Error
    * messages are truncated to 500 chars like the reference. */
  def appendMaintenanceWatermark(
      cat: LakeCatalog,
      dagId: String,
      icebergSchema: String,
      tableName: String,
      procedureType: String,
      startedAt: Timestamp,
      completedAt: Option[Timestamp],
      durationSec: Double,
      status: String,
      errorMessage: Option[String] = None,
      rewrittenFilesCount: Option[Long] = None,
      addedFilesCount: Option[Long] = None,
      batchId: Option[Long] = None): Unit = {
    val row = Row(
      dagId, icebergSchema, tableName, procedureType,
      startedAt, completedAt.orNull, Double.box(durationSec), status,
      errorMessage.map(_.take(500)).orNull,
      rewrittenFilesCount.map(Long.box).orNull,
      addedFilesCount.map(Long.box).orNull,
      batchId.map(Long.box).orNull)
    cat.table(MaintenanceTable)
      .append(cat.spark.createDataFrame(java.util.List.of(row), MaintenanceSchema))
    ()
  }

  // -------------------------------------------------------------------
  // Query / scheduling
  // -------------------------------------------------------------------

  /** Bulk last-success lookup: one GROUP BY + MAX over the ledger instead
    * of a query per table (`watermark.py:364-400`). */
  def getLastCompletedMap(
      cat: LakeCatalog,
      tables: Seq[String],
      procedureType: String): Map[String, Option[Timestamp]] = {
    val rows = cat.table(MaintenanceTable).read
      .filter(col("procedure_type") === procedureType && col("status") === "success")
      .groupBy("iceberg_schema", "table_name")
      .agg(max("completed_at").as("last_completed"))
      .collect()
    val found = rows.map { r =>
      s"${r.getString(0)}.${r.getString(1)}" -> Option(r.getTimestamp(2))
    }.toMap
    tables.map(t => t -> found.getOrElse(t, None)).toMap ++ found
  }

  /** Wall-clock interval gate (`watermark.py:392-400`). */
  def shouldRun(lastCompleted: Option[Timestamp], intervalSeconds: Long): Boolean =
    lastCompleted match {
      case None => true
      case Some(ts) =>
        (System.currentTimeMillis() - ts.getTime) / 1000.0 >= intervalSeconds
    }

  // -------------------------------------------------------------------
  // Purge
  // -------------------------------------------------------------------

  /** Retention delete keeping the newest row per key regardless of age
    * (`watermark.py:408-458`):
    *  - cdc: key (dag_id, iceberg_schema, table_name), newest processed_at
    *  - maintenance: key (…, procedure_type), newest started_at
    */
  def purgeWatermarks(cat: LakeCatalog, retentionDays: Int = 7): Unit = {
    purgeOne(cat, CdcTable,
      Seq("dag_id", "iceberg_schema", "table_name"), "processed_at", retentionDays)
    purgeOne(cat, MaintenanceTable,
      Seq("dag_id", "iceberg_schema", "table_name", "procedure_type"), "started_at",
      retentionDays)
    purgeStaleCdcBatchProps(cat, retentionDays)
  }

  /** Replay-mark hygiene, riding the same purge pass: the
    * `cdc.last-batch.*` high-water marks ([[lastCdcBatch]]) accumulate
    * one table property per (dag, schema, table) stream and otherwise
    * live forever — every retired stream leaves a dead key riding
    * every subsequent ledger version file. A mark whose stream has NO
    * ledger row inside the retention window is dropped: such a stream
    * is retired, or idle past retention — and a live idle stream
    * heartbeats every empty round, which counts as presence here, so
    * only genuinely silent streams qualify. Dropping a mark never
    * risks duplicate DATA: the mark only short-circuits a replayed
    * batch wholesale; without it a replay re-runs the idempotent
    * MERGE/DELETE and at worst re-appends one ledger row for a batch
    * whose original row just aged out of retention anyway. Live keys
    * are matched by CONSTRUCTING prop names from the kept triples —
    * dag ids may contain '.', so parsing prop keys back into triples
    * would be ambiguous. The removal is VALUE-GUARDED
    * ([[LakeTable.removePropertiesIfUnchanged]]): a stream whose first
    * in-months batch commits between the live-stream scan here and the
    * remove commit re-sets its mark to a new batch id, so the guard
    * sees a changed value and keeps the key — only marks genuinely
    * untouched since the scan are dropped. */
  private def purgeStaleCdcBatchProps(cat: LakeCatalog, retentionDays: Int): Unit = {
    val t = cat.table(CdcTable)
    if (!t.exists) return
    val props = t.properties
    val marks = props.keySet.filter(_.startsWith(CdcBatchPropPrefix))
    if (marks.isEmpty) return
    val cutoff = expr(s"current_timestamp() - INTERVAL $retentionDays DAYS")
    val live = t.read
      .filter(col("processed_at") >= cutoff)
      .select("dag_id", "iceberg_schema", "table_name").distinct()
      .collect() // bounded: one row per stream alive inside retention
      .map(r => cdcBatchProp(r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val stale = (marks -- live).toSeq.sorted
    if (stale.nonEmpty) {
      t.removePropertiesIfUnchanged(
        stale.map(k => k -> props(k)).toMap)
      ()
    }
  }

  private def purgeOne(
      cat: LakeCatalog,
      fqn: String,
      keys: Seq[String],
      tsCol: String,
      retentionDays: Int): Unit = {
    val t = cat.table(fqn)
    if (!t.exists) return
    val cutoff = expr(s"current_timestamp() - INTERVAL $retentionDays DAYS")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(desc(tsCol))
    val kept = t.read
      .withColumn("__rn", row_number().over(w))
      .filter(col(tsCol) >= cutoff || col("__rn") === 1)
      .drop("__rn")
    t.overwrite(kept)
    ()
  }
}
