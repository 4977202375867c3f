package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, DeleteKeyMask, StoreWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level transforms of the ingestion path, re-expressed as
  * codegen-friendly built-in expressions (no UDFs anywhere).
  *
  * Reference behaviors reproduced:
  *  - trim of all string columns (`src/utils/iceberg.py:17-29`)
  *  - UTC normalization of all timestamp columns (`src/parquet_to_iceberg.py:26-35`)
  *  - synthetic PK hash `id_iceberg = md5(concat_ws("|", pk...))`
  *    (`src/mysql_to_iceberg.py:60`, `src/utils/cdc_pipeline.py:171-174`)
  *  - audit column `last_applied_date` (`src/mysql_to_iceberg.py:57`)
  *  - Confluent wire format: `[magic(1)][schema id(4 BE)][payload]`
  *    (`src/utils/cdc_pipeline.py:406-409`, `src/kafka_to_s3.py:141-146`)
  *
  * All of these stay inside whole-stage codegen: single projection over the
  * scan, so at 100 TB they add no extra pass or shuffle.
  */
object Transforms {

  /** Trim every StringType column, preserving column order and all other
    * columns untouched. One narrow projection — no shuffle. */
  def trimStringColumns(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) trim(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Normalize every TimestampType column to UTC (the reference applies
    * `to_utc_timestamp(c, "UTC")` — an identity shift kept for parity with
    * upstream DMS output whose zone is already UTC). */
  def convertTimestampsToUtc(df: DataFrame, sourceZone: String = "UTC"): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType => to_utc_timestamp(col(f.name), sourceZone).as(f.name)
        case _             => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** NTZ-tolerant epoch micros. `unix_micros` accepts only the zoned
    * TimestampType, but parquet written with untagged `timestamp[us]`
    * (the driver testdata's `ts` columns) reads back as TIMESTAMP_NTZ
    * under Spark 4 — so cast first. The session zone is pinned UTC
    * (GraftSession/build.sbt), making the NTZ→TZ cast an identity; and
    * every caller takes a DIFFERENCE of two micros, so any zone offset
    * would cancel regardless. Zoned inputs pass through the cast
    * untouched, so the helper is safe for both layouts. */
  def microsOf(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Synthetic identity: MD5 hex of the PK columns joined by '|'.
    * PK column ORDER matters (composite keys). */
  def pkHashColumn(pkCols: Seq[String]): Column =
    md5(concat_ws("|", pkCols.map(c => col(c).cast(StringType)): _*))

  /** Append `id_iceberg` identity column. */
  def withPkHash(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.withColumn("id_iceberg", pkHashColumn(pkCols))

  /** Append `last_applied_date` audit column (batch path:
    * `current_timestamp()`; CDC path passes `timestamp_millis(ts_ms)`). */
  def withAuditColumn(df: DataFrame, value: Column = current_timestamp()): DataFrame =
    df.withColumn("last_applied_date", value)

  /** Confluent wire format: 4-byte big-endian schema id at offset 2.
    * Pure column expression — `conv(hex(bytes), 16, 10)` — instead of the
    * reference's Python UDF (`kafka_to_iceberg.py:102`): stays in codegen. */
  def confluentSchemaId(binaryCol: Column): Column =
    conv(hex(substring(binaryCol, 2, 4)), 16, 10).cast(IntegerType)

  /** Confluent wire format: payload after the 5-byte header
    * (`substring` is 1-based; byte 6 onward, rest of the value). */
  def confluentPayload(binaryCol: Column): Column =
    substring(binaryCol, 6, Int.MaxValue)

  /** Per-key latest-record dedup: keep the single highest-`orderCol` row per
    * `keyCol` (`src/utils/cdc_pipeline.py:199-204`). `tieBreak` columns make
    * the result deterministic when orderCol ties (Kafka offsets never tie
    * within a topic-partition; synthetic data can).
    *
    * Scale: one hash-partition shuffle on the key + in-partition sort —
    * exactly the minimal work for "latest per key" and AQE-coalescible.
    * Rows the driver already holds (`StoreWrite.local`) are deduplicated
    * there, with no job, under the window's semantics: `orderCol`, then
    * each `tieBreak`, descending with nulls last, and keys grouped as
    * Spark groups them (null equals null, NaN equals NaN, -0.0 equals
    * 0.0); a full tie keeps the first row met, where the window keeps
    * any one. Key types the delete-key mask cannot compare keep the
    * window. */
  def latestPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val held = StoreWrite.local(df).flatMap { h =>
      val keys = keyCols.flatMap(h.indexOf)
      val order = (orderCol +: tieBreak).flatMap(h.indexOf)
      Option.when(keys.size == keyCols.size && order.size == tieBreak.size + 1 &&
          keys.forall(i => DeleteKeyMask.supported(h.output(i).dataType)))((h, keys, order))
    }
    held match {
      case Some((h, keys, order)) =>
        val keyOf = h.keyOf(keys)
        val ordering = new InterpretedOrdering(order.map { i =>
          SortOrder(BoundReference(i, h.output(i).dataType, h.output(i).nullable), Descending)
        })
        val latest = new java.util.LinkedHashMap[Any, InternalRow]()
        h.rows.foreach { r =>
          val k = keyOf(r)
          val kept = latest.get(k)
          if (kept == null || ordering.lt(r, kept)) latest.put(k, r)
        }
        StoreWrite.frame(h.session, df.schema, latest.values.asScala.toSeq)
      case None =>
        val w = Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy((desc(orderCol) +: tieBreak.map(desc)): _*)
        df.withColumn("__row", row_number().over(w))
          .filter(col("__row") === 1)
          .drop("__row")
    }
  }
}
