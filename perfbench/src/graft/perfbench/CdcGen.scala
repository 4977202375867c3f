package graft.perfbench

import java.io.ByteArrayOutputStream
import java.math.BigInteger
import java.nio.ByteBuffer
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{CdcPipeline, InMemorySchemaRegistry}
import graft.functions.Transforms

/** Source columns of one CDC row, as the table shows them: `dtDays` is
  * days since epoch, `tsMicros` the UTC instant in µs (the Debezium
  * MicroTimestamp after the source-zone shift), `amountCents` the
  * unscaled decimal(12,2). */
final case class SrcRow(
    id: Long, dtDays: Int, tsMicros: Long, amountCents: Long,
    name: String, qty: Long, score: Double)

object SrcRow {
  def fromTable(r: Row): SrcRow = SrcRow(
    r.getAs[Long]("id"),
    r.getAs[java.sql.Date]("DT").toLocalDate.toEpochDay.toInt,
    micros(r.getAs[Timestamp]("TS")),
    r.getAs[java.math.BigDecimal]("AMOUNT").unscaledValue().longValueExact(),
    r.getAs[String]("NAME"),
    r.getAs[Long]("QTY"),
    r.getAs[Double]("SCORE"))

  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
}

/** One Debezium change event. `after` is null for deletes. */
final case class CdcEvent(op: Char, id: Long, after: SrcRow, schemaId: Int, offset: Long)

/** One pre-generated micro-batch: its events, and the point lookups to
  * run after it with the row each must return (None = absent). */
final case class CdcBatch(
    index: Int, events: IndexedSeq[CdcEvent],
    lookups: IndexedSeq[(Long, Option[SrcRow])],
    corrupt: Boolean = false)

/** Debezium envelope schemas (MySQL connector shape) for the benchmark's
  * `TB_CDC` source table: key `{id}`; value v1 (registry id 2) with
  * Date, MicroTimestamp, decimal-bytes, string, long and double columns;
  * value v2 (id 3) adds a nullable `NOTE` column the catalog table does
  * not carry, so a batch holding both ids runs the ascending-schema
  * split. */
object CdcSchemas {
  val KeyId = 1
  val ValueV1 = 2
  val ValueV2 = 3

  /** Seoul has had no DST since 1988: the MicroTimestamp source-zone
    * shift is a constant 9 h for the generated dates. */
  val SourceShiftMicros: Long = 9L * 3600L * 1000000L

  val keyJson: String =
    """{"type":"record","name":"Key","namespace":"bench.store.TB_CDC","fields":[
      {"name":"id","type":"long"}]}"""

  private def valueJson(extra: String): String =
    s"""{"type":"record","name":"Envelope","namespace":"bench.store.TB_CDC","fields":[
      {"name":"before","type":["null",{"type":"record","name":"Value","fields":[
        {"name":"id","type":"long"},
        {"name":"DT","type":{"type":"int","connect.version":1,"connect.name":"io.debezium.time.Date"}},
        {"name":"TS","type":["null",{"type":"long","connect.version":1,
          "connect.name":"io.debezium.time.MicroTimestamp"}],"default":null},
        {"name":"AMOUNT","type":{"type":"bytes","scale":2,"precision":12,"connect.version":1,
          "connect.parameters":{"scale":"2","connect.decimal.precision":"12"},
          "connect.name":"org.apache.kafka.connect.data.Decimal","logicalType":"decimal"}},
        {"name":"NAME","type":["null","string"],"default":null},
        {"name":"QTY","type":["null","long"],"default":null},
        {"name":"SCORE","type":["null","double"],"default":null}$extra
      ]}],"default":null},
      {"name":"after","type":["null","Value"],"default":null},
      {"name":"op","type":"string"},
      {"name":"ts_ms","type":["null","long"],"default":null}
    ]}"""

  val valueV1Json: String = valueJson("")
  val valueV2Json: String =
    valueJson(""",{"name":"NOTE","type":["null","string"],"default":null}""")

  def registry = new InMemorySchemaRegistry(Map(
    KeyId -> keyJson, ValueV1 -> valueV1Json, ValueV2 -> valueV2Json))

  val kafkaSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))

  val SourceColumns: Seq[String] = Seq("id", "DT", "TS", "AMOUNT", "NAME", "QTY", "SCORE")

  /** Base day/instant of the seeded rows (2020-01-01). */
  val BaseDay = 18262
  val BaseMicros = 1577836800000000L

  /** The row the table is seeded with for key `id` — the same formula
    * as [[seedFrame]], evaluated on the driver for the replay model. */
  def seedRow(id: Long): SrcRow = SrcRow(
    id, BaseDay + (id % 1000).toInt, BaseMicros + id * 1000003L,
    (id * 37) % 100000, s"s$id", id % 1000, (id % 4096) / 8.0)

  /** `n` seeded rows as the JDBC snapshot path would land them: source
    * columns, audit column, PK hash. */
  def seedFrame(spark: SparkSession, n: Long, partitions: Int): DataFrame = {
    val id = col("id")
    val base = spark.range(0, n, 1, partitions).select(
      id,
      date_add(lit("1970-01-01").cast(DateType), (lit(BaseDay) + id % 1000).cast(IntegerType)).as("DT"),
      timestamp_micros(lit(BaseMicros) + id * 1000003L).as("TS"),
      ((id * 37) % 100000).cast(DecimalType(14, 0))
        .divide(lit(new java.math.BigDecimal(100))).cast(DecimalType(12, 2)).as("AMOUNT"),
      concat(lit("s"), id.cast(StringType)).as("NAME"),
      (id % 1000).as("QTY"),
      ((id % 4096) / 8.0).as("SCORE"))
    Transforms.withPkHash(Transforms.withAuditColumn(base), Seq("id"))
  }

  /** Source columns of a table frame, in a fixed order. */
  def sourceRows(df: DataFrame): Seq[SrcRow] =
    df.select(SourceColumns.map(col): _*).collect().toSeq.map(SrcRow.fromTable)
}

/** Confluent-framed Avro encoder for [[CdcEvent]]s. */
final class CdcEncoder {
  import CdcSchemas._

  private val keySchema = new Schema.Parser().parse(keyJson)
  private val valueSchemas = Map(
    ValueV1 -> new Schema.Parser().parse(valueV1Json),
    ValueV2 -> new Schema.Parser().parse(valueV2Json))

  private def encode(schema: Schema, rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire format: magic 0, 4-byte big-endian schema id, body. */
  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(schemaId).put(body).array()

  def keyBytes(id: Long): Array[Byte] = {
    val r = new GenericData.Record(keySchema)
    r.put("id", id)
    frame(KeyId, encode(keySchema, r))
  }

  def valueBytes(e: CdcEvent, tsMs: Long): Array[Byte] = {
    val schema = valueSchemas(e.schemaId)
    val rowSchema = schema.getField("after").schema().getTypes.get(1)
    val env = new GenericData.Record(schema)
    if (e.after != null) {
      val a = e.after
      val v = new GenericData.Record(rowSchema)
      v.put("id", a.id)
      v.put("DT", a.dtDays)
      v.put("TS", a.tsMicros + SourceShiftMicros)
      v.put("AMOUNT", ByteBuffer.wrap(BigInteger.valueOf(a.amountCents).toByteArray))
      v.put("NAME", a.name)
      v.put("QTY", a.qty)
      v.put("SCORE", a.score)
      if (e.schemaId == ValueV2) v.put("NOTE", s"v2-${e.offset}")
      env.put(if (e.op == 'd') "before" else "after", v)
    }
    env.put("op", e.op.toString)
    env.put("ts_ms", tsMs)
    frame(e.schemaId, encode(schema, env))
  }

  /** The batch as the Kafka source hands it to the pipeline: framed
    * key/value bytes, then the Confluent header strip. A corrupt batch
    * truncates one value body, which the FAILFAST decoder rejects. */
  def batchFrame(spark: SparkSession, topic: String, b: CdcBatch): DataFrame = {
    val rows = b.events.zipWithIndex.map { case (e, i) =>
      val tsMs = 1700000000000L + e.offset
      val v0 = valueBytes(e, tsMs)
      val v = if (b.corrupt && i == b.events.size / 2) v0.take(7) else v0
      Row(keyBytes(e.id), v, topic, 0, e.offset, new Timestamp(tsMs))
    }
    CdcPipeline.stripConfluentHeader(spark.createDataFrame(rows.asJava, kafkaSchema))
  }
}

/** Seeded change-stream generator and its replay model.
  *
  * The model is plain Scala: a map from key to the row the table must
  * hold. Events are generated against it, so updates and deletes only
  * ever name live keys and every lookup carries the answer the table
  * must give after its batch. Per-batch semantics match the pipeline's
  * (latest offset per key wins, schema versions in ascending id order):
  * v2 events are always the tail of a batch, so ascending schema order
  * is offset order and a sequential replay is exact.
  *
  * @param skewed    updates/deletes favour recently inserted keys
  *                  (exponential recency, mean `recencyMean` keys back);
  *                  otherwise keys are uniform over all inserted keys
  */
final class CdcStream(
    seed: Long,
    seedRows: Long,
    batchSize: Int,
    lookupsPerBatch: Int,
    skewed: Boolean,
    twoSchemaEvery: Int = 10,
    recencyMean: Double = 2000.0) {

  private val rng = new scala.util.Random(seed)
  val model: mutable.LongMap[SrcRow] = mutable.LongMap.empty
  private val inserted = mutable.ArrayBuffer[Long]()
  private var nextId = seedRows
  private var offset = 0L
  private var batchNo = 0
  private var touched: IndexedSeq[Long] = IndexedSeq.empty
  // per generated batch: each touched key's row before the batch, so
  // the model can be rolled back to any batch the loop stopped after
  private val undo = mutable.ArrayBuffer[Seq[(Long, Option[SrcRow])]]()

  (0L until seedRows).foreach { id => model(id) = CdcSchemas.seedRow(id); inserted += id }

  private def randomRow(id: Long): SrcRow = SrcRow(
    id,
    CdcSchemas.BaseDay + rng.nextInt(3650),
    CdcSchemas.BaseMicros + (rng.nextDouble() * 3650 * 86400e6).toLong,
    rng.nextInt(10000000).toLong,
    if (rng.nextInt(20) == 0) null else Iterator.fill(3 + rng.nextInt(8))(('a' + rng.nextInt(26)).toChar).mkString,
    rng.nextInt(1000000).toLong,
    rng.nextInt(1 << 20) / 8.0)

  /** A live key: recency-skewed or uniform; falls back to any live key. */
  private def liveKey(): Long = {
    var tries = 0
    while (tries < 32) {
      val n = inserted.size
      val i =
        if (skewed) n - 1 - math.min(n - 1, (-math.log(1 - rng.nextDouble()) * recencyMean).toInt)
        else rng.nextInt(n)
      val k = inserted(i)
      if (model.contains(k)) return k
      tries += 1
    }
    model.keysIterator.next()
  }

  def nextBatch(corrupt: Boolean = false): CdcBatch = {
    batchNo += 1
    val v2From =
      if (twoSchemaEvery > 0 && batchNo % twoSchemaEvery == 0) (batchSize * 7) / 10
      else Int.MaxValue
    val events = (0 until batchSize).map { i =>
      offset += 1
      val schemaId = if (i >= v2From) CdcSchemas.ValueV2 else CdcSchemas.ValueV1
      val r = rng.nextInt(10)
      if (r < 6 || model.isEmpty) {
        val id = nextId; nextId += 1
        CdcEvent('c', id, randomRow(id), schemaId, offset)
      } else if (r < 8) {
        val id = liveKey()
        CdcEvent('u', id, randomRow(id), schemaId, offset)
      } else {
        val id = liveKey()
        CdcEvent('d', id, model(id), schemaId, offset)
      }
    }
    val before = events.map(_.id).distinct.map(k => k -> model.get(k))
    undo += (if (corrupt) Nil else before)
    if (!corrupt) applyEvents(events)
    touched = events.map(_.id).distinct
    // the first two lookups of a batch are live keys, so a workload with
    // one or two lookups per batch samples one kind of read; more lookups
    // add a key this batch wrote (or deleted) and a key that may never
    // have existed
    val lookups = (0 until lookupsPerBatch).map { j =>
      val k = j % 4 match {
        case 0 | 1 => liveKey()
        case 2 => touched(rng.nextInt(touched.size))
        case _ => rng.nextInt(math.max(1, nextId.toInt)).toLong
      }
      k -> model.get(k)
    }
    CdcBatch(batchNo, events, lookups, corrupt)
  }

  /** Roll the model back to its state after the first `n` generated
    * batches. */
  def rollbackTo(n: Int): Unit = {
    while (undo.size > n) {
      undo.remove(undo.size - 1).foreach {
        case (k, Some(r)) => model(k) = r
        case (k, None) => model.remove(k)
      }
    }
  }

  private def applyEvents(events: Seq[CdcEvent]): Unit = events.foreach { e =>
    e.op match {
      case 'd' => model.remove(e.id)
      case 'c' => model(e.id) = e.after; inserted += e.id
      case _ => model(e.id) = e.after
    }
  }
}
