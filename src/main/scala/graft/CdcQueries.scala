package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.DebeziumCast
import graft.functions.Transforms

/** Oracle-checked queries exercising the Debezium CDC transform core
  * (`graft.cdc`) on synthesized wire-format data derived from the
  * deterministic testdata tables.
  *
  * The envelope values mirror what Debezium puts on the wire
  * (`/root/reference/resources/debezium_cdc_value.json`): epoch-day ints,
  * µs-of-day longs, ms/µs epoch longs with Avro `default: 0` sentinels.
  * Every temporal output is formatted to a string on BOTH sides so the
  * driver's value-hash compare is engine-neutral.
  */
object CdcQueries {

  import SparkEntry.table

  /** Synthesized Debezium wire values keyed by o_orderkey. Whole-second
    * timestamps keep the double division in MicroTime exact; the µs
    * fractional path is locked by DebeziumCastSpec instead. */
  private def wire(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").select(
      col("o_orderkey").as("id"),
      (col("o_orderkey") % 20000).cast(IntegerType).as("days"),
      ((col("o_orderkey") % 86400) * 1000000L).as("micros_day"),
      when(col("o_orderkey") % 10 === 0, lit(0L))
        .otherwise(lit(1584598489000L) + col("o_orderkey") * 1000L)
        .as("ms_epoch"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast(LongType))
        .otherwise(lit(1651942920000000L) + col("o_orderkey") * 1000000L)
        .as("us_epoch"))

  /** c01: the four numeric Debezium temporal casts, incl. the zero-guard
    * (ms_epoch=0 → NULL) and NULL propagation (cdc_pipeline.py:78-124). */
  private def c01(s: SparkSession, dir: String): DataFrame = {
    import DebeziumCast._
    wire(s, dir).select(
      col("id"),
      date_format(castColumn(col("days"), Date), "yyyy-MM-dd").as("d_s"),
      date_format(castColumn(col("micros_day"), MicroTime), "yyyy-MM-dd HH:mm:ss")
        .as("mt_s"),
      date_format(castColumn(col("ms_epoch"), Timestamp), "yyyy-MM-dd HH:mm:ss")
        .as("ts_s"),
      date_format(castColumn(col("us_epoch"), MicroTimestamp), "yyyy-MM-dd HH:mm:ss")
        .as("us_s"))
      .orderBy("id")
  }

  /** c02: nested-struct envelope expansion `value.after.*` with
    * op/offset aliasing and the ts_ms audit column
    * (cdc_pipeline.py:175-181). */
  private def c02(s: SparkSession, dir: String): DataFrame = {
    val env = table(s, dir, "events").select(
      struct(
        struct(col("event_id").as("id"), col("user_id"), col("event_type")).as("after"),
        when(col("event_id") % 5 === 0, "d")
          .when(col("event_id") % 2 === 0, "u")
          .otherwise("c").as("op"),
        (col("event_id") * 1000L + 1584598489000L).as("ts_ms")).as("value"),
      col("event_id").as("offset"))
    env.select(
      col("value.after.*"),
      col("value.op").as("__op"),
      col("offset").as("__offset"),
      date_format(timestamp_millis(col("value.ts_ms")), "yyyy-MM-dd HH:mm:ss.SSS")
        .as("lad_s"))
      .orderBy("id")
  }

  /** c03: CDC batch semantics — latest-per-key by offset, then op-split;
    * upserts are `__op != 'd'` survivors (cdc_pipeline.py:199-207). */
  private def c03(s: SparkSession, dir: String): DataFrame = {
    val env = table(s, dir, "events").select(
      col("user_id"),
      col("event_id").as("__offset"),
      col("event_type"),
      when(col("event_id") % 5 === 0, "d")
        .when(col("event_id") % 2 === 0, "u")
        .otherwise("c").as("__op"))
    Transforms
      .latestPerKey(env, Seq("user_id"), "__offset")
      .filter(col("__op") =!= "d")
      .select("user_id", "event_type", "__op")
      .orderBy("user_id")
  }

  /** c04: schema-conforming double cast — semantic cast, then cast to the
    * live catalog type, catalog column order (cdc_pipeline.py:190-197). */
  private def c04(s: SparkSession, dir: String): DataFrame = {
    import DebeziumCast._
    val catalog = StructType(Seq(
      StructField("id", IntegerType),
      StructField("days", DateType),
      StructField("ms_epoch", TimestampType),
      StructField("us_epoch", StringType)))
    val dbz = Map("days" -> Date, "ms_epoch" -> Timestamp, "us_epoch" -> MicroTimestamp)
    DebeziumCast
      .conformToCatalog(wire(s, dir), catalog, dbz)
      .select(
        col("id"),
        date_format(col("days"), "yyyy-MM-dd").as("d_s"),
        date_format(col("ms_epoch"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("us_epoch").as("us_s"))
      .orderBy("id")
  }

  /** c05: composite-PK identity — `id_iceberg = md5(concat_ws("|", ...))`
    * over semantically-cast key columns, mirroring the golden key schema's
    * (int, Date) composite (cdc_pipeline.py:171-174). */
  private def c05(s: SparkSession, dir: String): DataFrame = {
    import DebeziumCast._
    wire(s, dir)
      .select(
        col("id"),
        md5(concat_ws("|",
          col("id").cast(StringType),
          castColumn(col("days"), Date).cast(StringType))).as("id_iceberg"))
      .orderBy("id")
  }

  /** c08: Confluent wire-format round trip as pure column expressions —
    * build `[magic 0][schema id 4B BE][payload]` frames from orders rows,
    * then extract the id and payload back with the no-UDF decoders
    * (`cdc_pipeline.py:406-409`; the reference registers a Python UDF,
    * `kafka_to_iceberg.py:102` — conv(hex(substring)) stays in codegen). */
  private def c08(s: SparkSession, dir: String): DataFrame = {
    val framed = table(s, dir, "orders").select(
      col("o_orderkey").as("id"),
      concat(
        unhex(lit("00")),
        unhex(lpad(hex((col("o_orderkey") % 100000).cast(IntegerType)), 8, "0")),
        encode(col("o_orderstatus"), "UTF-8")).as("frame"))
    framed.select(
      col("id"),
      Transforms.confluentSchemaId(col("frame")).cast("long").as("schema_id"),
      decode(Transforms.confluentPayload(col("frame")), "UTF-8").as("payload_s"),
      (length(col("frame")) - 5).cast("long").as("payload_len"))
      .orderBy("id")
  }

  /** c11: the Avro decode path itself under the oracle gate — a
    * deterministic sample of orders is Avro-encoded (binary envelope
    * bodies built with the avro runtime), decoded by
    * graft.avro.AvroDecode (FAILFAST, one reused reader) on the driver,
    * since the sample is a local frame, and the projected fields must
    * hash-match the relational oracle. `AvroDecodeSpec` checks that the
    * executors' per-partition decode gives the same rows. */
  private def c11(s: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.generic.GenericData
    val schemaJson =
      """{"type":"record","name":"O","fields":[
        {"name":"id","type":"long"},
        {"name":"status","type":["null","string"],"default":null},
        {"name":"price","type":"double"}]}"""
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val sample = table(s, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect()
    val rows = sample.map { r =>
      val bytes = {
        val rec = new GenericData.Record(schema)
        rec.put("id", r.getLong(0)); rec.put("status", r.getString(1))
        rec.put("price", r.getDouble(2))
        val out = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
        new org.apache.avro.generic.GenericDatumWriter[GenericData.Record](schema)
          .write(rec, enc)
        enc.flush()
        out.toByteArray
      }
      org.apache.spark.sql.Row(r.getLong(0), bytes)
    }
    val df = s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType), StructField("body", BinaryType))))
    graft.avro.AvroDecode.withDecoded(df, "body", schemaJson, "rec")
      .select(col("id"), col("rec.status").as("status"),
        round(col("rec.price"), 2).as("price"))
      .orderBy("id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c08_confluent_frame" -> (c08 _),
    "c11_avro_roundtrip" -> (c11 _),
    "c01_debezium_cast" -> (c01 _),
    "c02_envelope_project" -> (c02 _),
    "c03_cdc_dedup_split" -> (c03 _),
    "c04_catalog_conform" -> (c04 _),
    "c05_composite_pk_hash" -> (c05 _)
  )

  def oracleSql: Map[String, String] = Map(
    "c11_avro_roundtrip" ->
      """SELECT o_orderkey AS id, o_orderstatus AS status,
         round(o_totalprice, 2) AS price
         FROM orders WHERE o_orderkey % 37 = 0 ORDER BY id""",
    "c08_confluent_frame" ->
      """SELECT o_orderkey AS id,
         o_orderkey % 100000 AS schema_id,
         o_orderstatus AS payload_s,
         octet_length(encode(o_orderstatus)) AS payload_len
         FROM orders ORDER BY id""",
    "c01_debezium_cast" ->
      """SELECT o_orderkey AS id,
         strftime(DATE '1970-01-01' + CAST(o_orderkey % 20000 AS INT), '%Y-%m-%d') AS d_s,
         strftime(make_timestamp((o_orderkey % 86400) * 1000000), '%Y-%m-%d %H:%M:%S') AS mt_s,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE strftime(make_timestamp((1584598489000 + o_orderkey * 1000) * 1000)
                            - INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') END AS ts_s,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE strftime(make_timestamp(1651942920000000 + o_orderkey * 1000000)
                            - INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') END AS us_s
         FROM orders ORDER BY id""",
    "c02_envelope_project" ->
      """SELECT event_id AS id, user_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN 'd'
              WHEN event_id % 2 = 0 THEN 'u' ELSE 'c' END AS __op,
         event_id AS __offset,
         strftime(make_timestamp((event_id * 1000 + 1584598489000) * 1000),
                  '%Y-%m-%d %H:%M:%S.%g') AS lad_s
         FROM events ORDER BY id""",
    "c03_cdc_dedup_split" ->
      """SELECT user_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN 'd'
              WHEN event_id % 2 = 0 THEN 'u' ELSE 'c' END AS __op
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY event_id DESC) AS rn
               FROM events) WHERE rn = 1
           AND NOT (event_id % 5 = 0)
         ORDER BY user_id""",
    "c04_catalog_conform" ->
      """SELECT CAST(o_orderkey AS INT) AS id,
         strftime(DATE '1970-01-01' + CAST(o_orderkey % 20000 AS INT), '%Y-%m-%d') AS d_s,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL
              ELSE strftime(make_timestamp((1584598489000 + o_orderkey * 1000) * 1000)
                            - INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') END AS ts_s,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE CAST(make_timestamp(1651942920000000 + o_orderkey * 1000000)
                        - INTERVAL 9 HOUR AS VARCHAR) END AS us_s
         FROM orders ORDER BY id""",
    "c05_composite_pk_hash" ->
      """SELECT o_orderkey AS id,
         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
             CAST(DATE '1970-01-01' + CAST(o_orderkey % 20000 AS INT) AS VARCHAR)))
           AS id_iceberg
         FROM orders ORDER BY id"""
  )
}
