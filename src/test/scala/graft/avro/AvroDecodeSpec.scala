package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.StoreWrite
import org.apache.spark.sql.types._

import graft.SparkSpec

object AvroTestData {
  def encode(schema: Schema, build: GenericRecord => Unit): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    build(rec)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire format: [magic 0][schema id 4B BE][avro body]. */
  def confluentFrame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    Array[Byte](0) ++
      java.nio.ByteBuffer.allocate(4).putInt(schemaId).array() ++ body
}

class AvroDecodeSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"R","fields":[
      {"name":"i","type":"int"},
      {"name":"s","type":["null","string"],"default":null},
      {"name":"d","type":["null","double"],"default":null},
      {"name":"b","type":["null","bytes"],"default":null},
      {"name":"dec","type":["null",{"type":"bytes","logicalType":"decimal",
        "precision":12,"scale":2}],"default":null},
      {"name":"nested","type":["null",{"type":"record","name":"N","fields":[
        {"name":"x","type":"long"}]}],"default":null}
    ]}"""
  private lazy val schema = new Schema.Parser().parse(schemaJson)

  test("schema conversion matches spark-avro semantics") {
    AvroDecode.toSqlType(schema) shouldBe StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("b", BinaryType, nullable = true),
      StructField("dec", DecimalType(12, 2), nullable = true),
      StructField("nested", StructType(Seq(
        StructField("x", LongType, nullable = false))), nullable = true)))
  }

  test("round-trip decode of records with unions, decimals and nesting") {
    import AvroTestData._
    val nestedSchema = schema.getField("nested").schema().getTypes.get(1)
    val bytes1 = encode(schema, r => {
      r.put("i", 7)
      r.put("s", "hello")
      r.put("d", 2.5)
      r.put("b", java.nio.ByteBuffer.wrap(Array[Byte](1, 2, 3)))
      r.put("dec", java.nio.ByteBuffer.wrap(
        BigDecimal("1234.56").underlying().unscaledValue().toByteArray))
      val n = new GenericData.Record(nestedSchema)
      n.put("x", 99L)
      r.put("nested", n)
    })
    val bytes2 = encode(schema, r => r.put("i", 8)) // all-null unions

    import spark.implicits._
    val df = Seq((1, bytes1), (2, bytes2)).toDF("id", "payload")
    heldAndDistributed(df).foreach { case (how, in) =>
      withClue(how) {
        val decoded = AvroDecode.withDecoded(in, "payload", schemaJson, "rec")
        StoreWrite.local(decoded).isDefined shouldBe (how == "held")
        val out = decoded.orderBy("id").collect()

        val r1 = out(0).getStruct(2)
        r1.getInt(0) shouldBe 7
        r1.getString(1) shouldBe "hello"
        r1.getDouble(2) shouldBe 2.5
        r1.getAs[Array[Byte]](3).toSeq shouldBe Seq[Byte](1, 2, 3)
        r1.getDecimal(4) shouldBe new java.math.BigDecimal("1234.56")
        r1.getStruct(5).getLong(0) shouldBe 99L

        val r2 = out(1).getStruct(2)
        r2.getInt(0) shouldBe 8
        assert(r2.isNullAt(1) && r2.isNullAt(2) && r2.isNullAt(5))
      }
    }
  }

  test("null payload decodes to null struct; FAILFAST on malformed bytes") {
    import spark.implicits._
    val df = Seq((1, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val bad = Seq((1, Array[Byte](-1, -1, -1, -1, -1, -1, -1, -1))).toDF("id", "payload")
    heldAndDistributed(df).zip(heldAndDistributed(bad)).foreach { case ((how, in), (_, badIn)) =>
      withClue(how) {
        val out = AvroDecode.withDecoded(in, "payload", schemaJson, "rec").collect()
        assert(out(0).isNullAt(2))

        val e = intercept[Exception] {
          AvroDecode.withDecoded(badIn, "payload", schemaJson, "rec").collect()
        }
        // the same FAILFAST error, thrown on the driver or by a task
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
          .toSeq should contain("Malformed Avro record in column 'payload' (mode=FAILFAST)")
      }
    }
  }

  test("golden Debezium envelope schema converts cleanly") {
    val envelope = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/root/reference/resources/debezium_cdc_value_schema.json"))
    val sql = AvroDecode.toSqlType(new Schema.Parser().parse(envelope))
      .asInstanceOf[StructType]
    sql.fieldNames.toSeq should contain allOf ("before", "after", "op", "ts_ms", "source")
    val value = sql("after").dataType.asInstanceOf[StructType]
    value("decimal1").dataType shouldBe DecimalType(12, 8)
    value("DATE1").dataType shouldBe IntegerType // semantic cast happens later
    value("UPDATE_TIMESTAMP").dataType shouldBe StringType
  }
}
