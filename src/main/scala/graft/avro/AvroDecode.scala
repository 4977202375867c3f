package graft.avro

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders, Row, StoreWrite}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._

/** Avro binary → Spark rows, hand-rolled on the core avro jar.
  *
  * Stand-in for `org.apache.spark.sql.avro.functions.from_avro` with
  * `mode=FAILFAST` (`/root/reference/src/utils/cdc_pipeline.py:169-170`;
  * the spark-avro module does not ship in /opt/spark/jars). Supports the
  * full Debezium envelope surface: records, `["null", T]` unions,
  * primitives, enums, fixed, arrays, maps, and Connect decimals
  * (bytes + logicalType decimal → DecimalType).
  *
  * Decoding is row-wise JVM work (binary Avro decode cannot be expressed
  * as a codegen'd column expression): one decoder parses the schema and
  * allocates the `GenericDatumReader`/decoder once, then reuses them row
  * by row — the same execution shape as spark-avro's own deserializer.
  * A distributed frame runs it per partition in `mapPartitions`
  * (map-side only, no shuffle); rows the driver already holds, such as
  * a CDC batch of a few thousand events, run the same decoder on the
  * driver, with no Spark job.
  */
object AvroDecode {

  /** Avro schema → Spark DataType (subset mirroring spark-avro's
    * SchemaConverters for the types Debezium emits). */
  def toSqlType(schema: Schema): DataType = schema.getType match {
    case Schema.Type.RECORD =>
      StructType(schema.getFields.asScala.map { f =>
        StructField(f.name(), toSqlType(nonNull(f.schema())), nullable = isNullable(f.schema()))
      }.toSeq)
    case Schema.Type.UNION => toSqlType(nonNull(schema))
    case Schema.Type.STRING | Schema.Type.ENUM => StringType
    case Schema.Type.INT => IntegerType
    case Schema.Type.LONG => LongType
    case Schema.Type.FLOAT => FloatType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES | Schema.Type.FIXED =>
      schema.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
    case Schema.Type.ARRAY => ArrayType(toSqlType(nonNull(schema.getElementType)))
    case Schema.Type.MAP => MapType(StringType, toSqlType(nonNull(schema.getValueType)))
    case Schema.Type.NULL => NullType
    case t => throw new IllegalArgumentException(s"unsupported avro type: $t")
  }

  private def isNullable(s: Schema): Boolean =
    s.getType == Schema.Type.UNION &&
      s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)

  /** First non-null branch of a union; multi-branch unions beyond
    * `["null", T]` are rejected (Debezium never emits them). */
  private def nonNull(s: Schema): Schema =
    if (s.getType != Schema.Type.UNION) s
    else {
      val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1, s"unsupported multi-branch union: $s")
      branches.head
    }

  /** Avro runtime value → Spark external row value. */
  private def toRowValue(value: Any, schema: Schema): Any = value match {
    case null => null
    case _ =>
      schema.getType match {
        case Schema.Type.UNION =>
          toRowValue(value, nonNull(schema))
        case Schema.Type.RECORD =>
          val rec = value.asInstanceOf[GenericRecord]
          Row.fromSeq(schema.getFields.asScala.map(f =>
            toRowValue(rec.get(f.pos()), f.schema())).toSeq)
        case Schema.Type.STRING | Schema.Type.ENUM => value.toString
        case Schema.Type.BYTES =>
          val buf = value.asInstanceOf[ByteBuffer].duplicate()
          val bytes = new Array[Byte](buf.remaining()); buf.get(bytes)
          schema.getLogicalType match {
            case d: LogicalTypes.Decimal =>
              BigDecimal(BigInt(bytes), d.getScale)
            case _ => bytes
          }
        case Schema.Type.FIXED =>
          val bytes = value.asInstanceOf[GenericData.Fixed].bytes().clone()
          schema.getLogicalType match {
            case d: LogicalTypes.Decimal => BigDecimal(BigInt(bytes), d.getScale)
            case _ => bytes
          }
        case Schema.Type.ARRAY =>
          value.asInstanceOf[java.util.Collection[Any]].asScala
            .map(toRowValue(_, schema.getElementType)).toSeq
        case Schema.Type.MAP =>
          value.asInstanceOf[java.util.Map[Any, Any]].asScala
            .map { case (k, v) => k.toString -> toRowValue(v, schema.getValueType) }.toMap
        case _ => value // int/long/float/double/boolean
      }
  }

  /** One column's decoder: the schema is parsed and the reader and
    * decoder allocated once, then reused value by value. Not
    * thread-safe: one per partition, or per pass on the driver. */
  private final class Decoder(schemaJson: String, binaryCol: String) {
    private val schema = new Schema.Parser().parse(schemaJson)
    private val reader = new GenericDatumReader[GenericRecord](schema)
    private var decoder: BinaryDecoder = null

    /** The payload as an external row value; null for a null payload,
      * FAILFAST on a malformed one. */
    def apply(bytes: Array[Byte]): Any =
      if (bytes == null) null
      else
        try {
          decoder = DecoderFactory.get().binaryDecoder(bytes, decoder)
          toRowValue(reader.read(null, decoder), schema)
        } catch {
          case e: Exception =>
            throw new RuntimeException(
              s"Malformed Avro record in column '$binaryCol' (mode=FAILFAST)", e)
        }
  }

  /** Decode `binaryCol` (raw Avro body, header already stripped) with
    * `schemaJson` into a new struct column `as`, FAILFAST on malformed
    * input. Other columns pass through. Rows the driver already holds
    * (`StoreWrite.local`) are decoded there, with no job, into a frame
    * over a `LocalRelation`; a malformed one then fails this call. */
  def withDecoded(df: DataFrame, binaryCol: String, schemaJson: String, as: String): DataFrame = {
    val inSchema = df.schema
    val idx = inSchema.fieldIndex(binaryCol)
    val sqlType = toSqlType(new Schema.Parser().parse(schemaJson))
    val outSchema = StructType(inSchema.fields :+ StructField(as, sqlType, nullable = true))
    StoreWrite.local(df) match {
      case Some(held) =>
        val decode = new Decoder(schemaJson, binaryCol)
        val toInternal = CatalystTypeConverters.createToCatalystConverter(sqlType)
        val types = held.output.map(_.dataType)
        StoreWrite.frame(held.session, outSchema, held.rows.map(row =>
          InternalRow.fromSeq(row.toSeq(types) :+ toInternal(decode(row.getBinary(idx))))))
      case None =>
        df.mapPartitions { rows =>
          val decode = new Decoder(schemaJson, binaryCol)
          rows.map(row => Row.fromSeq(row.toSeq :+ decode(row.getAs[Array[Byte]](idx))))
        }(Encoders.row(outSchema))
    }
  }
}
