package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.types._

/** The distinct key tuples of one equality-delete file, held by the
  * driver and broadcast once: a task reads the executor's copy, so
  * neither the tuples nor their set travel in each task's closure.
  * Two holders are equal when their ids are (the store keys them by
  * file path and key types; delete files are write-once), so comparing
  * or hashing a plan never walks the tuples, and the plan string shows
  * a count, not the keys. */
final class DeleteKeys(val id: String, @transient private val local: java.util.HashSet[Any],
    shared: Broadcast[java.util.HashSet[Any]]) extends Serializable {
  val size: Int = local.size
  /** The loaded set on the driver; the broadcast copy in a task. */
  def tuples: java.util.HashSet[Any] = if (local != null) local else shared.value
  override def equals(o: Any): Boolean = o match {
    case k: DeleteKeys => k.id == id
    case _ => false
  }
  override def hashCode: Int = id.hashCode
  override def toString: String = s"DeleteKeys($size tuples)"
}

/** Keeps a row unless its key tuple is in one of `held` — the in-task
  * key set Iceberg's `DeleteFilter` applies, in place of an anti-join
  * against the delete files. Matches `<=>` on every key column: a null
  * component equals null, NaN equals NaN and -0.0 equals 0.0 (what the
  * join's float normalization does). Callers pass only key types
  * [[DeleteKeyMask.supported]] admits, read under the same types on
  * both sides. Interpreted per row (CodegenFallback), which keeps the
  * masked scan out of whole-stage codegen: a point lookup then compiles
  * no per-literal stage, and measured no slower than the same scan
  * unmasked. (In this package for `classic.ExpressionUtils`, the
  * session's conf and its Hadoop conf.) */
case class DeleteKeyMask(children: Seq[Expression], held: Seq[DeleteKeys])
    extends Predicate with CodegenFallback {

  // fetched once per deserialized instance (a task's), not per row
  @transient private lazy val sets = held.map(_.tuples)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val key = DeleteKeyMask.tuple(children.size)(i => children(i).eval(input))
    !sets.exists(_.contains(key))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object DeleteKeyMask {

  /** Key types whose `<=>` is equality of the normalized internal
    * value: binary (array identity) and non-binary collations are not. */
  def supported(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
         _: DecimalType => true
    case st: StringType => st.isUTF8BinaryCollation
    case _ => false
  }

  private val readers = new graft.core.BoundedCache[
    (String, StructType), PartitionedFile => Iterator[InternalRow]](16, _ => 1L)

  private def normalize(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0d) 0.0d else d
    case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
    case other => other
  }

  /** One key tuple as a set element: the value itself for a one-column
    * key, else a java.util.List of the components. Both compare with
    * Java `equals` (NaN equals NaN); a Scala List would compare boxed
    * doubles as primitives, where NaN never equals NaN. */
  private[spark] def tuple(n: Int)(value: Int => Any): Any =
    if (n == 1) normalize(value(0))
    else java.util.Arrays.asList(
      Array.tabulate[AnyRef](n)(i => normalize(value(i)).asInstanceOf[AnyRef]): _*)

  /** Component `i` of every tuple of an `n`-column key. */
  def component(k: DeleteKeys, n: Int, i: Int): Iterator[Any] =
    k.tuples.asScala.iterator.map(t =>
      if (n == 1) t else t.asInstanceOf[java.util.List[AnyRef]].get(i))

  def column(keys: Seq[Column], held: Seq[DeleteKeys]): Column =
    classic.ExpressionUtils.column(
      DeleteKeyMask(keys.map(classic.ExpressionUtils.expression), held))

  /** Reads the key tuples of delete files (id → parquet parts) on the
    * driver, with no Spark job: Spark's own parquet reader, built once
    * per session and schema and called directly, under `schema` (the
    * table's current key types, so a promoted column widens exactly as
    * it does in the data scan), each file's set broadcast once. None for a file past
    * `cap` distinct tuples; a read failure
    * throws, and so does a session whose parquet reader would not be
    * the vectorized one: only that reader's iterator can be closed
    * early (the row reader closes only at its end, or at the end of a
    * task the driver has none of). */
  def load(session: SparkSession, files: Seq[(String, Seq[FileStatus])],
      schema: StructType, cap: Int): Seq[Option[DeleteKeys]] =
    if (files.isEmpty) Nil
    else {
      val s = session.asInstanceOf[classic.SparkSession]
      if (!ParquetUtils.isBatchReadSupportedForSchema(s.sessionState.conf, schema))
        throw new UnsupportedOperationException(
          s"delete keys ${schema.catalogString} need the vectorized parquet reader")
      // a build broadcasts the session's whole Hadoop conf (tens of ms,
      // several reads' worth): build once per session and key schema
      val read = readers.getOrElseUpdate((s.sessionUUID, schema)) {
        new ParquetFileFormat().buildReaderWithPartitionValues(
          s, schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), s.sessionState.newHadoopConf())
      }
      val types = schema.map(_.dataType)
      files.map { case (id, parts) =>
        val tuples = new java.util.HashSet[Any]()
        parts.foreach { f =>
          if (tuples.size <= cap) {
            val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
              0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
            try {
              while (tuples.size <= cap && rows.hasNext) {
                // the reader reuses its row and string buffers: copy first
                val row = rows.next().copy()
                tuples.add(tuple(types.size)(i => row.get(i, types(i))))
              }
            } finally rows match {
              case c: java.io.Closeable => c.close()
              case _ => () // unreachable: the vectorized reader is Closeable
            }
          }
        }
        if (tuples.size > cap) None
        else Some(new DeleteKeys(id, tuples, s.sparkContext.broadcast(tuples)))
      }
    }
}
