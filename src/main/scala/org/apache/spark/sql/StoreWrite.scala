package org.apache.spark.sql

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Cast, Expression, MutableProjection, Predicate, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, Filter, LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{DataSource, OutputWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** The store's parquet write, returning the write's OWN committed-file
  * count, in one of two forms.
  *
  * A distributed frame goes through a Spark write: the command is built
  * and run exactly as `DataFrameWriter`'s v1 save does
  * (`DataSource.planForWriting` under a fresh `QueryExecution`), and the
  * count is the `numFiles` SQLMetric of the executed
  * `DataWritingCommandExec`. Spark's `BasicWriteJobStatsTracker` sums
  * that metric from task attempts whose commit the coordinator accepted,
  * and sets it on the driver before the command returns, so the count is
  * there without waiting on the listener bus, and it belongs to this
  * write alone however many other threads write at the same time.
  *
  * Rows the driver already holds ([[Local]], from [[local]]) are written
  * on the driver with no job: the objects a write task uses
  * (`ParquetFileFormat.prepareWrite`, then `OutputWriterFactory` and
  * `OutputWriter`), so the session's codec, timestamp type and rebase
  * settings apply unchanged, one file per leaf, Hive `k=v` leaves for a
  * partitioned layout. A Spark write of a batch-sized frame pays
  * analysis, planning, a job and a task launch for a few thousand rows;
  * the driver write skips all four. Both land in a fresh directory that
  * no reader sees until the table's log commit names it, so who writes
  * the bytes does not change what a commit makes visible. The store
  * hands a frame to the driver write only when no `write.sort-order`
  * applies: a sort order, ZORDER included, keeps the Spark write, whose
  * range split and ranking are jobs of their own.
  *
  * (The plan node and the write-task objects are not reachable through
  * `DataFrameWriter`; this file sits in `org.apache.spark.sql` for the
  * `private[sql]` members it names, like `ListenerBusDrain` does.) */
object StoreWrite extends AdaptiveSparkPlanHelper {

  /** Writes whose count could not be read (no write node in the
    * executed plan: Spark's plan shape drifted). Expected 0; `graft.Bench`
    * reports the delta over a run. */
  val unreadCounts = new AtomicLong()

  /** Driver-side writes, for counting them over a run. */
  val localWrites = new AtomicLong()

  /** A frame's rows, held by the driver, with the frame's columns. */
  final case class Local(session: classic.SparkSession, output: Seq[Attribute], rows: Seq[InternalRow]) {

    /** A frame over these rows, which [[local]] finds again. */
    def toDF: DataFrame = frame(session, DataTypeUtils.fromAttributes(output), rows)

    /** The index of top-level column `name`, resolved as the session
      * resolves names; None when there is no such column. */
    def indexOf(name: String): Option[Int] = {
      val resolver = session.sessionState.conf.resolver
      Some(output.indexWhere(a => resolver(a.name, name))).filter(_ >= 0)
    }

    /** A row's key over the columns at `idx`, under the normalization
      * Spark groups keys with and the delete-key mask compares them
      * with (`DeleteKeyMask.tuple`: null equals null, NaN equals NaN,
      * -0.0 equals 0.0), for key types `DeleteKeyMask.supported` admits. */
    def keyOf(idx: Seq[Int]): InternalRow => Any = {
      val at = idx.toArray
      val types = at.map(output(_).dataType)
      r => DeleteKeyMask.tuple(at.length)(i => r.get(at(i), types(i)))
    }

    /** The distinct rows under [[keyOf]]'s normalization, each written
      * normalized, as a Spark `distinct` writes its grouping keys. */
    def distinctKeys: Local = {
      val n = output.size
      val key = keyOf(output.indices)
      val kept = new java.util.LinkedHashSet[Any]()
      rows.foreach(r => kept.add(key(r)))
      copy(rows = kept.asScala.toSeq.map(t =>
        if (n == 1) InternalRow(t)
        else InternalRow.fromSeq(t.asInstanceOf[java.util.List[Any]].asScala.toSeq)))
    }
  }

  /** A frame over `rows` (a `LocalRelation` with `schema`'s columns),
    * which [[local]] finds again. */
  def frame(session: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** `df`'s rows when the driver already holds them: its optimized plan
    * is a `LocalRelation` (local rows under projections and filters the
    * optimizer folds into them). None for any other frame, and a plan
    * with a leaf that is not local is not optimized here. Check the
    * frame before adding a repartition hint or an aggregate: either
    * keeps the plan from folding.
    *
    * A plan over one set of local rows is optimized with the rows set
    * aside ([[HeldRows]] stands in for them), and the projections and
    * filters the optimizer leaves above them run over the rows as
    * generated code. The optimizer's own fold (`ConvertToLocalRelation`)
    * runs them as interpreted expressions, and every rule that maps a
    * plan's expressions also walks each row it holds: on a CDC batch of
    * a few thousand rows those two were most of the driver's time. Any
    * other node left above the rows goes through the optimizer's fold. */
  def local(df: DataFrame): Option[Local] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    if (ds.isStreaming ||
        !ds.logicalPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else ds.queryExecution.withCachedData match {
      case l: LocalRelation => Some(Local(ds.sparkSession, l.output, l.data))
      case plan => plan.collectLeaves() match {
        case Seq(l: LocalRelation) =>
          val held = HeldRows(l.output, l.data.size)
          val optimized = ds.sparkSession.sessionState.optimizer.execute(
            plan.transformUp { case r: LocalRelation if r eq l => held })
          fold(optimized, held, l.data)
            .map(rows => Local(ds.sparkSession, optimized.output, rows))
            .orElse(optimizedLocal(ds))
        case _ => optimizedLocal(ds)
      }
    }
  }

  private def optimizedLocal(ds: classic.Dataset[_]): Option[Local] =
    ds.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(Local(ds.sparkSession, l.output, l.data))
      case _ => None
    }

  /** Stands in for `rows` local rows while the plan above them is
    * optimized, with a `LocalRelation`'s row bound and size. */
  private case class HeldRows(output: Seq[Attribute], rows: Int) extends LeafNode {
    override def maxRows: Option[Long] = Some(rows)
    override def computeStats(): Statistics =
      Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * rows)
  }

  /** The rows of `plan`, with `data` in place of `held`, when `plan` is
    * projections and filters over `held` (or rows the optimizer made),
    * with no expression the optimizer's fold would leave unevaluated
    * either; None otherwise. A projection's rows are copied out of a
    * mutable row, as the fold copies them. */
  private def fold(plan: LogicalPlan, held: HeldRows, data: Seq[InternalRow]): Option[Seq[InternalRow]] = {
    def evaluable(e: Expression) =
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])
    plan match {
      case h: HeldRows if h eq held => Some(data)
      case l: LocalRelation => Some(l.data)
      case Project(list, child) if list.forall(evaluable) =>
        fold(child, held, data).map { rows =>
          val project = MutableProjection.create(list, child.output)
          project.initialize(0)
          rows.map(r => project(r).copy())
        }
      case Filter(cond, child) if evaluable(cond) =>
        fold(child, held, data).map { rows =>
          val keep = Predicate.create(cond, child.output)
          keep.initialize(0)
          rows.filter(keep.eval)
        }
      case _ => None
    }
  }

  /** Collects `df` to the driver (one job) as a frame over a
    * `LocalRelation` of its rows, which [[local]] then finds. The rows
    * stay in Spark's internal form: no value passes through a Java type
    * on the way. */
  def collectLocal(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    frame(ds.sparkSession, ds.schema, rows.toIndexedSeq)
  }

  /** Write `df` as parquet at `path` (error if it exists), Hive-partitioned
    * by `partitionCols`, with the v2 file output committer. Returns the
    * committed-file count, or None when no write node was found (callers
    * then go unvalidated, never abort). */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String]): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val cmd = DataSource(session, "parquet", partitionColumns = partitionCols,
      options = Map("path" -> path,
        "mapreduce.fileoutputcommitter.algorithm.version" -> "2"))
      .planForWriting(SaveMode.ErrorIfExists, ds.logicalPlan)
    val qe = new QueryExecution(session, cmd, ds.queryExecution.tracker,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.assertCommandExecuted()
    val count = qe.commandExecuted.collectFirst { case r: CommandResult => r.commandPhysicalPlan }
      .flatMap(plan => collectFirst(plan) { case w: DataWritingCommandExec => w.metrics.get("numFiles") })
      .flatten
      .map(_.value)
    if (count.isEmpty) unreadCounts.incrementAndGet()
    count
  }

  /** Write `local`'s rows as parquet at `path` on the driver, one file
    * per leaf: Hive-partitioned by `partitionCols`, the leaf names
    * rendered as a Spark write renders them (values cast to string in the
    * session time zone, escaped, nulls in the default partition). Like a
    * Spark write, an unpartitioned write of no rows leaves one file
    * carrying the schema. Returns the count of files written. */
  def parquet(local: Local, path: String, partitionCols: Seq[String]): Option[Long] =
    local.session.withActive {
      val session = local.session
      val (partAttrs, dataAttrs) = local.output.partition(a => partitionCols.contains(a.name))
      require(partAttrs.size == partitionCols.size,
        s"partition columns ${partitionCols.mkString(",")} not all in the written frame")
      val options = Map("path" -> path)
      val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
      val dataSchema = DataTypeUtils.fromAttributes(dataAttrs)
      // sets the write support, schema, codec and datetime settings on
      // the job's conf, which the writers read through the task context
      val factory = new ParquetFileFormat().prepareWrite(session, job, options, dataSchema)
      val conf = job.getConfiguration
      val context = new TaskAttemptContextImpl(conf, new TaskAttemptID(
        new TaskID(new JobID(UUID.randomUUID().toString.take(8), 0), TaskType.MAP, 0), 0))
      val fileName = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}"

      val leafOf: InternalRow => String =
        if (partAttrs.isEmpty) _ => ""
        else {
          val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
          val renders = partAttrs.map { a =>
            val cast = Cast(BoundReference(local.output.indexOf(a), a.dataType, a.nullable), StringType, tz)
            (r: InternalRow) =>
              ExternalCatalogUtils.getPartitionPathString(a.name, Option(cast.eval(r)).map(_.toString).orNull)
          }
          r => renders.map(_(r)).mkString("/")
        }
      val dataIdx = dataAttrs.map(local.output.indexOf(_)).toArray
      val dataTypes = dataAttrs.map(_.dataType).toArray
      val project: InternalRow => InternalRow =
        if (partAttrs.isEmpty) identity
        else r => InternalRow.fromSeq(dataIdx.indices.map(i => r.get(dataIdx(i), dataTypes(i))))

      val writers = new java.util.LinkedHashMap[String, OutputWriter]()
      def writerFor(leaf: String): OutputWriter = writers.computeIfAbsent(leaf, l =>
        factory.newInstance(
          if (l.isEmpty) s"$path/$fileName" else s"$path/$l/$fileName", dataSchema, context))
      try {
        if (partAttrs.isEmpty) writerFor("")
        local.rows.foreach(r => writerFor(leafOf(r)).write(project(r)))
      } catch {
        case t: Throwable =>
          writers.values.forEach(w => try w.close() catch { case c: Throwable => t.addSuppressed(c) })
          throw t
      }
      writers.values.forEach(_.close())
      // no leaf, no file: the dir still exists, as after a Spark write
      if (writers.isEmpty) new Path(path).getFileSystem(conf).mkdirs(new Path(path))
      localWrites.incrementAndGet()
      Some(writers.size.toLong)
    }
}
