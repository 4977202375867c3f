package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.DataSource

/** The store's parquet write, returning the write's OWN committed-file
  * count. Builds and runs the command exactly as `DataFrameWriter`'s
  * v1 save does (`DataSource.planForWriting` under a fresh
  * `QueryExecution`), then reads the `numFiles` SQLMetric off the
  * executed `DataWritingCommandExec`. Spark's `BasicWriteJobStatsTracker`
  * sums that metric from task attempts whose commit the coordinator
  * accepted, and sets it on the driver before the command returns, so
  * the count is there without waiting on the listener bus, and it
  * belongs to this write alone however many other threads write at
  * the same time. (The plan node is not reachable through
  * `DataFrameWriter`; this file sits in `org.apache.spark.sql` for the
  * `private[sql]` members it names, like `ListenerBusDrain` does.) */
object StoreWrite extends AdaptiveSparkPlanHelper {

  /** Writes whose count could not be read (no write node in the
    * executed plan: Spark's plan shape drifted). Expected 0; `graft.Bench`
    * reports the delta over a run. */
  val unreadCounts = new AtomicLong()

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
}
