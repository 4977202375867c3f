package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Executor totals over a set of finished tasks: one stage's, or summed
  * over its stages, one job group's. */
final case class TaskTotals(
    tasks: Long = 0L, cpuNs: Long = 0L, runMs: Long = 0L, gcMs: Long = 0L,
    spillBytes: Long = 0L, shuffleReadBytes: Long = 0L,
    shuffleReadRecords: Long = 0L, shuffleWriteBytes: Long = 0L,
    shuffleWriteRecords: Long = 0L, inputRecords: Long = 0L,
    taskRunMs: Vector[Long] = Vector.empty) {
  def maxTaskMs: Long = taskRunMs.maxOption.getOrElse(0L)
  def medianTaskMs: Long =
    if (taskRunMs.isEmpty) 0L else taskRunMs.sorted.apply(taskRunMs.size / 2)
  def +(o: TaskTotals): TaskTotals = TaskTotals(
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    spillBytes + o.spillBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleReadRecords + o.shuffleReadRecords,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleWriteRecords + o.shuffleWriteRecords,
    inputRecords + o.inputRecords, taskRunMs ++ o.taskRunMs)
}

object TaskTotals {
  def of(m: TaskMetrics): TaskTotals = TaskTotals(
    1L, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
    m.memoryBytesSpilled + m.diskBytesSpilled,
    m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
    m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
    m.inputMetrics.recordsRead, Vector(m.executorRunTime))
}

/** The one task-metrics listener (Bench's per-query detail, Probe's stage
  * table and skew rows). Each finished task is booked to its stage and
  * to the job group that stage's job started under ([[Ungrouped]] when
  * none), so attribution survives the listener bus's asynchrony — a
  * late-arriving task end still lands on the right query. This is what
  * makes a bench run self-describing against machine load: a query whose
  * wall-clock is large but whose task run-time and GC share are small
  * was waiting on the MACHINE, not the engine (the r05 driver run's
  * 223 s vs 164 s controlled re-run was exactly this, and was diagnosable
  * only by re-running). */
final class TaskMetricsListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val stageName = new ConcurrentHashMap[Integer, String]()
  private val books = new ConcurrentHashMap[(String, Int), TaskTotals]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(TaskMetricsListener.Ungrouped)
    j.stageInfos.foreach { si =>
      stageGroup.put(si.stageId, g)
      stageName.put(si.stageId, si.name)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(t.taskMetrics).foreach { m =>
      val g = stageGroup.getOrDefault(t.stageId, TaskMetricsListener.Ungrouped)
      books.merge((g, t.stageId), TaskTotals.of(m), _ + _)
    }

  /** (stage id, stage name, totals) of one group's stages, by stage id. */
  def stages(group: String): Seq[(Int, String, TaskTotals)] =
    books.asScala.toSeq
      .collect { case ((`group`, id), b) => (id, stageName.getOrDefault(id, ""), b) }
      .sortBy(_._1)

  def total(group: String): TaskTotals =
    stages(group).foldLeft(TaskTotals())(_ + _._3)
}

object TaskMetricsListener {
  val Ungrouped = "_warmup"
}
