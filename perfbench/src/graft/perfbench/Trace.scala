package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** In-memory span recorder. Spans are taken only around the calls the
  * benchmark makes into each layer; nesting follows the calling thread.
  * Disabled (a single volatile read per call) in untraced runs. */
object Trace {
  final case class Span(
      id: Long, parent: Long, layer: String, name: String, op: String,
      thread: String, startNs: Long, endNs: Long) {
    def dur: Double = (endNs - startNs) / 1e9
  }

  @volatile var on = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[String] { override def initialValue() = "" }
  /** Nanoseconds spent inside the recorder itself. */
  val selfNanos = new LongAdder

  def withOp[A](op: String)(f: => A): A = {
    val prev = opOf.get(); opOf.set(op)
    try f finally opOf.set(prev)
  }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val c0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      selfNanos.add(t0 - c0)
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name, opOf.get(),
          Thread.currentThread().getName, t0, t1))
        selfNanos.add(System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus what its direct
    * children cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => s.dur - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def totalOf(name: String, op: String => Boolean): Double =
    all.filter(s => s.name == name && op(s.op)).map(_.dur).sum

  def toJsonLines: Iterator[String] = all.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      s""""op":"${s.op}","thread":"${s.thread}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Spark engine counters keyed by the job group the benchmark sets per
  * batch, lookup or query: job/stage/task counts, executor work, and the
  * wall time during which at least one of the group's jobs was active. */
final class SparkProbe extends SparkListener {
  final class Acc {
    val jobs, stages, tasks = new LongAdder
    val cpuNs, runMs, gcMs, shRead, shWrite, fetchWaitMs, spill = new LongAdder
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val jobInfo = new ConcurrentHashMap[Integer, (String, Long)]()
  val selfNanos = new LongAdder

  def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNanos.add(System.nanoTime() - t0)
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = timed {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("_none")
    j.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    jobInfo.put(j.jobId, (g, j.time))
    acc(g).jobs.increment()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = timed {
    Option(jobInfo.remove(j.jobId)).foreach { case (g, t0) =>
      acc(g).intervals.add((t0, j.time))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = timed {
    acc(stageGroup.getOrDefault(s.stageInfo.stageId, "_none")).stages.increment()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
    val m = t.taskMetrics
    val a = acc(stageGroup.getOrDefault(t.stageId, "_none"))
    a.tasks.increment()
    if (m != null) {
      a.cpuNs.add(m.executorCpuTime)
      a.runMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      a.shRead.add(m.shuffleReadMetrics.totalBytesRead)
      a.shWrite.add(m.shuffleWriteMetrics.bytesWritten)
      a.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Length of the union of the group's job intervals, seconds. */
  def activeSec(a: Acc): Double = {
    val iv = a.intervals.asScala.toSeq.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** Driver-side planning and codegen counters for one DataFrame. */
object PlanProbe {
  /** (analysis, optimization, planning) seconds from the DataFrame's
    * QueryPlanningTracker; zeros for a phase that did not run. */
  def phases(df: DataFrame): (Double, Double, Double) = {
    val ph = df.queryExecution.tracker.phases
    def sec(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    (sec("analysis"), sec("optimization"), sec("planning"))
  }

  /** Total codegen compile time recorded so far, seconds. The histogram
    * keeps every sample while it holds fewer than its reservoir size
    * (1028); past that the total is an estimate (count × mean). */
  def codegenTotalSec: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= snap.size) snap.getValues.map(_.toDouble).sum
      else h.getCount * snap.getMean
    ms / 1e3
  }
}
