package graft.store

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Opt-in phase accumulator for the table-store commit path.
  *
  * Disabled by default (one volatile read per call site — nothing on
  * the hot path allocates or locks unless a probe enables it);
  * `graft.Probe <sf> commit` and `stages` flip it on to attribute wall-clock to
  * the commit machinery's phases: the data-file Spark job, the
  * driver-side footer-stats harvest, bloom sidecar builds, segment
  * layout/fold, and snapshot serialization+claim. Phases NEST
  * (`commit.build-entries` contains the `data.*` phases it triggers),
  * so the report reads as a tree, not a partition of wall time.
  */
private[graft] object StoreTiming {
  @volatile private var on = false

  private final class Cell { val n = new AtomicLong; val nanos = new AtomicLong }
  private val acc = new ConcurrentHashMap[String, Cell]()

  def enable(): Unit = { on = true }
  def reset(): Unit = acc.clear()

  def time[A](phase: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val c = acc.computeIfAbsent(phase, _ => new Cell)
        c.n.incrementAndGet()
        c.nanos.addAndGet(System.nanoTime() - t0)
        ()
      }
    }

  /** (phase, calls, totalSec) rows, heaviest first. */
  def report(): Seq[(String, Long, Double)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq
      .map { case (k, c) => (k, c.n.get(), c.nanos.get() / 1e9) }
      .sortBy(-_._3)
  }
}
