package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Memory the program holds, rather than the heap the JVM was given. A
  * resident-set figure cannot tell them apart under a throughput
  * collector: the old generation fills up to the heap cap before a full
  * collection, so the resident set reads the cap. */
object LiveMemory {

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  private def pools(t: MemoryType) =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == t)

  /** (live heap, peak non-heap) in MB: the heap is each heap pool's
    * usage after a forced major collection; non-heap is metaspace and
    * code cache. Two collections, because the first only clears the
    * weak references Spark's `ContextCleaner` tracks; the cleaner then
    * drops the broadcast and shuffle blocks it held, and the second
    * collection frees them. A collector that ignored `System.gc()` would
    * make this read an earlier collection. */
  def retained(): (Double, Double) = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    (mb(pools(MemoryType.HEAP).map(_.getCollectionUsage.getUsed).sum),
      mb(pools(MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum))
  }
}
