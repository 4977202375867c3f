package graft.store

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-footer min/max + row-count harvest for freshly written data
  * dirs — the manifest-stats source behind [[LakeTable]]'s write paths
  * (reference analog: the metrics Iceberg's writers collect per
  * `DataFile`, `iceberg` runtime absent here). One per-file reader,
  * two execution shapes:
  *
  *  - '''driver-local''' ([[filePartial]] under the caller's
  *    latency-overlap futures) — right for the few-file commits a
  *    streaming micro-batch lands, where a Spark job's launch floor
  *    would dominate the handful of footer opens;
  *  - '''distributed''' ([[distributed]]: one tiny job over the listed
  *    files, partials merged map-side per leaf, metadata-sized
  *    collect) — right for the 10³–10⁴-file writes a large backfill
  *    lands at 100 TB, where driver-side opens pay file-count ×
  *    object-store round-trip latency ON THE COMMIT PATH. Iceberg
  *    collects these stats inside its writer tasks; Spark's
  *    `DataFrameWriter` exposes no stats-tracker seam, so a post-write
  *    job over the already-listed files is the Spark-native
  *    equivalent: identical IO (footers only), executor-side,
  *    cluster-parallel.
  *
  * [[LakeTable]] dispatches between the shapes on
  * `write.stats.distributed-min-files` (same small-vs-at-scale
  * pattern as the LSH `lsh.probe.prune-min-bytes` dispatch).
  *
  * Values inside a [[Partial]] are the comparables [[StatsPruning]]
  * produces — `BigDecimal | String`, both serializable, so partials
  * ship from executors unchanged.
  */
private[graft] object FooterHarvest {

  /** Hadoop conf carrier for task closures (the standard
    * write/readFields idiom; Spark's own SerializableConfiguration is
    * private[spark]). */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Mergeable harvest state for one file set: per-column merged
    * (min, max) comparables, columns DROPPED for good (a chunk without
    * usable stats anywhere poisons its column — pruning on a partial
    * range would be unsound), and the parquet row count. */
  final case class Partial(
      acc: Map[String, (Any, Any)],
      dropped: Set[String],
      rows: Long)

  val EmptyPartial: Partial = Partial(Map.empty, Set.empty, 0L)

  /** One file's footer → [[Partial]]. The only IO in this object. */
  def filePartial(
      pathStr: String,
      conf: Configuration,
      prunable: Map[String, DataType]): Partial = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(pathStr), conf))
    try {
      val acc = mutable.Map[String, (Any, Any)]()
      val dropped = mutable.Set[String]()
      var rows = 0L
      reader.getFooter.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        block.getColumns.asScala.foreach { chunk =>
          val col = chunk.getPath.toDotString
          prunable.get(col).foreach { dt =>
            val s = chunk.getStatistics
            if (s == null || !s.hasNonNullValue || s.isEmpty) dropped += col
            else {
              val (mn, mx) = (
                StatsPruning.fromParquet(s.genericGetMin.asInstanceOf[AnyRef], dt),
                StatsPruning.fromParquet(s.genericGetMax.asInstanceOf[AnyRef], dt))
              (mn, mx) match {
                case (Some(lo), Some(hi)) =>
                  val merged = acc.get(col) match {
                    case Some((l0, h0)) =>
                      (if (StatsPruning.lt(dt, lo, l0)) lo else l0,
                        if (StatsPruning.lt(dt, h0, hi)) hi else h0)
                    case None => (lo, hi)
                  }
                  acc(col) = merged
                case _ => dropped += col
              }
            }
          }
        }
      }
      Partial(acc.toMap, dropped.toSet, rows)
    } finally reader.close()
  }

  /** Associative, commutative merge (map-side per leaf, then driver). */
  def merge(prunable: Map[String, DataType], a: Partial, b: Partial): Partial = {
    val keys = a.acc.keySet ++ b.acc.keySet
    val acc = keys.iterator.map { c =>
      c -> ((a.acc.get(c), b.acc.get(c)) match {
        case (Some((l0, h0)), Some((l1, h1))) =>
          val dt = prunable(c)
          (if (StatsPruning.lt(dt, l1, l0)) l1 else l0,
            if (StatsPruning.lt(dt, h0, h1)) h1 else h0)
        case (Some(v), None) => v
        case (None, v) => v.get
      })
    }.toMap
    Partial(acc, a.dropped ++ b.dropped, a.rows + b.rows)
  }

  /** [[Partial]] → the manifest's string-rendered stats + row count. */
  def finish(p: Partial): (Map[String, (String, String)], Long) =
    ((p.acc -- p.dropped).map { case (c, (lo, hi)) =>
      c -> (lo.toString, hi.toString)
    }, p.rows)

  /** Stats-prunable columns of `schema` (the only ones worth reading
    * footers for). */
  def prunableCols(schema: StructType): Map[String, DataType] =
    schema.fields.iterator
      .filter(f => StatsPruning.supported(f.dataType))
      .map(f => f.name -> f.dataType).toMap

  /** Task count for the distributed harvest job: ≈8 footer opens per
    * task past the parallelism floor. SHARED with `Probe <sf> stats`'s
    * latency-injected replica of the job (r21 ADVICE: a probe-local
    * copy of this formula would silently stop modeling the real job
    * shape if the production slicing changed). */
  private[graft] def sliceCount(defaultParallelism: Int, nFiles: Int): Int =
    math.max(1, math.min(nFiles, math.max(defaultParallelism, nFiles / 8)))

  /** Distributed harvest: one Spark job over `(leafRel, filePath)`
    * pairs (≈8 footer opens per task — each open is one object-store
    * round-trip, so tasks stay latency-bound, not scheduler-bound),
    * partials merged per leaf map-side, finished per leaf on the
    * driver. The collect is metadata-sized: at most one partial per
    * (task, leaf), each a few dozen comparables. */
  def distributed(
      spark: SparkSession,
      specs: Seq[(String, String)],
      schema: StructType): Map[String, (Map[String, (String, String)], Long)] = {
    if (specs.isEmpty) return Map.empty
    val prunable = prunableCols(schema)
    val bc = spark.sparkContext.broadcast(
      new SerializableConf(spark.sparkContext.hadoopConfiguration))
    try {
      val slices = sliceCount(spark.sparkContext.defaultParallelism, specs.size)
      val partials = spark.sparkContext.parallelize(specs, slices)
        .mapPartitions { it =>
          val conf = bc.value.value
          val perLeaf = mutable.Map[String, Partial]()
          it.foreach { case (leaf, path) =>
            val p = filePartial(path, conf, prunable)
            perLeaf(leaf) = perLeaf.get(leaf)
              .map(merge(prunable, _, p)).getOrElse(p)
          }
          perLeaf.iterator
        }
        .collect()
      partials.groupBy(_._1).map { case (leaf, ps) =>
        leaf -> finish(ps.iterator.map(_._2).reduce(merge(prunable, _, _)))
      }
    } finally bc.destroy()
  }
}
