package graft.store

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides for the store's internal Spark
  * actions.
  *
  * [[bytesFirstCoalesce]]: AQE's partition coalescing defaults to
  * `parallelismFirst=true`, which refuses to coalesce below the
  * session's default parallelism — so every reduce stage of a store
  * probe or merge on an aggregate-sized frame (a rollup delta, a
  * tombstone sweep, a matches scan over a tiny table) launches 32
  * local tasks to move a few dozen records, and a tiny merge's output
  * lands one file per non-empty reduce partition. Bytes-first
  * coalescing (Spark's own recommended production setting for exactly
  * this reason) collapses those to one task sized by
  * `advisoryPartitionSizeInBytes`, while a data-sized store write
  * still splits by bytes — the behavior is scale-adaptive, not a
  * local[32] tune.
  *
  * Deliberately SCOPED to store actions rather than flipped in
  * GraftSession: CPU-heavy tiny-BYTE compute stages (char-ngram dedup,
  * media kernels) would be serialized by a global bytes-first policy
  * (measured and rejected in r21) — the store's commit/probe stages
  * are IO/floor-bound and have no such shape. A CDC micro-batch
  * (`CdcPipeline.processBatch`) runs in one scope: its decode and dedup
  * frames are batch-sized store inputs.
  *
  * Scopes on one session nest, and overlap across threads (concurrent
  * CDC topics): the first scope in saves and sets the overrides, the
  * last one out restores them, so interleaved exits cannot leave them
  * on. While any scope is open they are visible session-wide, so a
  * compute query running meanwhile on the same session plans
  * bytes-first too.
  */
private[graft] object StoreConf {
  // canChangeCachedPlanOutputPartitioning: the store persists its
  // aggregate-sized delta/probe frames, and AQE refuses to coalesce
  // shuffle reads under a cached plan unless this is on (the cached
  // partitioning is allowed to differ run-to-run — no store consumer
  // relies on it; correctness is unaffected by definition of the
  // flag, it only unlocks AQE inside InMemoryRelation subtrees).
  private val Overrides = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  // per session: open scopes, and the values the first one replaced
  private val open =
    scala.collection.mutable.Map.empty[SparkSession, (Int, Seq[(String, Option[String])])]

  def bytesFirstCoalesce[A](spark: SparkSession)(body: => A): A = {
    open.synchronized {
      val (depth, prev) = open.getOrElse(spark,
        (0, Overrides.map { case (k, _) => k -> spark.conf.getOption(k) }))
      if (depth == 0) Overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      open(spark) = (depth + 1, prev)
    }
    try body
    finally open.synchronized {
      val (depth, prev) = open(spark)
      if (depth > 1) open(spark) = (depth - 1, prev)
      else {
        open -= spark
        prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    }
  }
}
