package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cdc.{CdcPipeline, DebeziumSchema, PipelineContext}
import graft.ledger.Watermark
import graft.maintenance.Maintenance
import graft.store.{LakeCatalog, LakeTable, StoreTiming}
import graft.streaming.StreamRunner

/** Shape of one CDC workload. */
final case class CdcConfig(
    topics: Int,
    mergeOnRead: Boolean,
    skewedKeys: Boolean,
    seedRows: Long,
    batchSize: Int,
    lookupsPerBatch: Int,
    maintenanceEvery: Int,
    warmBatches: Int = 2,
    concurrency: Int = 3,
    corruptBatch: Option[Int] = None,
    maxBatches: Int = 0)

object CdcConfig {
  /** Events per batch, from the scratch prototype the benchmark was
    * specified with: about 1.13k events/s applied serially with batches
    * of about 2.3 s, so about 1.13k × 2.3 ≈ 2.6k events per batch
    * (perfbench/DESIGN.md). */
  val PrototypeBatch = 2600

  /** One topic into a copy-on-write table, skewed keys, compaction; one
    * PK lookup between batches. */
  val Cow = CdcConfig(topics = 1, mergeOnRead = false, skewedKeys = true,
    seedRows = 50000, batchSize = PrototypeBatch, lookupsPerBatch = 1, maintenanceEvery = 3)
  /** Three topics into merge-on-read tables at concurrency 3, uniform
    * keys, position-delete compaction of one table per round, one PK
    * lookup per table after each round. */
  val MorMulti = CdcConfig(topics = 3, mergeOnRead = true, skewedKeys = false,
    seedRows = 50000, batchSize = PrototypeBatch, lookupsPerBatch = 1, maintenanceEvery = 3,
    warmBatches = 1)
}

/** One topic's pipeline context, pre-generated batches and counters. */
final class TopicRun(val ctx: PipelineContext, val stream: CdcStream,
    val batches: IndexedSeq[CdcBatch], val frames: IndexedSeq[DataFrame]) {
  var consumed = 0
  var lastGood: Option[Long] = None
  val goodBatches = new ConcurrentLinkedQueue[Long]()
  var eventsApplied = 0L
  def table: LakeTable = ctx.catalog.table(ctx.fullTableName)
  def fqn: String = ctx.fullTableName
}

/** The CDC ingest loop: Debezium batches → `CdcPipeline.processBatch`
  * (decode, cast, PK-hash dedup, MERGE/DELETE, watermark ledger) with
  * interval maintenance and closed-loop PK lookups, then the replay-model
  * gates. Traced runs alternate untraced batches with the decomposed,
  * span-instrumented call sequence of [[CdcTraced]]. */
final class CdcBench(spark: SparkSession, cfg: CdcConfig, seed: Long, seconds: Double,
    traced: Boolean, workDir: String, rep: Report, probe: Option[SparkProbe],
    marks: Option[Main.CalibrationMarks] = None) {

  private val warehouse = s"$workDir/warehouse"
  private val cat = new LakeCatalog(spark, warehouse)
  private val dag = "bench"
  private val encoder = new CdcEncoder

  private val batchLat = new ConcurrentLinkedQueue[Double]()
  private val tracedLat = new ConcurrentLinkedQueue[Double]()
  private val untracedLat = new ConcurrentLinkedQueue[Double]()
  private val lookupLat = collection.mutable.ArrayBuffer[Double]()
  private var loopCpu = 0.0
  private val maintSec = new ConcurrentLinkedQueue[Double]()
  private val layer = new CdcTraced.Counters

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Generation is the benchmark's own work: it happens before setup
    * timing starts. Enough batches for a loop at one second per batch
    * plus a whole maintenance cycle (batches take about two). */
  def generate(): IndexedSeq[TopicRun] = {
    val registry = CdcSchemas.registry
    val maxBatches = cfg.warmBatches +
      (if (cfg.maxBatches > 0) cfg.maxBatches else math.ceil(seconds).toInt + 2 * cfg.maintenanceEvery)
    (0 until cfg.topics).map { t =>
      val stream = new CdcStream(seed * 1000003L + t, cfg.seedRows, cfg.batchSize,
        cfg.lookupsPerBatch, cfg.skewedKeys)
      val topic = s"bench.store.TB_CDC_$t"
      val batches = (1 to maxBatches).map(i => stream.nextBatch(corrupt = cfg.corruptBatch.contains(i)))
      val frames = batches.map(b => encoder.batchFrame(spark, topic, b))
      new TopicRun(PipelineContext(cat, registry, topic, dag, "bench"), stream, batches, frames)
    }
  }

  private val tableProps: Map[String, String] =
    if (cfg.mergeOnRead) Map("write.merge.mode" -> "merge-on-read",
      "write.delete.mode" -> "merge-on-read")
    else Map.empty

  /** Seed every topic's table twice (the median pass is the seeding
    * cost) and run the warm-up batches. Returns set-up seconds. */
  def setup(topics: IndexedSeq[TopicRun]): Double = {
    Watermark.ensureWatermarkTables(cat)
    topics.foreach(tp => cat.createDatabase(tp.ctx.icebergSchema))
    val seeds = (1 to 2).map { _ =>
      timed {
        topics.foreach(tp => tp.table.createOrReplace(
          CdcSchemas.seedFrame(spark, cfg.seedRows, 4), tableProperties = tableProps))
      }._2
    }
    val (_, warm) = timed {
      // warm-up rounds run like measured ones: topics concurrently
      (0 until cfg.warmBatches).foreach { _ =>
        if (cfg.topics == 1) runBatch(topics.head, traceIt = false, record = false)
        else StreamRunner.runTopicsConcurrently(spark, topics.map(_.ctx.topic), cfg.concurrency) {
          name => runBatch(topics.find(_.ctx.topic == name).get, traceIt = false, record = false)
        }
      }
      maintenance(topics.head, record = false)
    }
    rep.detail("setup_seed_s") = seeds
    rep.detail("setup_warm_s") = warm
    Stats.median(seeds) + warm
  }

  /** Apply the topic's next batch. Returns false when it failed. */
  private def runBatch(tp: TopicRun, traceIt: Boolean, record: Boolean): Boolean = {
    val b = tp.batches(tp.consumed)
    val df = tp.frames(tp.consumed)
    tp.consumed += 1
    val group = s"${tp.ctx.icebergTable}-b${b.index}"
    spark.sparkContext.setJobGroup(group, group, false)
    val (ok, sec) = timed {
      try {
        if (traceIt) CdcTraced.processBatch(df, b.index.toLong, tp.ctx, b.events.size, layer, group)
        else CdcPipeline.processBatch(df, b.index.toLong, tp.ctx)
        true
      } catch {
        case e: Throwable =>
          if (!b.corrupt) System.err.println(s"batch ${b.index} failed: $e")
          false
      }
    }
    spark.sparkContext.clearJobGroup()
    if (ok) {
      tp.lastGood = Some(b.index.toLong); tp.goodBatches.add(b.index.toLong)
      tp.eventsApplied += b.events.size
    }
    if (record) {
      rep.op(ok, s"${tp.fqn} batch ${b.index} failed (corrupt frame injected: ${b.corrupt})")
      batchLat.add(sec)
      if (traced) (if (traceIt) tracedLat else untracedLat).add(sec)
    }
    ok
  }

  private def maintenance(tp: TopicRun, record: Boolean = true): Unit = {
    val (_, sec) = timed {
      Trace.span("maintenance", "maintenance.run") {
        if (cfg.mergeOnRead) Maintenance.runPositionDeleteCompaction(cat, dag, tp.fqn, tp.lastGood)
        else Maintenance.runCompaction(cat, dag, tp.fqn, tp.lastGood)
      }
    }
    if (record) maintSec.add(sec)
  }

  private def lookups(tp: TopicRun, traceIt: Boolean): Unit = {
    val b = tp.batches(tp.consumed - 1)
    val t = tp.table
    b.lookups.zipWithIndex.foreach { case ((k, expected), j) =>
      val group = s"${tp.ctx.icebergTable}-l${b.index}-$j"
      spark.sparkContext.setJobGroup(group, group, false)
      val cg0 = if (traceIt) PlanProbe.codegenTotalSec else 0.0
      val t0 = System.nanoTime()
      val res = try {
        Trace.span("store", "store.lookup") {
          if (traceIt) {
            val (df, planned, total) = t.readWhereCounted(col("id") === k)
            val rows = df.collect()
            layer.lookupPlanned.add(planned.toDouble / math.max(1, total))
            layer.lookupPlan.add(PlanProbe.phases(df))
            Right(rows)
          } else Right(t.readWhere(col("id") === k).collect())
        }
      } catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (traceIt) {
        layer.lookupCodegen.add(PlanProbe.codegenTotalSec - cg0)
        layer.deleteFilesLive.add(t.currentSnapshot.map(_.deleteEntries.size).getOrElse(0).toDouble)
      }
      lookupLat += sec
      val ok = res match {
        case Right(rows) =>
          rows.length == expected.size &&
            expected.forall(e => SrcRow.fromTable(rows.head) == e)
        case Left(_) => false
      }
      rep.op(ok, s"${tp.fqn} lookup id=$k after batch ${b.index}: expected $expected got $res")
    }
  }

  private def phasesIf[A](on: Boolean)(f: => A): A = if (on) layer.phasesOf(f) else f

  /** Closed loop until `seconds` have passed (or the batches run out).
    * A round applies one batch per topic; a topic folds its table right
    * after its batch every `maintenanceEvery` rounds, staggered across
    * topics (the reference gates maintenance per table); then the main
    * thread looks up keys in every table. With as many topics as rounds
    * per fold, every round holds one fold and tables at every stage of
    * delete-file build-up; otherwise the loop stops only after whole
    * fold cycles. Either way each run holds the same mix of work. */
  def loop(topics: IndexedSeq[TopicRun]): Double = {
    val cpu0 = Stats.processCpuSec
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val period = if (cfg.topics % cfg.maintenanceEvery == 0) 1 else cfg.maintenanceEvery
    var round = 0
    def more = (round % period != 0 || System.nanoTime() < deadline) &&
      topics.forall(tp => tp.consumed < tp.batches.size)
    val byName = topics.zipWithIndex.map { case (tp, i) => tp.ctx.topic -> (tp, i) }.toMap
    val roundWall = collection.mutable.ArrayBuffer[Double]()
    val waits = new ConcurrentLinkedQueue[Double]()
    while (more) {
      round += 1
      val r = round
      val traceIt = traced && r % 2 == 0
      def batchThenFold(tp: TopicRun, i: Int): Unit =
        if (runBatch(tp, traceIt, record = true) && (r + i) % cfg.maintenanceEvery == 0) maintenance(tp)
      Trace.withOp(s"r$r") {
        if (cfg.topics == 1) {
          Trace.span("cdc", "batch")(phasesIf(traceIt)(batchThenFold(topics.head, 0)))
        } else {
          val r0 = System.nanoTime()
          val busy = new ConcurrentLinkedQueue[Double]()
          val errors = Trace.span("streaming", "streaming.round") {
            phasesIf(traceIt) {
              StreamRunner.runTopicsConcurrently(spark, topics.map(_.ctx.topic), cfg.concurrency) { name =>
                val s0 = System.nanoTime()
                waits.add((s0 - r0) / 1e9)
                val (tp, i) = byName(name)
                Trace.withOp(s"r$r")(Trace.span("streaming", "streaming.topic")(batchThenFold(tp, i)))
                busy.add((System.nanoTime() - s0) / 1e9)
              }
            }
          }
          val rw = (System.nanoTime() - r0) / 1e9
          roundWall += rw
          if (traceIt) layer.rounds.add((rw, busy.asScala.sum))
          errors.foreach { case (topic, e) => rep.op(ok = false, s"$topic round $r: $e") }
        }
        topics.foreach(tp => lookups(tp, traceIt))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    loopCpu = Stats.processCpuSec - cpu0
    rep.detail("rounds") = round
    if (cfg.topics > 1) {
      layer.topicWait = waits.asScala.toSeq
      layer.roundWall = roundWall.toSeq
    }
    wall
  }

  /** The replay-model gates: table contents, ledger rows, high-water
    * mark, maintenance ledger. */
  def gates(topics: IndexedSeq[TopicRun]): Unit = {
    val wm = cat.table(Watermark.CdcTable).read
      .filter(col("dag_id") === dag && col("batch_id").isNotNull)
      .groupBy("iceberg_schema", "table_name", "batch_id").count().collect()
    topics.foreach { tp =>
      tp.stream.rollbackTo(tp.consumed)
      val got = CdcSchemas.sourceRows(tp.table.read).sortBy(_.id)
      val want = tp.stream.model.values.toSeq.sortBy(_.id)
      rep.op(got == want, s"${tp.fqn} final table: ${got.size} rows vs model ${want.size}" +
        got.zip(want).find(p => p._1 != p._2).map(p => s", first diff ${p._1} vs ${p._2}").getOrElse(""))
      val rows = wm.filter(r => r.getString(0) == tp.ctx.icebergSchema && r.getString(1) == tp.ctx.icebergTable)
      val perBatch = rows.map(r => r.getLong(2) -> r.getLong(3)).toMap
      val good = tp.goodBatches.asScala.toSet
      rep.op(perBatch.keySet == good && perBatch.values.forall(_ == 1L),
        s"${tp.fqn} watermark rows: ${perBatch.size} batch ids for ${good.size} applied batches")
      val hw = Watermark.lastCdcBatch(cat, dag, tp.ctx.icebergSchema, tp.ctx.icebergTable)
      rep.op(hw == tp.lastGood, s"${tp.fqn} high-water $hw vs last batch ${tp.lastGood}")
    }
    val mrows = cat.table(Watermark.MaintenanceTable).read.filter(col("dag_id") === dag)
    val failedMaint = mrows.filter(col("status") === "failed").count()
    rep.op(failedMaint == 0, s"$failedMaint failed maintenance-ledger rows")
    val rewritten = mrows.agg(coalesce(sum("rewritten_files_count"), lit(0L))).head().getLong(0)
    val runs = maintSec.size
    layer.filesRewritten = if (runs == 0) 0.0 else rewritten.toDouble / runs
  }

  /** Live data + delete file bytes per live row, averaged over topics. */
  def bytesPerRow(topics: IndexedSeq[TopicRun]): Double =
    Stats.mean(topics.map { tp =>
      val bytes = tp.table.filesDF.agg(sum("file_size_bytes")).head().getLong(0)
      bytes.toDouble / math.max(1, tp.stream.model.size)
    })

  def run(sessionSec: Double): Unit = {
    val (topics, genSec) = timed(generate())
    val setupSec = setup(topics)
    marks.foreach(_.mark())
    val wall = loop(topics)
    marks.foreach(_.mark())
    val events = topics.map(_.eventsApplied).sum
    val (_, gateSec) = timed(gates(topics))
    rep.detail("generate_s") = genSec
    rep.detail("gates_s") = gateSec

    val bl = batchLat.asScala.toSeq
    rep.e2e("throughput_per_s", events / wall, "1/s")
    rep.e2e("work_per_cpu_s", events / loopCpu, "1/s")
    rep.e2e("op_s_p50", Stats.median(bl), "s")
    rep.e2e("read_s_p50", Stats.median(lookupLat.toSeq), "s")
    rep.e2e("setup_s", sessionSec + setupSec, "s")
    rep.tail("op_s_tail", bl, "s", rep.layer)
    rep.tail("read_s_tail", lookupLat.toSeq, "s", rep.layer)
    val bpr = bytesPerRow(topics)
    rep.detail("events_per_s") = events / wall
    rep.detail("events_applied") = events
    rep.detail("loop_wall_s") = wall
    rep.detail("batches") = bl.size
    rep.detail("batch_s_p50") = Stats.median(bl)
    rep.detail("lookups") = lookupLat.size
    rep.detail("lookup_s") = lookupLat.toSeq
    rep.detail("batch_s") = bl
    rep.detail("lookup_s_p50") = Stats.median(lookupLat.toSeq)
    rep.detail("table_bytes_per_row") = bpr
    rep.detail("maintenance_runs") = maintSec.size
    if (traced) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val ms = maintSec.asScala.toSeq
      layer.report(rep, probe, wall, cfg.topics, ms)
      rep.layer("store.table_bytes_per_row", bpr, "bytes")
      val tl = tracedLat.asScala.toSeq; val ul = untracedLat.asScala.toSeq
      rep.layer("trace.overhead_ratio", Stats.median(tl) / Stats.median(ul), "ratio")
      rep.detail("traced_batches") = tl.size
      rep.detail("untraced_batches") = ul.size
    }
  }

  /** Traced-run equivalence: the same seeded batches through
    * `processBatch` and through the decomposed sequence, into two fresh
    * tables, must leave equal table contents and equal ledger rows. */
  def equivalence(): Boolean = {
    val eqCat = new LakeCatalog(spark, s"$workDir/equivalence")
    Watermark.ensureWatermarkTables(eqCat)
    def mk(topic: String) = {
      val ctx = PipelineContext(eqCat, CdcSchemas.registry, topic, "eq", "bench")
      eqCat.createDatabase(ctx.icebergSchema)
      eqCat.table(ctx.fullTableName).createOrReplace(
        CdcSchemas.seedFrame(spark, 2000, 2), tableProperties = tableProps)
      ctx
    }
    val a = mk("bench.store.TB_EQ_A"); val b = mk("bench.store.TB_EQ_B")
    val stream = new CdcStream(seed, 2000, 200, 0, cfg.skewedKeys, twoSchemaEvery = 2)
    val batches = (1 to 4).map(_ => stream.nextBatch())
    val scratch = new CdcTraced.Counters
    batches.foreach { bt =>
      CdcPipeline.processBatch(encoder.batchFrame(spark, a.topic, bt), bt.index.toLong, a)
      CdcTraced.processBatch(encoder.batchFrame(spark, b.topic, bt), bt.index.toLong, b,
        bt.events.size, scratch, "eq")
    }
    def state(ctx: PipelineContext) =
      CdcSchemas.sourceRows(eqCat.table(ctx.fullTableName).read).sortBy(_.id)
    def ledger(ctx: PipelineContext) = eqCat.table(Watermark.CdcTable).read
      .filter(col("table_name") === ctx.icebergTable)
      .select("event_count", "min_offset", "max_offset", "max_event_ts", "batch_id")
      .collect().map(_.toSeq).toSeq.sortBy(_.last.asInstanceOf[Long])
    val model = stream.model.values.toSeq.sortBy(_.id)
    val same = state(a) == state(b) && state(a) == model && ledger(a) == ledger(b) &&
      Watermark.lastCdcBatch(eqCat, "eq", a.icebergSchema, a.icebergTable) ==
        Watermark.lastCdcBatch(eqCat, "eq", b.icebergSchema, b.icebergTable)
    rep.op(same, "traced call sequence diverged from processBatch")
    same
  }
}

/** `CdcPipeline.processBatch`'s public-call sequence, decomposed so each
  * layer's share can be spanned: the replay guard, the schema-id
  * collects, `transformAndDedup` (output forced), `LakeTable.upsert` /
  * `deleteMatching` through global temp views, the stats aggregate and
  * `Watermark.appendCdcWatermark`. */
object CdcTraced {

  /** Per-layer counters gathered on traced batches. */
  final class Counters {
    val batches = new ConcurrentLinkedQueue[String]()
    val events = new java.util.concurrent.atomic.LongAdder
    val rowsOut = new java.util.concurrent.atomic.LongAdder
    val commits = new java.util.concurrent.atomic.LongAdder
    val filesAdded = new java.util.concurrent.atomic.LongAdder
    val bytesAdded = new java.util.concurrent.atomic.LongAdder
    val phases = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val lookupPlanned = new ConcurrentLinkedQueue[Double]()
    val lookupPlan = new ConcurrentLinkedQueue[(Double, Double, Double)]()
    val lookupCodegen = new ConcurrentLinkedQueue[Double]()
    val deleteFilesLive = new ConcurrentLinkedQueue[Double]()
    val rounds = new ConcurrentLinkedQueue[(Double, Double)]()
    var topicWait: Seq[Double] = Nil
    var roundWall: Seq[Double] = Nil
    var filesRewritten = 0.0

    /** Store phase seconds accumulated while `f` runs (StoreTiming is
      * process-wide, so this wraps whole rounds, not single topics). */
    def phasesOf[A](f: => A): A = {
      val p0 = StoreTiming.report().map(r => r._1 -> r._3).toMap
      try f
      finally StoreTiming.report().foreach { case (ph, _, sec) =>
        phases.merge(ph, sec - p0.getOrElse(ph, 0.0), (a: Double, b: Double) => a + b)
      }
    }

    def report(rep: Report, probe: Option[SparkProbe], wall: Double, topics: Int,
        maint: Seq[Double]): Unit = {
      val ops = batches.asScala.toSeq
      val n = math.max(1, ops.size).toDouble
      val ev = math.max(1L, events.sum()).toDouble
      val traced = ops.toSet
      def per(name: String) = Trace.totalOf(name, traced) / n
      rep.layer("cdc.transform_s", per("cdc.transform"), "s")
      rep.layer("cdc.bookkeeping_s", per("cdc.bookkeeping"), "s")
      rep.layer("cdc.rows_out_per_event", rowsOut.sum() / ev, "ratio")
      rep.layer("store.upsert_s", per("store.upsert"), "s")
      rep.layer("store.delete_s", per("store.delete"), "s")
      Seq("data.parquet-write", "data.footer-stats", "meta.segment-layout",
        "meta.snapshot-io", "data.post-write-listing", "commit.build-entries").foreach { ph =>
        rep.layer(s"store.phase.${ph}_s", phases.getOrDefault(ph, 0.0) / n, "s")
      }
      rep.layer("store.commits_per_batch", commits.sum() / n, "count")
      rep.layer("store.files_added_per_batch", filesAdded.sum() / n, "count")
      rep.layer("store.bytes_written_per_event", bytesAdded.sum() / ev, "bytes")
      rep.layer("store.lookup_entries_planned_ratio", Stats.mean(lookupPlanned.asScala.toSeq), "ratio")
      rep.layer("store.delete_files_live", Stats.mean(deleteFilesLive.asScala.toSeq), "count")
      rep.layer("ledger.append_s", per("ledger.append"), "s")
      rep.layer("ledger.guard_s", per("ledger.guard"), "s")
      rep.layer("maintenance.run_s", Stats.mean(maint), "s")
      rep.layer("maintenance.files_rewritten", filesRewritten, "count")
      rep.layer("maintenance.share", maint.sum / (wall * topics), "ratio")
      val rs = rounds.asScala.toSeq
      rep.layer("streaming.round_s", if (roundWall.isEmpty) 0.0 else Stats.median(roundWall), "s")
      rep.layer("streaming.topic_wait_s", if (topicWait.isEmpty) 0.0 else Stats.median(topicWait), "s")
      rep.layer("streaming.concurrency_efficiency",
        if (rs.isEmpty) 0.0 else rs.map(_._2).sum / rs.map(_._1 * topics).sum, "ratio")
      val plans = lookupPlan.asScala.toSeq
      val lk = math.max(1, plans.size).toDouble
      rep.layer("plan.analysis_s", plans.map(_._1).sum / lk, "s")
      rep.layer("plan.optimization_s", plans.map(_._2).sum / lk, "s")
      rep.layer("plan.planning_s", plans.map(_._3).sum / lk, "s")
      rep.layer("codegen.compile_s", lookupCodegen.asScala.sum / lk, "s")
      val walls = Trace.all.filter(_.name == "batch.traced").map(s => s.op -> s.dur).toMap
      probe.foreach(p => SparkLayers.report(rep, p, ops.map(g => g -> walls.getOrElse(g, 0.0))))
    }
  }

  def processBatch(batchDf: DataFrame, batchId: Long, ctx: PipelineContext, events: Int,
      c: Counters, group: String): Unit =
    Trace.withOp(group) {
      Trace.span("cdc", "batch.traced") { body(batchDf, batchId, ctx, events, c, group) }
    }

  private def body(batchDf: DataFrame, batchId: Long, ctx: PipelineContext, events: Int,
      c: Counters, group: String): Unit = {
    val spark = batchDf.sparkSession
    val startNs = System.nanoTime()
    val table = ctx.catalog.table(ctx.fullTableName)
    val guard = Trace.span("ledger", "ledger.guard") {
      Watermark.lastCdcBatch(ctx.catalog, ctx.dagId, ctx.icebergSchema, ctx.icebergTable)
    }
    if (guard.exists(_ >= batchId)) return
    c.batches.add(group)
    c.events.add(events)
    val before = storeState(table)

    batchDf.persist(StorageLevel.MEMORY_AND_DISK)
    val stats =
      try {
        val (valueSchemaDict, keySchemaDict) = Trace.span("cdc", "cdc.bookkeeping") {
          val vids = batchDf.select("value_schema_id").distinct().collect().map(_.getInt(0))
          val kids = batchDf.select("key_schema_id").distinct().collect().map(_.getInt(0))
          (vids.map(id => id -> ctx.schemaRegistry.getSchema(id)).toMap,
            kids.map(id => id -> ctx.schemaRegistry.getSchema(id)).toMap)
        }
        for ((valueSchemaId, valueSchemaStr) <- valueSchemaDict.toSeq.sortBy(_._1)) {
          val schemaFiltered = batchDf.filter(col("value_schema_id") === valueSchemaId)
          val debeziumSchema = DebeziumSchema.extract(valueSchemaStr)
          val keyRows = Trace.span("cdc", "cdc.bookkeeping") {
            schemaFiltered.select("key_schema_id").distinct().collect()
          }
          if (keyRows.nonEmpty) keySchemaDict.get(keyRows.head.getInt(0)).foreach { keySchemaStr =>
            val pkCols = DebeziumSchema.keyColumns(keySchemaStr)
            val out = Trace.span("cdc", "cdc.transform") {
              CdcPipeline.transformAndDedup(schemaFiltered, keySchemaStr, valueSchemaStr,
                debeziumSchema, pkCols, table).map { case (u, d) =>
                val up = u.persist(StorageLevel.MEMORY_AND_DISK)
                val del = d.persist(StorageLevel.MEMORY_AND_DISK)
                c.rowsOut.add(up.count() + del.count())
                (up, del)
              }
            }
            out.foreach { case (up, del) =>
              try {
                if (!up.isEmpty) Trace.span("store", "store.upsert") {
                  val view = s"upsert_view_${ctx.icebergTable}"
                  up.createOrReplaceGlobalTempView(view)
                  table.upsert(spark.table(s"global_temp.$view"), Seq("id_iceberg"))
                }
              } finally up.unpersist(false)
              try {
                if (!del.isEmpty) Trace.span("store", "store.delete") {
                  val view = s"delete_view_${ctx.icebergTable}"
                  del.createOrReplaceGlobalTempView(view)
                  table.deleteMatching(spark.table(s"global_temp.$view").select("id_iceberg"),
                    Seq("id_iceberg"))
                }
              } finally del.unpersist(false)
            }
          }
        }
        ctx.tracker.foreach(_.mark(ctx.fullTableName))
        Trace.span("cdc", "cdc.bookkeeping") {
          batchDf.agg(
            count(lit(1)).as("cnt"),
            date_format(max("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_ts"),
            min("offset").as("min_offset"),
            max("offset").as("max_offset")).head()
        }
      } finally batchDf.unpersist()

    val after = storeState(table)
    c.commits.add(after._1 - before._1)
    val added = after._2 -- before._2
    val fs = new Path(table.location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    added.foreach { path =>
      val p = new Path(path)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) { c.filesAdded.increment(); c.bytesAdded.add(f.getLen) }
        }
      }
    }

    Trace.span("ledger", "ledger.append") {
      Watermark.appendCdcWatermark(
        ctx.catalog, ctx.dagId, ctx.icebergSchema, ctx.icebergTable,
        eventCount = stats.getLong(0),
        maxEventTs = Option(stats.getString(1)).map(Timestamp.valueOf),
        minOffset = Option(stats.get(2)).map(_.asInstanceOf[Long]),
        maxOffset = Option(stats.get(3)).map(_.asInstanceOf[Long]),
        batchId = Some(batchId),
        processingDurationSec = Some((System.nanoTime() - startNs) / 1e9),
        scheduledAt = ctx.scheduledAt)
    }
  }

  /** (snapshot version, data + delete entry paths) of a table. */
  private def storeState(t: LakeTable): (Long, Set[String]) =
    t.currentSnapshot.map(s =>
      (s.version, (s.entries ++ s.deleteEntries).map(_.dataPath(t.location)).toSet))
      .getOrElse((0L, Set.empty))
}
