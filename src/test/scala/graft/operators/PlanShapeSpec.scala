package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}

import graft.{SparkEntry, SparkSpec}

/** The plans the 100 TB claims rest on, pinned as tests so a regression
  * shows up as a red suite instead of a silent 100× slowdown. Each
  * check is an invariant of the plan SHAPE (pushdown reached the scan,
  * no cartesian candidate generation, no unnecessary shuffle), not a
  * timing — timings live in Bench and `graft.Probe`. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def ops(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => ops(q.plan)
      case _ => Nil
    }
    (p +: p.children.flatMap(ops)) ++ nested
  }

  private def planOps(name: String): Seq[SparkPlan] =
    ops(run(name).queryExecution.executedPlan)

  test("q02: filter and projection are pushed into the parquet scan") {
    val scans = planOps("q02_filter_project").collect { case s: FileSourceScanExec => s }
    scans should not be empty
    // the predicate reached the source (footer/page-level skipping)...
    scans.exists(_.metadata.get("PushedFilters").exists(f =>
      f != "[]" && f.nonEmpty)) shouldBe true
    // ...and no scan reads more than the handful of projected columns
    all(scans.map(_.schema.fieldNames.length)) should be <= 6
  }

  test("d53: the split-tag joins broadcast (id-only build sides, no corpus re-shuffle)") {
    // the leakage audit adds two id→split joins on top of the banded
    // near-dup pipeline; the tag side is a two-column projection of the
    // corpus, so BOTH must plan as broadcast hash joins — a shuffled
    // join here would re-partition the pair stream twice for no reason
    val p = planOps("d53_split_leakage")
    val bcast = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    bcast.length should be >= 2
    // and no sort-merge join anywhere in the audit
    p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    } shouldBe empty
  }

  test("q40: the bloom probe filters the fact scan BELOW a broadcast semi join") {
    val p = planOps("q40_bloom_semi_join")
    // the semi join is broadcast (dim-sized build side, no fact shuffle)
    val semis = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.sql == "LEFT SEMI" => j
    }
    semis should have length 1
    // the bloom probe sits under the join (prunes the probe input),
    // never above it
    val joinSubtree = ops(semis.head)
    joinSubtree.exists(_.toString.contains("graft_bloom_might_contain")) shouldBe true
    // and the lineitem scan reads only the projected columns
    val scans = p.collect { case s: FileSourceScanExec => s }
    all(scans.map(_.schema.fieldNames.length)) should be <= 4
  }

  test("q42: the correlated AVG subquery decorrelates to an aggregate join") {
    val p = planOps("q42_correlated_avg")
    // no per-row subquery execution survives: the plan is joins +
    // aggregates only (decorrelation happened)
    p.exists(_.getClass.getSimpleName.contains("Subquery")) shouldBe false
    p.collect { case j: BaseJoinExec => j }.size should be >= 2
  }

  test("q43: EXISTS / NOT EXISTS plan as one semi and one anti join") {
    val joins = planOps("q43_semi_anti_max").collect { case j: BaseJoinExec => j }
    joins.map(_.joinType.sql) should contain allOf ("LEFT SEMI", "LEFT ANTI")
    // and nothing degenerated into a cartesian product
    planOps("q43_semi_anti_max")
      .collect { case c: CartesianProductExec => c } shouldBe empty
  }

  test("d49: weighted sample plans as TakeOrdered, never a global sort") {
    val p = planOps("d49_weighted_sample")
    p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    } should not be empty
    p.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    } shouldBe empty
  }

  test("per-source cap runs as a bounded top-k aggregate, not a source window") {
    // a Window.partitionBy(source) sorts every row of a source inside
    // ONE task — the shape that serializes on a mega-source at 100×.
    // The cap must plan as the partial-aggregation-friendly graft_top_k
    // ObjectHashAggregate (map-side k-heaps) with no window anywhere.
    val d30 = planOps("d30_source_cap")
    d30.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    } shouldBe empty
    d30.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    } should not be empty
    // d35 composes the same cap; its remaining windows are keyed by
    // fingerprint (dedup latest-per-fp) or shard (packSequences
    // offsets) — bounded keys. None may be keyed by source.
    val d35 = planOps("d35_training_manifest")
    d35.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.references.exists(_.name == "source")) => w
    } shouldBe empty
  }

  test("LSH near-dup candidate generation never plans a cartesian product") {
    val p = planOps("d07_lsh_near_dup")
    p.collect { case c: CartesianProductExec => c } shouldBe empty
    // every join is an equi-join on band/id keys
    all(p.collect { case j: BaseJoinExec => j.leftKeys.nonEmpty }) shouldBe true
  }

  test("exact dedup is join-free: one hash-agg pass over fingerprints") {
    val p = planOps("d05_dedup_exact")
    p.collect { case j: BaseJoinExec => j } shouldBe empty
    p.collect { case c: CartesianProductExec => c } shouldBe empty
  }

  test("frame manifest explodes map-side: no shuffle except the output sort") {
    val shuffles = planOps("m06_frame_manifest")
      .collect { case e: ShuffleExchangeExec => e }
    shuffles should have size 1 // the final orderBy's range exchange
  }

  test("token stats stay inside whole-stage codegen") {
    // AQE applies codegen at stage materialization — execute first,
    // then inspect the FINAL plan
    val df = run("d01_token_stats")
    df.collect()
    ops(df.queryExecution.executedPlan)
      .collect { case w: WholeStageCodegenExec => w } should not be empty
  }

  test("AQE splits a skewed join partition without hand-salting (q18's alternative)") {
    // q18 hand-salts its hot supplier key; at 100x scale AQE's runtime
    // skew-join split handles the same shape with NO plan rewrite. This
    // pins the evidence: a deliberately skewed key, thresholds scaled to
    // test-data size, and the final adaptive plan must mark the
    // sort-merge join as skew-handled. Salting remains necessary only
    // where AQE can't act: skewed AGGREGATIONS, or joins AQE plans as
    // broadcast where one task still reads the hot partition upstream.
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // 95% of rows land on one key — the q18 hot-supplier shape
      val left = spark.range(300000).select(
        when(col("id") % 100 < 95, 7L)
          .otherwise(col("id") % 1000).as("k"),
        col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // execute THIS dataset's own QueryExecution (a sink write would
      // plan a separate one and leave this plan non-final)
      joined.queryExecution.toRdd.count()
      val smj = ops(joined.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      smj should not be empty
      smj.exists(_.isSkewJoin) shouldBe true
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("no query funnels an unbounded frame through an unpartitioned window") {
    // An unpartitioned WindowExec sorts its ENTIRE input through one
    // partition — the single worst scale hazard a declarative plan can
    // hide (d39's full-vocabulary row_number was exactly this). The
    // invariant: every unpartitioned window in the 151-query surface
    // must run over a provably collapsed frame, and each such case is
    // allowlisted here WITH its bound so the next edit that widens a
    // frame has to argue its case in this map.
    val allowed: Map[String, String] = Map(
      "d23_quality_filter" -> "4dp-score value histogram (≤ ~10^4 rows)",
      "d29_seq_pack" -> "shard base offsets: one row per doc_id shard",
      "d31_vocab_growth" -> "3 growth buckets",
      "d35_training_manifest" -> "shard base offsets (packSequences phase 2)",
      "d37_drift_cdf" -> "doc-length buckets (corpus/50-char bands)",
      "d39_zipf_fit" -> "(count, term-prefix) shard base offsets",
      "q33_funnel" -> "3-row step funnel frame",
      "e18_hybrid_rrf" -> "two k-limited ranked lists (k=10)")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val unpartitioned = planOps(name).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      if (unpartitioned.nonEmpty && !allowed.contains(name)) Some(name) else None
    }
    offenders shouldBe empty
    // and the allowlist carries no stale entries
    val stale = allowed.keySet -- SparkEntry.queries.keySet
    stale shouldBe empty
  }

  test("media kernels run above a round-robin exchange (never split-bound)") {
    // the per-row codec work (PNG/WAV/AVI encode+decode) is CPU inside
    // the scan stage of a one-file parquet: without a repartition the
    // kernel serializes onto the input's handful of splits no matter
    // how many cores exist (the r18 review measured m02 at 4 tasks
    // with 26 s of idle cores). Pin the plan shape: every media-kernel
    // query carries at least one RoundRobinPartitioning exchange.
    // r22: several kernels are checkpoint-materialized inside the query
    // builder (sortedOnce — the range-sampling double-run fix), which
    // truncates the final frame's plan, so the pin watches every
    // executed action through a QueryExecutionListener and unions in
    // the final (possibly lazy) plan.
    val mediaKernels = Seq(
      "m02_multimodal_decode", "m04_resize_pool", "m05_embed_patches",
      "m08_audio_frames", "m09_video_frames", "m10_perceptual_dedup",
      "m11_audio_fingerprint", "m12_video_fingerprint")
    val missing = mediaKernels.filterNot { name =>
      val seen = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          seen.add(qe.executedPlan); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val plans = try {
        val df = run(name)
        val finalOps = ops(df.queryExecution.executedPlan)
        // the execution listener delivers asynchronously — bounded drain
        val deadline = System.nanoTime() + 10_000_000_000L
        while (seen.isEmpty && finalOps.size <= 2 &&
          System.nanoTime() < deadline) Thread.sleep(50)
        import scala.jdk.CollectionConverters._
        finalOps ++ seen.asScala.toSeq.flatMap(ops)
      } finally spark.listenerManager.unregister(listener)
      plans.exists {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
        case _ => false
      }
    }
    missing shouldBe empty
  }
}
