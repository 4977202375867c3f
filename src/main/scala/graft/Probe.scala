package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.GraftSession
import graft.store.{LakeCatalog, StoreTiming}

/** The one measurement main:
  * `runMain graft.Probe <sfDir> <subcommand> [args]`. One session
  * (`SPARK_GRAFT_CPUS` cores, the GraftSession default), one
  * [[TaskMetricsListener]], one subcommand table; arguments are checked
  * against the subcommand's usage line BEFORE the session starts, so a
  * typo prints usage and exits non-zero instead of throwing after
  * start-up. Measurement-only: never on any query, store or CDC path.
  *
  * Query probes live here (`time`, `stages`, `plan`, `audit`); the
  * corpus and index ladders in [[ProbeScale]], the commit-path probes in
  * [[ProbeStore]]. */
object Probe {

  /** Positional arguments bound by slot name from a usage line. */
  final class Args(bound: Map[String, Seq[String]]) {
    def int(name: String, default: Int): Int = bound.get(name).fold(default)(_.head.toInt)
    def str(name: String): String = bound(name).head
    def all(name: String): Seq[String] = bound.getOrElse(name, Nil)
  }

  /** What a subcommand runs against: the session, the sf dir, its bound
    * arguments, the task-metrics listener, and the scaffolding the
    * ladders share. */
  final class Ctx(val spark: SparkSession, val sfDir: String, val args: Args,
      val tasks: TaskMetricsListener) {
    def par: Int = spark.sparkContext.defaultParallelism
    lazy val docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
    lazy val embeddings: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

    /** Documents replica `i`: ids offset clear of every other replica,
      * every TOKEN given a replica-unique suffix — a true bijection on
      * the vocabulary (no collisions, no case-normalization collapse),
      * so the near-dup structure WITHIN a replica is preserved exactly
      * while replicas share zero tokens: duplicate density stays
      * constant as the corpus grows and wall-clock measures scaling,
      * not a synthetic pair explosion. */
    def docReplica(i: Int): DataFrame = docs.select(
      (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
      (if (i == 0) col("text")
       else regexp_replace(col("text"), "(\\S+)", s"$$1q${i}x")).as("text"),
      col("lang"), col("source"), col("n_chars"))

    /** Embeddings replica `i`, ids offset clear of every other replica.
      * `distinct` perturbs one component ADDITIVELY (near- but not exact
      * duplicates of replica 0 under COSINE — a multiplicative scale
      * would be cosine-invariant and make every replica an exact angular
      * duplicate, degenerating top-k into a vec_id tie-break) and makes
      * labels replica-unique, so the label-trained coarse quantizer's
      * nlist grows with the corpus; without it the vectors repeat and
      * per-cell population grows `mult`× instead. */
    def embReplica(i: Int, distinct: Boolean): DataFrame = embeddings.select(
      (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
      (if (i == 0 || !distinct) col("embedding")
       else transform(col("embedding"),
         (x, d) => x + when(d === 0, lit(i * 1e-3f)).otherwise(lit(0f)))).as("embedding"),
      (if (distinct) col("label") + lit(i * 10000) else col("label")).as("label"))

    /** Replicas `0 until mult`, unioned, spread over the cores, persisted
      * and counted. */
    def corpus(mult: Int)(replica: Int => DataFrame): (DataFrame, Long) =
      persisted((0 until mult).map(replica).reduce(_ unionByName _))

    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.repartition(par).persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }

    /** `df` persisted as it is partitioned, and materialized. */
    def cached(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    def tmp(name: String): String = s"${sys.props("java.io.tmpdir")}/graft_probe_$name"

    def wipe(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

    /** A catalog over a WIPED warehouse dir holding database `db`: every
      * probe rung builds its tables from scratch, and a leftover
      * warehouse from a previous run would otherwise (a) trip watermark
      * guards on maintained tables (a re-run's createOrReplace is a
      * non-append commit under the old watermark) and (b) accumulate
      * pre-replace data files in /tmp forever (createOrReplace never GCs
      * prior versions). Wiping at the source fixes the whole class — no
      * per-table dropTable bookkeeping to forget. */
    def freshCatalog(name: String, db: String = "probe"): LakeCatalog = {
      wipe(tmp(name))
      val cat = new LakeCatalog(spark, tmp(name))
      cat.createDatabase(db)
      cat
    }

    /** Runs `body` at each multiplier and prints, for each adjacent pair,
      * the ratio of every named wall it returned — two points can hide a
      * superlinear term that only bends at the next decade, the ratios
      * make the curvature visible. */
    def rungs(what: String, per: String, mults: Seq[Int] = Seq(1, 10, 100))(
        body: Int => Seq[(String, Double)]): Unit =
      mults.map(m => m -> body(m)).sliding(2).foreach {
        case Seq((m0, w0), (m1, w1)) =>
          val ratios = w0.zip(w1).map { case ((k, a), (_, b)) => f"$k ${b / a}%.2f" }
          println(s"PROBE $what ratio x$m0->x$m1: ${ratios.mkString("  ")} " +
            s"for ${m1 / m0}x $per")
        case _ => ()
      }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times each query `iters` times into the noop sink (all queries when
    * none named), so codegen/JIT warmup is visible and steady-state cost
    * is separable from first-run cost. Local mode: driver JVM ==
    * executor JVM, so the GC delta is the whole-query GC cost (same
    * basis as the bench's gc_sec). */
  private def time(c: Ctx): Unit = {
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val names = c.args.all("query")
    val qs =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.map(n => n -> SparkEntry.queries(n))
    qs.foreach { case (name, fn) =>
      val times = (1 to c.args.int("iters", 2)).map { _ =>
        val g0 = gcMillis()
        val (_, wall) = timed(noop(fn(c.spark, c.sfDir)))
        (wall, (gcMillis() - g0) / 1e3)
      }
      println(f"PROFILE $name%-28s " +
        times.map { case (t, g) => f"$t%.2f(gc $g%.2f)" }.mkString("  "))
    }
  }

  /** Per-STAGE profile of one query run `iters` times: for every stage of
    * the LAST iteration, the task count, task run/cpu/GC time, shuffle
    * read/write bytes+records and the stage's callsite name, plus the
    * store's commit phases — the data §1/§7.2 of the optimization guide
    * wants before an operator is touched, without the Spark UI. Each
    * iteration runs under its own job group, so the listener attributes
    * late task ends exactly. */
  private def stages(c: Ctx): Unit = {
    val q = c.args.str("query")
    val iters = c.args.int("iters", 2)
    val sc = c.spark.sparkContext
    StoreTiming.enable()
    val walls = (1 to iters).map { i =>
      StoreTiming.reset()
      sc.setJobGroup(s"$q#$i", q)
      val (_, wall) = timed(noop(SparkEntry.queries(q)(c.spark, c.sfDir)))
      sc.clearJobGroup()
      println(f"ITER $i wall $wall%.2f s")
      wall
    }
    StoreTiming.report().foreach { case (p, n, s) =>
      println(f"  STORE-PHASE $p%-26s calls=$n%-5d total=$s%8.2f s")
    }
    ListenerBusDrain(sc)
    val group = s"$q#$iters"
    val rows = c.tasks.stages(group).sortBy { case (id, _, b) => (-b.runMs, id) }
    println(f"STAGES-FOR $q (last iter, wall ${walls.lastOption.getOrElse(0.0)}%.2f s)")
    println(f"${"stage"}%6s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s " +
      f"${"sh_rd_MB"}%9s ${"sh_rd_rec"}%10s ${"sh_wr_MB"}%9s ${"sh_wr_rec"}%10s " +
      f"${"in_rec"}%9s  name")
    rows.foreach { case (id, name, b) =>
      println(f"$id%6d ${b.tasks}%5d ${b.runMs / 1e3}%8.2f ${b.cpuNs / 1e9}%8.2f " +
        f"${b.gcMs / 1e3}%6.2f ${b.shuffleReadBytes / 1e6}%9.2f ${b.shuffleReadRecords}%10d " +
        f"${b.shuffleWriteBytes / 1e6}%9.2f ${b.shuffleWriteRecords}%10d " +
        f"${b.inputRecords}%9d  ${name.take(80)}")
    }
    val tot = c.tasks.total(group)
    println(f"TOTAL stages=${rows.size} run ${tot.runMs / 1e3}%.2f s " +
      f"cpu ${tot.cpuNs / 1e9}%.2f s gc ${tot.gcMs / 1e3}%.2f s")
  }

  /** Writes the FULL `.explain("formatted")` output of the named queries
    * to `plans/<tag>/<query>_<suffix>.txt` — the before/after plan
    * evidence the optimization rounds commit. */
  private def plan(c: Ctx): Unit = {
    val (tag, suffix) = (c.args.str("tag"), c.args.str("suffix"))
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    c.args.all("query").foreach { n =>
      val plan = SparkEntry.queries(n)(c.spark, c.sfDir).queryExecution
        .explainString(FormattedMode)
      Files.write(outDir.resolve(s"${n}_$suffix.txt"), plan.getBytes(StandardCharsets.UTF_8))
      println(s"PLAN $n -> plans/$tag/${n}_$suffix.txt (${plan.length} chars)")
    }
  }

  /** Plan-quality audit of the scan- and join-heavy queries. */
  private val AuditQueries = Seq("q02_filter_project", "q04_snowflake_join", "q13_top_k",
    "d07_lsh_near_dup", "q18_salted_join", "s01_windowed_counts",
    "d12_embed_near_dup", "e05_knn_multiprobe", "d13_rolling_fp",
    "d10_simhash_near_dup", "d17_curation_pipeline", "e08_range_search",
    "d20_contamination", "d23_quality_filter", "e09_kmeans_step",
    "d24_unigram_loss", "e10_scalar_quantize", "q19_window_frames",
    "q20_rollup", "q21_pivot", "q22_unpivot",
    "q24_cube", "q26_scalar_subquery", "d29_seq_pack", "d32_boilerplate",
    "e14_knn_ivf_pq", "s05_interval_join", "q29_asof_join",
    "q30_range_join", "d35_training_manifest",
    "d40_semantic_dedup", "d41_chunk_overlap", "e15_mips_norm_prune",
    "q31_gap_fill", "q32_group_mode", "m06_frame_manifest",
    "q33_funnel", "q34_cohort_retention", "d44_bigram_loss",
    "e16_matryoshka_rerank", "c18_sorted_rewrite",
    "q35_stat_aggs", "q36_approx_quantile", "e18_hybrid_rrf",
    "d46_dup_ngram_spans", "d47_incr_near_dup", "s08_stream_funnel",
    "s09_windowed_topk", "c22_zorder_scan", "q37_string_battery",
    "q38_date_battery", "s11_session_window", "s12_threshold_alerts",
    "s10_static_enrich", "e20_metric_battery", "e19_knn_ivf_append",
    "c23_rollback", "c24_changelog", "q39_listagg",
    "c25_lake_mor_merge_delete", "s13_stream_dedup", "c26_migration",
    "d52_hash_split", "d53_split_leakage", "m10_perceptual_dedup",
    "m11_audio_fingerprint", "d54_substring_dedup")

  /** Prints the structural lines (scans, pushed filters, joins, codegen
    * stages, top-k, exchanges) of each audited query's formatted
    * physical plan, so pushdown/broadcast/codegen regressions can be
    * spotted without the Spark UI. */
  private def audit(c: Ctx): Unit = {
    println("AUDIT-BEGIN")
    AuditQueries.foreach { name =>
      println(s"=== $name ===")
      SparkEntry.queries(name)(c.spark, c.sfDir).queryExecution
        .explainString(FormattedMode).linesIterator
        .filter(l => Seq("Scan parquet", "PushedFilters", "Join", "WholeStageCodegen",
          "TakeOrderedAndProject", "Exchange", "ReadSchema").exists(l.contains))
        .take(25).foreach(println)
    }
    println("AUDIT-END")
  }

  /** Usage line → body. A usage line is also the argument spec: `<a>`
    * required, `[a]` optional, `...` takes the rest; slots named in
    * [[IntSlots]] must be integers and `query` slots SparkEntry names. */
  private val Commands: Seq[(String, Ctx => Unit)] = Seq(
    "time [iters] [query...]" -> time,
    "stages <query> [iters]" -> stages,
    "plan <tag> <suffix> [query...]" -> plan,
    "audit" -> audit,
    "scale [mult]" -> ProbeScale.scale,
    "flagship" -> ProbeScale.flagship,
    "lsh" -> ProbeScale.lsh,
    "ivf" -> ProbeScale.ivf,
    "lshfrag" -> ProbeScale.lshFrag,
    "retract" -> ProbeScale.retract,
    "mor" -> ProbeScale.mor,
    "stream" -> ProbeScale.stream,
    "zipf [mult]" -> ProbeScale.zipf,
    "e22bracket [reps]" -> ProbeScale.e22Bracket,
    "ivfbuild [mult]" -> ProbeScale.ivfBuild,
    "commit [iters]" -> ProbeStore.commit,
    "ladder" -> ProbeStore.ladder,
    "stats [latencyMs]" -> ProbeStore.stats,
    "manifest [appends] [parts]" -> ProbeStore.manifest)

  private val IntSlots = Set("iters", "mult", "reps", "latencyMs", "appends", "parts")

  /** A checked command line, ready to run on a session. */
  final class Invocation(sfDir: String, args: Args, body: Ctx => Unit) {
    def run(spark: SparkSession): Unit = {
      val tasks = new TaskMetricsListener
      spark.sparkContext.addSparkListener(tasks)
      try body(new Ctx(spark, sfDir, args, tasks))
      finally spark.sparkContext.removeSparkListener(tasks)
    }
  }

  /** Checks `argv` without touching Spark: the problem, or what to run. */
  def parse(argv: Seq[String]): Either[String, Invocation] = argv match {
    case sfDir +: name +: rest =>
      Commands.find(_._1.takeWhile(_ != ' ') == name)
        .toRight(s"unknown subcommand '$name'")
        .flatMap { case (usage, body) => bind(usage, rest).map(new Invocation(sfDir, _, body)) }
    case _ => Left("missing <sfDir> <subcommand>")
  }

  private def bind(usage: String, args: Seq[String]): Either[String, Args] = {
    val slots = usage.split(' ').toSeq.tail
    var rest = args
    val bound = slots.flatMap { slot =>
      val (mine, left) = rest.splitAt(if (slot.contains("...")) rest.size else 1)
      rest = left
      if (mine.isEmpty) None else Some(slot.filter(_.isLetter) -> mine)
    }.toMap
    val problems =
      slots.filter(_.startsWith("<")).map(_.filter(_.isLetter)).filterNot(bound.contains)
        .map(s => s"missing <$s>") ++
      rest.headOption.map(a => s"unexpected argument '$a'") ++
      bound.toSeq.flatMap { case (slot, vs) =>
        vs.collect {
          case v if IntSlots(slot) && v.toIntOption.isEmpty => s"<$slot> must be an integer, got '$v'"
          case v if slot == "query" && !SparkEntry.queries.contains(v) => s"unknown query '$v'"
        }
      }
    problems.headOption.toLeft(new Args(bound))
  }

  def main(argv: Array[String]): Unit = parse(argv.toSeq) match {
    case Left(problem) =>
      System.err.println(s"$problem\nusage: graft.Probe <sfDir> <subcommand> [args]\n" +
        Commands.map("  " + _._1).mkString("\n"))
      sys.exit(2)
    case Right(invocation) =>
      val spark = GraftSession.getOrCreate("graft-probe")
      try invocation.run(spark) finally spark.stop()
  }
}
