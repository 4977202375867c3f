package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Probe.{noop, timed, Ctx}
import graft.operators.Rollup
import graft.store.{FooterHarvest, LakeTable, StoreTiming}

/** Commit-path probes of [[Probe]]: run before and after commit-path
  * changes. */
private[graft] object ProbeStore {

  /** `commit [iters]`: replays the c07 (partitioned COW) and c12
    * (bucketed COW) lifecycles and the bench-top-5 lifecycle shape with a
    * timer around each store operation, so commit-machinery cost (write
    * + footer stats + snapshot/segment serialization) is separable from
    * the Spark job cost of the same stage; then isolates the tiny-append
    * floor and prints the StoreTiming phase report. */
  def commit(c: Ctx): Unit = {
    def phase[A](label: String)(f: => A): A = {
      val (r, s) = timed(f)
      println(f"  PHASE $label%-24s $s%.2f s")
      r
    }
    val base = SparkEntry.table(c.spark, c.sfDir, "orders")
    StoreTiming.enable()

    (1 to c.args.int("iters", 3)).foreach { it =>
      println(s"== c07 shape (partitioned COW), iter $it ==")
      val t = c.freshCatalog(s"commit_p$it", "lake").table("lake.orders_part")
      val part = base.select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
      phase("createOrReplace")(t.createOrReplace(part, partitionBy = Seq("o_year")))
      val source = part
        .filter(col("o_orderkey") % 50 === 1 && col("o_year") === "1995")
        .withColumn("o_orderstatus", lit("M"))
      phase("mergeInto")(t.mergeInto(source, Seq("o_orderkey")))
      phase("deleteWhereExists")(t.deleteWhereExists(
        part.filter(col("o_orderkey") % 50 === 2 && col("o_year") === "1995"),
        Seq("o_orderkey")))
      phase("read+order")(noop(t.read
        .select("o_orderkey", "o_orderstatus", "o_year").orderBy("o_orderkey")))

      println(s"== c12 shape (bucketed COW), iter $it ==")
      val tb = c.freshCatalog(s"commit_b$it", "lake").table("lake.orders_bucketed")
      val nb = base.select("o_orderkey", "o_orderstatus", "o_totalprice")
      phase("createOrReplace")(
        tb.createOrReplace(nb, bucketBy = Some(("o_orderkey", 16))))
      phase("mergeInto")(tb.mergeInto(
        nb.filter(col("o_orderkey") % 11 === 0).withColumn("o_orderstatus", lit("B")),
        Seq("o_orderkey")))
      phase("deleteWhereExists")(tb.deleteWhereExists(
        nb.filter(col("o_orderkey") % 13 === 0), Seq("o_orderkey")))
      phase("read+order")(noop(tb.read
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")))

      // The bench-top-5 shape (s18/c45/c33/c35): MANY SEQUENTIAL TINY
      // commits to one unpartitioned table — per-commit machinery, not
      // data volume, dominates these. 12 small appends + 2 MoR ops.
      println(s"== lifecycle shape (13 tiny sequential commits), iter $it ==")
      val tl = c.freshCatalog(s"commit_l$it", "lake").table("lake.orders_lifecycle")
      val tiny = base.select("o_orderkey", "o_orderstatus", "o_totalprice")
      phase("createOrReplace")(
        tl.createOrReplace(tiny.filter(col("o_orderkey") % 12 === 0)))
      phase("12 tiny appends")((1 to 11).foreach(i =>
        tl.append(tiny.filter(col("o_orderkey") % 12 === i))))
      phase("mergeIntoMoR")(tl.mergeIntoMoR(
        tiny.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderstatus", lit("Z")), Seq("o_orderkey")))
      phase("deleteWhereMoR")(tl.deleteWhereExistsMoR(
        tiny.filter(col("o_orderkey") % 103 === 0), Seq("o_orderkey")))
      phase("read+order")(noop(tl.read
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")))
    }

    // floor isolation: the same TINY cached batch appended through the
    // store vs written raw by Spark — the delta is the store's per-
    // commit overhead, the raw number is the Spark-job floor no store
    // change can shave
    println("== tiny-append floor (1k cached rows, 10 reps) ==")
    val tinyDf = c.cached(base.select("o_orderkey", "o_orderstatus", "o_totalprice").limit(1000))
    val tf = c.freshCatalog("commit_f", "lake").table("lake.floor_probe")
    tf.createOrReplace(tinyDf)
    phase("10 store appends")((1 to 10).foreach(_ => tf.append(tinyDf)))
    phase("10 raw spark writes")((1 to 10).foreach(i =>
      tinyDf.write.mode("overwrite").parquet(c.tmp(s"commit_f/raw_$i"))))

    // phase attribution across ALL iterations (commit.build-entries
    // CONTAINS the data.* phases it triggers — read as a tree)
    println("== StoreTiming phase report (all iters) ==")
    StoreTiming.report().foreach { case (phase, n, sec) =>
      println(f"  PHASE $phase%-24s calls=$n%-5d total=$sec%8.2f s  avg=${sec / n * 1000}%7.1f ms")
    }
  }

  /** `ladder`: volume ladder over the bench-top-5 lifecycle shape — the
    * SAME 13 sequential commits (createOrReplace + 11 appends + MoR
    * merge + MoR delete) at ×1 / ×10 / ×100 rows per commit. The 100 TB
    * claim under test is that lifecycle cost tracks COMMIT COUNT, not
    * data volume — per-commit machinery (job floor + snapshot/segment/
    * footer metadata) amortizes as each commit carries more rows, so
    * wall must grow far sublinearly across the two decades. Then the
    * c33/c45 shape on the same rungs: a Rollup REFRESHED AFTER EVERY
    * COMMIT (incremental maintenance folds the commit's delta, never
    * rescans the table) — refresh cost must track DELTA size, so the
    * maintained lifecycle should show the same sublinear slope. */
  def ladder(c: Ctx): Unit = {
    val base = SparkEntry.table(c.spark, c.sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // rungs by rows-per-commit: ~1.2k / ~12.5k / ~125k (x100 replicates
    // the sf0.1 orders table 10x with disjoint key offsets so the MoR
    // merge/delete keys keep the same selectivity at every rung)
    def source(mult: Int): DataFrame = mult match {
      case 1 => base.filter(col("o_orderkey") % 10 === 0)
      case 10 => base
      case _ => (0 until 10).map(i => base.withColumn("o_orderkey",
        col("o_orderkey") + lit(i.toLong * 100_000_000L))).reduce(_ unionByName _)
    }
    // commits split on a HASH of the key so every rung gets 12 equal
    // non-empty slices regardless of how the rung's source was sampled
    def slice(df: DataFrame, i: Int) =
      df.filter(pmod(hash(col("o_orderkey")), lit(12)) === i)
    def lifecycle(src: DataFrame, t: LakeTable, afterCommit: () => Unit): Unit = {
      t.createOrReplace(slice(src, 0)); afterCommit()
      (1 until 12).foreach { i => t.append(slice(src, i)); afterCommit() }
      t.mergeIntoMoR(src.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderstatus", lit("Z")), Seq("o_orderkey"))
      afterCommit()
      t.deleteWhereExistsMoR(src.filter(col("o_orderkey") % 103 === 0), Seq("o_orderkey"))
      afterCommit()
    }
    // absorb JIT/plan-compile warmup so rung x1 isn't first-run-inflated
    locally {
      val tw = c.freshCatalog("ladder_warm", "lake").table("lake.warm")
      val w = base.filter(col("o_orderkey") % 100 === 0)
      tw.createOrReplace(slice(w, 0))
      tw.append(slice(w, 1))
      tw.mergeIntoMoR(slice(w, 2).withColumn("o_orderstatus", lit("W")),
        Seq("o_orderkey"))
      tw.deleteWhereExistsMoR(slice(w, 3), Seq("o_orderkey"))
      noop(tw.read)
    }
    def rung(mult: Int)(body: (DataFrame, Long) => Double): Double = {
      val cached = source(mult).persist(StorageLevel.MEMORY_AND_DISK)
      try body(cached, cached.count()) finally cached.unpersist()
    }
    c.rungs("lifecycle", "rows/commit") { mult =>
      Seq("wall" -> rung(mult) { (cached, rows) =>
        val t = c.freshCatalog(s"ladder_x$mult", "lake").table("lake.orders_ladder")
        val (_, wall) = timed {
          lifecycle(cached, t, () => ())
          noop(t.read.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey"))
        }
        println(f"PROBE lifecycle ${"x" + mult}%-5s rows/commit ~${rows / 12}%-8d wall $wall%8.2f s")
        wall
      })
    }
    c.rungs("maintained", "rows/commit") { mult =>
      Seq("wall" -> rung(mult) { (cached, _) =>
        val cat = c.freshCatalog(s"rladder_x$mult", "lake")
        val t = cat.table("lake.orders_rladder")
        val dst = cat.table("lake.orders_rladder_rollup")
        val (_, wall) = timed {
          lifecycle(cached, t,
            () => Rollup.refresh(t, dst, Seq("o_orderstatus"), Seq("o_totalprice")))
          noop(dst.read.orderBy("o_orderstatus"))
        }
        println(f"PROBE maintained ${"x" + mult}%-5s wall $wall%8.2f s (14 refreshes)")
        wall
      })
    }
  }

  /** `stats [latencyMs]`: break-even measurement behind
    * `write.stats.distributed-min-files` — time the footer-stats harvest
    * of an N-file write both driver-side (the sequential fold the
    * unpartitioned write path uses) and as the one distributed job,
    * across file-count decades. Local-FS footer opens are ~ms, so the
    * local break-even UNDERSTATES the distributed win on an object store
    * (one round-trip per driver-side open); the default threshold is set
    * from this probe, biased high so streaming micro-commits never pay a
    * job launch.
    *
    * The optional `latencyMs` injects a measured sleep per footer open —
    * IN THE PROBE ONLY, production paths untouched — to model the
    * object-store round-trip (10–50 ms is a realistic S3 GET range): the
    * driver fold pays it N times sequentially, the distributed job pays
    * it once per file but overlapped across tasks, so the probe shows
    * where the crossover lands when opens are no longer ~ms. */
  def stats(c: Ctx): Unit = {
    val latencyMs = c.args.int("latencyMs", 0).toLong
    val spark = c.spark
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("amount", DoubleType)))
    val prunable = FooterHarvest.prunableCols(schema)
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(8, 32, 64, 128, 512, 1024).foreach { n =>
      val dir = c.tmp(s"stats_$n")
      c.wipe(dir)
      spark.range(n * 200L)
        .select(col("id"), concat(lit("s"), col("id") % 7).as("s"),
          (col("id") * 1.5).as("amount"))
        .repartition(n).write.parquet(dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      val files = p.getFileSystem(conf).listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
      def bestOf3(f: => Unit): Double = (1 to 3).map(_ => timed(f)._2).min
      val driver = bestOf3 {
        files.foldLeft(FooterHarvest.EmptyPartial) { (acc, f) =>
          if (latencyMs > 0) Thread.sleep(latencyMs)
          FooterHarvest.merge(prunable, acc, FooterHarvest.filePartial(f, conf, prunable))
        }
        ()
      }
      val dist = bestOf3 {
        if (latencyMs == 0) {
          FooterHarvest.distributed(spark, files.map("" -> _), schema)
        } else {
          // probe-local replica of FooterHarvest.distributed's job shape
          // (same slicing) with the per-open sleep inside the task — the
          // production method has no injection seam on purpose
          val bc = spark.sparkContext.broadcast(new FooterHarvest.SerializableConf(conf))
          // the PRODUCTION slicing formula, shared so the injected
          // latency models the real job shape (r21 ADVICE)
          val slices = FooterHarvest.sliceCount(spark.sparkContext.defaultParallelism, files.size)
          spark.sparkContext.parallelize(files, slices)
            .mapPartitions { it =>
              val hc = bc.value.value
              var acc = FooterHarvest.EmptyPartial
              it.foreach { f =>
                Thread.sleep(latencyMs)
                acc = FooterHarvest.merge(prunable, acc, FooterHarvest.filePartial(f, hc, prunable))
              }
              Iterator.single(acc)
            }
            .collect()
            .reduce(FooterHarvest.merge(prunable, _, _))
          bc.destroy()
        }
        ()
      }
      println(f"PROBE stats-harvest n=$n%-5d lat=${latencyMs}ms driver $driver%7.3f s  distributed $dist%7.3f s  ratio ${driver / dist}%5.2f")
      c.wipe(dir)
    }
  }

  /** `manifest [appends] [parts]` (defaults 50 x 2000 = 1e5 entries):
    * quantifies the driver-side manifest costs under the two-level
    * manifest tree (`LakeTable` scaladoc: snapshot JSON → immutable
    * segment files with cross-commit reuse). Grows a partitioned table
    * to `appends` x `parts` manifest entries through the PUBLIC API
    * (partitioned appends: one entry per partition per append), and at
    * checkpoints measures everything that scales with the manifest:
    *
    *  - append commit wall — with segment reuse this should stay
    *    O(batch), flat in table size (the pre-segment format re-wrote the
    *    whole manifest every commit: 24 MB per append at 1e5 entries);
    *  - commit metadata bytes: snapshot JSON size + NEW segment bytes
    *    this commit wrote (delta of the manifests dir);
    *  - snapshot load wall (segment parse, warm via the immutable cache);
    *  - planning wall: stats-pruning the full entry list for a selective
    *    predicate (driver CPU, O(entries) — the remaining driver bound);
    *  - pruned-read wall: executing the pruned scan (should track the
    *    surviving slice, not the manifest size).
    *
    * Then compacts (`rewriteDataFiles` collapses entries to one per
    * current partition) and re-measures — post-compaction everything
    * returns to the small-table regime, the same `rewrite_manifests`
    * cadence real Iceberg operates on. */
  def manifest(c: Ctx): Unit = {
    val appends = c.args.int("appends", 50)
    val parts = c.args.int("parts", 2000)
    val cat = c.freshCatalog("manifest")
    val t = cat.table("probe.wide")

    def batch(i: Int) = c.spark.range(parts).select(
      col("id").as("p"),
      lit(i.toLong).as("v"),
      (col("id") * i).as("payload"))

    val hfs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(c.spark.sparkContext.hadoopConfiguration)

    def metaBytes(): Long =
      hfs.getFileStatus(t.log.versionFile(t.currentSnapshot.get.version)).getLen

    // total bytes of segment files on disk — the delta across a commit
    // is the metadata that commit actually WROTE (reuse writes nothing)
    def segBytes(): Long =
      if (!hfs.exists(t.log.segmentDir)) 0L
      else hfs.listStatus(t.log.segmentDir).map(_.getLen).sum

    def measure(label: String, appendSecs: Double, committedBytes: Long): Unit = {
      val s = t.currentSnapshot.get
      val (_, loadS) = timed(t.snapshot(s.version))
      // planning: stats-prune the WHOLE entry list for one append's slice
      val (pruned, pruneS) = timed(t.prunedEntries(s, col("v") === lit(1L)))
      val (_, readS) = timed(noop(t.readWhere(col("v") === lit(1L))))
      println(f"MANIFEST $label%-16s entries=${s.entries.size}%7d " +
        f"append=${appendSecs}%6.2fs load=${loadS}%6.3fs " +
        f"prune=${pruneS}%6.3fs (survivors=${pruned.size}) " +
        f"pruned_read=${readS}%6.2fs snap=${metaBytes() / 1024}%5d KiB " +
        f"commit_meta=${committedBytes / 1024}%7d KiB")
    }

    val (_, t0s) = timed(t.createOrReplace(batch(0), partitionBy = Seq("p")))
    measure("n=1", t0s, metaBytes() + segBytes())
    val checkpoints = Set(1, appends / 10, appends / 3, 2 * appends / 3, appends - 1)
    (1 until appends).foreach { i =>
      val segBefore = segBytes()
      val (_, s) = timed(t.append(batch(i)))
      if (checkpoints(i)) measure(s"n=${i + 1}", s, metaBytes() + (segBytes() - segBefore))
    }

    // compaction collapses entries to one per CURRENT partition — the
    // rewrite_manifests-cadence reset the ceiling is documented against
    val ((removed, added), compactS) = timed(t.rewriteDataFiles())
    println(f"MANIFEST compact          rewrote=$removed -> $added entries in ${compactS}%6.2fs")
    val segBefore = segBytes()
    val (_, postAppendS) = timed(t.append(batch(appends)))
    measure("post-compact", postAppendS, metaBytes() + (segBytes() - segBefore))
    val (n, expireS) = timed(t.expireSnapshots(keepLast = 1))
    println(f"MANIFEST expire           dropped=$n snapshots in ${expireS}%6.2fs")
    measure("post-expire", 0.0, 0L)
    cat.dropTable("probe.wide") // ~1e5 tiny dirs — don't leave them behind
  }
}
