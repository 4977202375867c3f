package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Model-based testing of the table store: random (seeded, reproducible)
  * sequences of append / COW merge / MoR merge / COW delete / MoR
  * delete / key-range UPDATE (both modes) / bin-pack compaction /
  * position-delete fold / rollback / partition-spec EVOLUTION run
  * against both a LakeTable and a trivial in-memory map, and the table
  * read must equal the model after EVERY step. One sequence exercises
  * interleavings no hand-written spec enumerates — MoR delete files
  * surviving a COW rewrite, rollback restoring outstanding deletes,
  * compaction folding under later appends, merges and deletes reaching
  * across mixed partition layouts mid-evolution, and so on. */
class StoreModelSpec extends SparkSpec {

  private type Row3 = (Long, (String, Double))

  // qty is ALWAYS built as int and derived from id — the narrow column
  // the type-promotion op widens mid-sequence; the model never tracks
  // it (its value is a function of id) but the read-back must serve it
  // across int32/int64 file generations
  private def df(rows: Seq[Row3]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, (st, amt)) => (id, st, amt) }.toDF("id", "status", "amount")
      .withColumn("qty", (col("id") % 100).cast("int"))
  }

  private def pick(rnd: scala.util.Random, from: Seq[Long], n: Int): Seq[Long] =
    rnd.shuffle(from).take(n)

  test("random op sequences agree with the in-memory model") {
    // each seed runs under a different table config so every op
    // interleaving also exercises the bloom-sidecar and ingest-sort
    // write paths (and every per-step read crosses their read paths)
    runSequence(11L, Map.empty)
    runSequence(42L, Map(
      "write.bloom.columns" -> "id,status",
      "write.bloom.expected-items" -> "10000"))
    runSequence(20260813L, Map(
      "write.bloom.columns" -> "id",
      "write.sort-order" -> "id"))
  }

  test("local and distributed frames land the same tables, files, stats and sidecars") {
    // the same steps on two tables: one fed frames whose rows the driver
    // holds (written there), one fed the same rows through a Spark
    // partition (a Spark write); every step must leave them equal
    import org.apache.spark.sql.StoreWrite
    def bytes(t: LakeTable, e: ManifestEntry, c: String): Seq[Byte] =
      Files.readAllBytes(java.nio.file.Paths.get(
        s"${t.location}/blooms/${e.dir}/${e.partition.fold("")(_ + "/")}$c.bloom")).toSeq
    // a copy-on-write step writes a join of the source and the table
    // through Spark on both sides, in as many files as the join's
    // partitions, which follow the source's shape: its leaves compare,
    // not its file counts
    def layout(t: LakeTable, fileCounts: Boolean) = {
      val s = t.currentSnapshot.get
      val files = t.filesDF.select("partition", "content").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
      (s.entries.map(e => (e.partition, e.stats, e.blooms, e.blooms.map(bytes(t, e, _)))),
        s.deleteEntries.map(e => (e.partition, e.stats)),
        if (fileCounts) files else files.distinct)
    }
    // amounts as strings: NaN equals NaN, -0.0 differs from 0.0
    def contents(t: LakeTable) = t.read.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2).toString, r.get(3).toString.toLong))
      .toSeq.sorted

    val bloomed = Map("write.bloom.columns" -> "id,status", "write.bloom.expected-items" -> "1000")
    Seq[(String, Option[(String, Int)])]("unpartitioned" -> None, "bucketed" -> Some("id" -> 4))
      .foreach { case (name, bucketBy) =>
        val cat = new LakeCatalog(spark, Files.createTempDirectory(s"store-paths-$name").toString)
        val tables = Seq(true, false).map(local => local -> cat.table(s"db.${name}_$local"))
        def frame(local: Boolean, rows: Seq[Row3]) = if (local) df(rows) else df(rows).coalesce(1)
        val rows0 = (1L to 40L).map(i => i -> ((s"v$i", i * 1.0)))
        val steps: Seq[(String, (LakeTable, Boolean) => Any)] = Seq(
          "create" -> ((t, l) =>
            t.createOrReplace(frame(l, rows0), tableProperties = bloomed, bucketBy = bucketBy)),
          "append" -> ((t, l) =>
            t.append(frame(l, (100L to 103L).map(i => i -> ((s"a$i", -0.0)))))),
          "mor-merge" -> ((t, l) => t.mergeIntoMoR(frame(l,
            Seq(3L, 5L, 40L, 101L).map(i => i -> (("m", Double.NaN))) :+ (200L -> (("n", 2.5)))),
            Seq("id"))),
          "mor-delete" -> ((t, l) => t.deleteWhereExistsMoR(
            frame(l, Seq(7L, 7L, 8L, 102L).map(i => i -> (("", 0.0)))).select("id"), Seq("id"))),
          "cow-merge" -> ((t, l) => t.mergeInto(frame(l,
            Seq(9L, 300L).map(i => i -> (("c", 1.0)))), Seq("id"))),
          "cow-delete" -> ((t, l) => t.deleteWhereExists(
            frame(l, Seq(10L, 11L).map(i => i -> (("", 0.0)))).select("id"), Seq("id"))))
        steps.foreach { case (op, step) =>
          val writes = tables.map { case (local, t) =>
            val w0 = StoreWrite.localWrites.get()
            step(t, local)
            StoreWrite.localWrites.get() - w0
          }
          withClue(s"$name $op: ") {
            // the distributed side never writes on the driver; the local
            // side does wherever the written frame is the caller's own
            writes(1) shouldBe 0L
            if (!op.startsWith("cow")) writes(0) should be > 0L
            val Seq(l, d) = tables.map(_._2)
            contents(l) shouldBe contents(d)
            layout(l, !op.startsWith("cow")) shouldBe layout(d, !op.startsWith("cow"))
          }
        }
      }
  }

  private def runSequence(seed: Long, props: Map[String, String]): Unit = {
    val rnd = new scala.util.Random(seed)
    val cat = new LakeCatalog(spark,
      Files.createTempDirectory(s"store-model-$seed").toString)
    val t = cat.table(s"db.m$seed")

    var model: Map[Long, (String, Double)] =
      (1L to 40L).map(i => i -> (s"v$i", i * 1.0)).toMap
    t.createOrReplace(df(model.toSeq), tableProperties = props)
    var history = Map(t.currentSnapshot.get.version -> model)
    var nextId = 1000L
    var lastOp = "create"
    // every id the table ever held: each step looks up one live key
    // and two of these, live or deleted; probes draw from their own
    // generator so the op sequence each seed drives stays the same
    var seen = model.keySet
    val probeRnd = new scala.util.Random(seed + 1)

    def freshRows(n: Int, tag: String): Seq[Row3] = {
      val rows = (0 until n).map { k =>
        val id = nextId + k; id -> ((s"$tag$id", id * 0.5))
      }
      nextId += n
      rows
    }

    for (step <- 1 to 12) {
      rnd.nextInt(12) match {
        case 0 =>
          lastOp = "append"
          val rows = freshRows(4, "a")
          t.append(df(rows)); model ++= rows
        case 1 =>
          lastOp = "cow-merge"
          val upd = pick(rnd, model.keys.toSeq.sorted, 6)
            .map(id => id -> ((s"m$step", step * 2.0)))
          val rows = upd ++ freshRows(2, "n")
          t.mergeInto(df(rows), Seq("id")); model ++= rows
        case 2 =>
          lastOp = "mor-merge"
          val upd = pick(rnd, model.keys.toSeq.sorted, 6)
            .map(id => id -> ((s"r$step", step * 3.0)))
          val rows = upd ++ freshRows(2, "q")
          t.mergeIntoMoR(df(rows), Seq("id")); model ++= rows
        case 3 =>
          lastOp = "cow-delete"
          val ids = pick(rnd, model.keys.toSeq.sorted, 4)
          t.deleteWhereExists(df(ids.map(i => i -> (("", 0.0)))).select("id"), Seq("id"))
          model --= ids
        case 4 =>
          lastOp = "mor-delete"
          val ids = pick(rnd, model.keys.toSeq.sorted, 4)
          t.deleteWhereExistsMoR(df(ids.map(i => i -> (("", 0.0)))).select("id"), Seq("id"))
          model --= ids
        case 5 =>
          lastOp = "rewrite-data-files"
          t.rewriteDataFiles(targetFileBytes = 64 * 1024)
        case 6 =>
          lastOp = "fold-deletes"
          t.rewritePositionDeleteFiles()
        case 7 =>
          lastOp = "rollback"
          val target = history.keys.toSeq.sorted
            .apply(rnd.nextInt(history.size))
          t.rollbackTo(target)
          model = history(target)
        case 8 =>
          // RTAS mid-sequence — replace semantics must drop outstanding
          // MoR deletes (the round-5 regression) and reset the state
          lastOp = "create-or-replace"
          val rows = freshRows(5, "rt")
          t.createOrReplace(df(rows), tableProperties = props); model = rows.toMap
        case 9 =>
          // key-range UPDATE: MoR mode when delete keys are fixed (a
          // prior MoR op ran), COW otherwise — assignments read the OLD
          // row, updates compose with outstanding deletes/rollbacks
          val keys = model.keys.toSeq.sorted
          val cutoff = if (keys.isEmpty) 0L else keys(rnd.nextInt(keys.size))
          val set = Map(
            "status" -> lit(s"u$step").cast("string"),
            "amount" -> (col("amount") + lit(1.0)))
          val useMor =
            t.properties.contains(LakeTable.MorKeysProp) && rnd.nextBoolean()
          lastOp = if (useMor) "update-mor" else "update-cow"
          if (useMor) t.updateWhereMoR(col("id") <= lit(cutoff), set)
          else t.updateWhere(col("id") <= lit(cutoff), set)
          model = model.map { case (id, (st, amt)) =>
            if (id <= cutoff) id -> ((s"u$step", amt + 1.0))
            else id -> ((st, amt))
          }
        case 10 =>
          // partition-spec evolution mid-sequence: metadata-only, reads
          // and every later rewrite must stay correct across the mixed
          // layouts it leaves behind (model sees NO change)
          lastOp = "evolve-spec"
          val next = t.currentSnapshot.get.partitionCols match {
            case Seq("status") => Seq.empty[String]
            case _ => Seq("status")
          }
          t.updatePartitionSpec(next)
        case 11 =>
          // TYPE promotion mid-sequence: metadata-only widening
          // (qty int→long); legacy int32 files must read back as long
          // and every later writer conforms to the widened schema
          // (model sees NO change; RTAS resets the schema to int)
          lastOp = "promote-type"
          t.alterColumnType("qty", org.apache.spark.sql.types.LongType)
      }
      history += t.currentSnapshot.get.version -> model
      // MULTISET comparison (sorted rows, not .toMap): duplicate-id
      // rows — the failure mode of layout/prune bugs — must fail the
      // step, not be masked by last-write-wins map collapse
      val got = t.read.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.get(3).toString.toLong))
        .toSeq.sorted
      val want = model.toSeq
        .map { case (id, (st, amt)) => (id, st, amt, id % 100) }.sorted
      withClue(s"seed=$seed step=$step op=$lastOp: ") {
        got shouldBe want
      }
      // point lookups drive the stats/bloom/partition prune path and
      // the delete-key mask under every op interleaving: a live key
      // must come back exactly once with the model's row, a deleted or
      // never-inserted key exactly never (an unsound prune, a stale
      // sidecar or a wrong mask fails here, not just in
      // BloomSkippingSpec or MergeOnReadSpec)
      seen ++= model.keySet
      val probes = pick(probeRnd, model.keys.toSeq.sorted, 1) ++
        pick(probeRnd, seen.toSeq.sorted, 2)
      probes.foreach { probeId =>
        withClue(s"seed=$seed step=$step op=$lastOp probe=$probeId: ") {
          t.readWhere(col("id") === lit(probeId)).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.get(3).toString.toLong))
            .toSeq shouldBe model.get(probeId).map { case (st, amt) =>
              (probeId, st, amt, probeId % 100) }.toSeq
        }
      }
      withClue(s"seed=$seed step=$step op=$lastOp miss-probe: ") {
        t.readWhere(col("id") === lit(999999999L)).count() shouldBe 0L
      }
    }
  }
}
