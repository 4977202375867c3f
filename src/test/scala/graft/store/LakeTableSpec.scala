package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class LakeTableSpec extends SparkSpec {

  private def freshCatalog(): LakeCatalog = {
    val wh = Files.createTempDirectory("lake-test").toString
    new LakeCatalog(spark, wh)
  }

  private def df(rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "status", "amount")
  }

  test("createOrReplace + read round-trip with default properties") {
    val cat = freshCatalog()
    cat.createDatabase("db")
    val t = cat.table("db.orders")
    t.exists shouldBe false
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.exists shouldBe true
    cat.tableExists("db.orders") shouldBe true
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    t.properties("format-version") shouldBe "2"
    t.properties("write.spark.accept-any-schema") shouldBe "false"
  }

  test("append leaves existing data dirs untouched") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    val v1 = t.currentSnapshot.get
    t.append(df(Seq((2L, "b", 2.0))))
    val v2 = t.currentSnapshot.get
    v2.version shouldBe v1.version + 1
    v2.entries.map(_.dir) should contain allElementsOf v1.entries.map(_.dir)
    t.read.count() shouldBe 2
  }

  test("changes: appended rows only, rewrite snapshots skipped") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))).version
    t.append(df(Seq((3L, "c", 3.0))))
    t.mergeInto(df(Seq((1L, "A", 10.0))), Seq("id")) // rewrite: skipped
    val v4 = t.append(df(Seq((4L, "d", 4.0)))).version
    t.deleteWhereExists(df(Seq((2L, "x", 0.0))).select("id"), Seq("id"))
    val inc = t.changes(v1).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    inc shouldBe Seq((3L, "c"), (4L, "d")) // merged/deleted rows absent
    // bounded range and empty range
    t.changes(v1, Some(v4)).count() shouldBe 2
    t.changes(t.currentSnapshot.get.version).count() shouldBe 0
    t.changes(v4).count() shouldBe 0 // only the delete rewrite follows v4
  }

  test("changes: cherry-picked rows surface as an append (audited append-only import)") {
    val t = freshCatalog().table("db.t_cp")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0)))).version
    t.createBranch("wap")
    t.branch("wap").append(df(Seq((2L, "b", 2.0))))
    t.cherryPick("wap")
    // the picked rows are incremental output — skipping the cherry-pick
    // snapshot would silently lose them from every incremental consumer
    t.changes(v1).orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("changes: evolved columns null-backfilled to the latest schema") {
    import spark.implicits._
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0)))).version
    t.append(df(Seq((2L, "b", 2.0))))
    t.appendEvolve(Seq((3L, "c", 3.0, "extra")).toDF("id", "status", "amount", "note"))
    val inc = t.changes(v1).orderBy("id").collect()
    inc.map(_.getLong(0)).toSeq shouldBe Seq(2L, 3L)
    inc.map(r => Option(r.getString(3))).toSeq shouldBe Seq(None, Some("extra"))
  }

  test("mergeInto: source rows win, unmatched inserted, rest survive") {
    val t = freshCatalog().table("db.t")
    // pin the at-scale prune dispatch: disable the tiny-table rewrite
    // short-circuit that would otherwise skip it on a 3-row fixture
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))),
      tableProperties = Map(LakeTable.TinyRewriteMaxBytesProp -> "0"))
    t.mergeInto(df(Seq((2L, "B", 20.0), (4L, "d", 4.0))), Seq("id"))
    val out = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    out shouldBe Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
    // unpartitioned ⇒ the zero-extra-scan key-range tier (no layout a
    // matched row could move across, so no matches scan is needed)
    t.currentSnapshot.get.summary("prune-mode") shouldBe "key-range"
  }

  test("tiny-table rewrites skip the prune dispatch, stay correct, and the gate is size-bounded") {
    val t = freshCatalog().table("db.tiny")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.mergeInto(df(Seq((2L, "B", 20.0), (4L, "d", 4.0))), Seq("id"))
    // default gate: few entries + few bytes ⇒ no prune probe actions
    t.currentSnapshot.get.summary("prune-mode") shouldBe "tiny"
    t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
    // the gate is BYTE-bounded, not just entry-count-bounded: a table
    // whose few entries exceed the cap (forced tiny cap here — the
    // compacted-100 TB-table shape) must take the real dispatch
    t.setProperties(Map(LakeTable.TinyRewriteMaxBytesProp -> "1"))
    t.deleteWhereExists(df(Seq((4L, "x", 0.0))).select("id"), Seq("id"))
    t.currentSnapshot.get.summary("prune-mode") should not be "tiny"
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    // a typo'd property value must degrade to the default, not turn
    // every subsequent write on the table into a hard parse outage
    t.setProperties(Map(LakeTable.TinyRewriteMaxBytesProp -> "64MB"))
    noException should be thrownBy
      t.mergeInto(df(Seq((1L, "A", 10.0))), Seq("id"))
    t.currentSnapshot.get.summary("prune-mode") shouldBe "tiny"
    t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "A"), (2L, "B"), (3L, "c"))
  }

  test("matching rewrites bloom-refine hash-mixed candidates (the retraction shape)") {
    val t = freshCatalog().table("db.bl")
    // 8 interleaved slices (ids ≡ i mod 16, i < 8): every entry spans
    // ~the full id range, so the key-RANGE prune keeps all of them —
    // the post-compaction shape where only the per-file blooms know
    // which files hold a key. Residues 8–15 exist in NO slice, giving
    // in-range keys the table provably never held.
    def slice(i: Long): DataFrame = spark.range(1000).select(
      (col("id") * 16 + i).as("id"), lit("x").as("status"), lit(1.0).as("amount"))
    t.createOrReplace(slice(0), tableProperties = Map(
      "write.bloom.columns" -> "id",
      LakeTable.TinyRewriteMaxBytesProp -> "0"))
    (1L until 8L).foreach(i => t.append(slice(i)))
    // 4242 % 16 == 2: exactly one slice holds it
    val snap = t.deleteWhereExists(
      spark.range(4242, 4243).select(col("id")), Seq("id"))
    snap.summary("prune-mode") shouldBe "key-range"
    snap.summary("rewritten-entries").toInt shouldBe 1
    t.read.filter(col("id") === 4242L).count() shouldBe 0
    t.read.count() shouldBe 7999
    // an in-range key the table never held (4249 % 16 == 9): blooms
    // prove absence in EVERY file — nothing is rewritten at all
    val snap2 = t.deleteWhereExists(
      spark.range(4249, 4250).select(col("id")), Seq("id"))
    snap2.summary("rewritten-entries").toInt shouldBe 0
    t.read.count() shouldBe 7999
    // a null source key `<=>`-matches null-keyed target rows, which no
    // bloom can witness — the refinement must stand down (conservative
    // keep), and the delete must still be correct
    val withNull = spark.range(16, 17).select(col("id"))
      .unionByName(spark.range(1).select(lit(null).cast("long").as("id")))
    val snap3 = t.deleteWhereExists(withNull, Seq("id"))
    snap3.summary("rewritten-entries").toInt shouldBe 8
    t.read.filter(col("id") === 16L).count() shouldBe 0
    t.read.count() shouldBe 7998
  }

  test("deleteWhereExists removes matching keys only") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.deleteWhereExists(df(Seq((2L, "x", 0.0))).select("id"), Seq("id"))
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L)
  }

  test("deleteWhere predicate COW") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.deleteWhere(col("amount") > 1.5)
    t.read.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }

  test("partitioned merge rewrites only touched partitions") {
    import spark.implicits._
    val t = freshCatalog().table("db.p")
    val base = Seq((1L, "2020-01-01", 1.0), (2L, "2020-01-02", 2.0),
      (3L, "2020-01-03", 3.0)).toDF("id", "day", "v")
    t.createOrReplace(base, partitionBy = Seq("day"),
      tableProperties = Map(LakeTable.TinyRewriteMaxBytesProp -> "0"))
    val v1 = t.currentSnapshot.get
    v1.entries.size shouldBe 3

    // merge touches only day=2020-01-02
    t.mergeInto(Seq((2L, "2020-01-02", 20.0), (4L, "2020-01-02", 4.0))
      .toDF("id", "day", "v"), Seq("id"))
    val v2 = t.currentSnapshot.get
    v2.summary("rewritten-entries") shouldBe "1"
    v2.summary("untouched-entries") shouldBe "2"
    // untouched partitions still reference the ORIGINAL data dirs
    val untouchedDirs = v2.entries.filter(e => !e.partition.exists(_.contains("2020-01-02"))).map(_.dir).toSet
    untouchedDirs shouldBe v1.entries.filter(e => !e.partition.exists(_.contains("2020-01-02"))).map(_.dir).toSet

    val out = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    out shouldBe Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 4.0))
  }

  test("a MERGE that moves a row across partitions leaves no stale copy") {
    import spark.implicits._
    // partition col NOT among the merge keys ⇒ a source row may change
    // a matched row's partition value. A layout-value prune would leave
    // the old copy in its untouched partition (duplicate key) — the
    // matches scan must find and rewrite it.
    val t = freshCatalog().table("db.mv")
    t.createOrReplace(Seq((1L, "eu", 1.0), (2L, "us", 2.0))
      .toDF("id", "region", "v"), partitionBy = Seq("region"),
      tableProperties = Map(LakeTable.TinyRewriteMaxBytesProp -> "0"))
    t.mergeInto(Seq((1L, "us", 9.0)).toDF("id", "region", "v"), Seq("id"))
    val rows = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    rows shouldBe Seq((1L, "us", 9.0), (2L, "us", 2.0)) // id=1 ONCE, moved
    t.currentSnapshot.get.summary("prune-mode") shouldBe "matches-scan"
    // and a DELETE keyed on id reaches the row wherever it lives now
    t.deleteWhereExists(Seq((1L, "zz", 0.0)).toDF("id", "region", "v"), Seq("id"))
    t.read.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("matches scan survives partition values that need URI encoding") {
    import spark.implicits._
    // input_file_name() percent-encodes paths ('ON HOLD' → ON%20HOLD,
    // the '%' of a Hive-escaped value doubly so); the scan must still
    // map matched files back to their manifest entries — a miss here
    // silently turns a MERGE into insert-next-to-stale-duplicate
    val t = freshCatalog().table("db.enc")
    t.createOrReplace(
      Seq((1L, "ON HOLD", 1.0), (2L, "50%", 2.0), (3L, "ok", 3.0))
        .toDF("id", "state", "v"),
      partitionBy = Seq("state"))
    t.mergeInto(Seq((1L, "ON HOLD", 10.0), (2L, "50%", 20.0))
      .toDF("id", "state", "v"), Seq("id"))
    t.read.count() shouldBe 3 // no stale duplicates
    t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq shouldBe
      Seq((1L, 10.0), (2L, 20.0), (3L, 3.0))
    t.deleteWhereExists(Seq((2L, "x", 0.0)).toDF("id", "state", "v"), Seq("id"))
    t.read.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 3L)
  }

  test("matches scan is immune to a /data/ segment inside the table location") {
    import spark.implicits._
    // the leaf-dir extraction must anchor on the TABLE's data root, not
    // the first '/data/' occurrence in the absolute path
    val root = Files.createTempDirectory("enc-loc").resolve("data").resolve("wh")
    Files.createDirectories(root)
    val t = new LakeCatalog(spark, root.toString).table("db.t")
    t.createOrReplace(Seq((1L, "eu", 1.0), (2L, "us", 2.0))
      .toDF("id", "region", "v"), partitionBy = Seq("region"))
    t.mergeInto(Seq((1L, "eu", 9.0)).toDF("id", "region", "v"), Seq("id"))
    t.read.count() shouldBe 2 // no stale duplicate of id=1
    t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq shouldBe
      Seq((1L, 9.0), (2L, 2.0))
  }

  test("partitioned delete prunes partitions too") {
    import spark.implicits._
    val t = freshCatalog().table("db.pd")
    t.createOrReplace(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "grp"),
      partitionBy = Seq("grp"),
      tableProperties = Map(LakeTable.TinyRewriteMaxBytesProp -> "0"))
    t.deleteWhereExists(Seq((3L, "a")).toDF("id", "grp"), Seq("id"))
    val v = t.currentSnapshot.get
    v.summary("rewritten-entries") shouldBe "1"
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
  }

  test("history and snapshots metadata tables") {
    val t = freshCatalog().table("db.h")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.append(df(Seq((2L, "b", 2.0))))
    t.mergeInto(df(Seq((1L, "A", 10.0))), Seq("id"))
    val h = t.history.orderBy("version").collect()
    h.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    h.last.getBoolean(3) shouldBe true
    t.snapshotsDF.orderBy("version").collect().map(_.getString(2)).toSeq shouldBe
      Seq("create-or-replace", "append", "merge")
  }

  test("expireSnapshots keeps newest and drops unreferenced data") {
    val t = freshCatalog().table("db.e")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.mergeInto(df(Seq((1L, "B", 2.0))), Seq("id")) // full rewrite → v1 dir orphaned
    t.expireSnapshots(keepLast = 1) shouldBe 1
    t.history.count() shouldBe 1
    t.read.head.getString(1) shouldBe "B"
  }

  test("rewriteDataFiles compacts many small files") {
    val t = freshCatalog().table("db.c")
    t.createOrReplace(df(Seq((1L, "a", 1.0))).repartition(8))
    val (rewritten, added) = t.rewriteDataFiles()
    rewritten should be >= 2
    added should be < rewritten
    t.read.count() shouldBe 1
  }

  test("rewriteSortedDataFiles clusters entries so range predicates prune") {
    import spark.implicits._
    val t = freshCatalog().table("db.sorted")
    // ids deliberately interleaved across appends: every append entry
    // spans (almost) the full id range, so value pruning is useless
    val all = (0L until 400L)
    t.createOrReplace(all.filter(_ % 4 == 0).map(i => (i, s"s$i")).toDF("id", "v"))
    (1 to 3).foreach(r =>
      t.append(all.filter(_ % 4 == r).map(i => (i, s"s$i")).toDF("id", "v")))
    val preSnap = t.currentSnapshot.get
    val cond = col("id").between(100, 120)
    // before: every entry overlaps [100, 120]
    t.prunedEntries(preSnap, cond).size shouldBe preSnap.entries.size
    t.prunedEntries(preSnap, cond).size should be >= 4
    val (before, after) = t.rewriteSortedDataFiles(Seq("id"), targetFileBytes = 2048)
    before should be >= 4
    after should be >= 3 // small target bytes forces multiple slices
    val postSnap = t.currentSnapshot.get
    postSnap.summary("sort-order") shouldBe "id"
    // after: the clustered entries have near-disjoint ranges — the
    // range predicate plans strictly fewer entries than exist
    val surviving = t.prunedEntries(postSnap, cond)
    surviving.size should be < postSnap.entries.size
    // correctness unchanged: same rows, filtered read exact
    t.read.count() shouldBe 400
    t.readWhere(cond).orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe
      (100L to 120L)
  }

  test("rewriteZOrderedDataFiles: range predicates on EVERY z column prune") {
    import spark.implicits._
    def grid(): org.apache.spark.sql.DataFrame =
      (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, x * 64 + y))
        .toDF("x", "y", "payload")
    // linear sort on x: y-range predicates prune nothing (each x-slice
    // spans the full y range)
    val lin = freshCatalog().table("db.linear")
    lin.createOrReplace(grid())
    lin.rewriteSortedDataFiles(Seq("x"), targetFileBytes = 4 * 1024)
    val linSnap = lin.currentSnapshot.get
    val yCond = col("y").between(0, 7)
    linSnap.entries.size should be >= 4
    lin.prunedEntries(linSnap, yCond).size shouldBe linSnap.entries.size
    // z-order on (x, y): BOTH dimensions prune
    val zt = freshCatalog().table("db.zorder")
    zt.createOrReplace(grid())
    zt.rewriteZOrderedDataFiles(Seq("x", "y"), targetFileBytes = 4 * 1024)
    val zSnap = zt.currentSnapshot.get
    zSnap.summary("zorder-by") shouldBe "x,y"
    zSnap.entries.size should be >= 4
    zt.prunedEntries(zSnap, col("x").between(0, 7)).size should be <
      zSnap.entries.size
    zt.prunedEntries(zSnap, yCond).size should be < zSnap.entries.size
    // correctness unchanged under the curve rewrite
    zt.read.count() shouldBe 64 * 64
    zt.readWhere(col("x") === 3 && col("y") === 5)
      .collect().map(_.getLong(2)).toSeq shouldBe Seq(3 * 64 + 5)
  }

  test("z-order readWhere equals the plain filter on randomized boxes") {
    import spark.implicits._
    val zt = freshCatalog().table("db.zrand")
    val rows = (for (x <- 0L until 48L; y <- 0L until 48L) yield (x, y, x * 48 + y))
    zt.createOrReplace(rows.toDF("x", "y", "payload"))
    zt.rewriteZOrderedDataFiles(Seq("x", "y"), targetFileBytes = 4 * 1024)
    val snap = zt.currentSnapshot.get
    val rnd = new scala.util.Random(42)
    (1 to 12).foreach { _ =>
      val (x0, y0) = (rnd.nextInt(48), rnd.nextInt(48))
      val (x1, y1) = (x0 + rnd.nextInt(48 - x0), y0 + rnd.nextInt(48 - y0))
      val cond = col("x").between(x0, x1) && col("y").between(y0, y1)
      val got = zt.readWhere(cond).select("payload")
        .collect().map(_.getLong(0)).sorted
      val want = rows.filter { case (x, y, _) =>
        x >= x0 && x <= x1 && y >= y0 && y <= y1 }.map(_._3).sorted
      got.toSeq shouldBe want
      // pruning is sound AND (for small boxes) actually engages
      val planned = zt.prunedEntries(snap, cond).size
      planned should be <= snap.entries.size
      if (x1 - x0 <= 8 && y1 - y0 <= 8) planned should be < snap.entries.size
    }
  }

  test("removeOrphanFiles deletes unreferenced dirs past the age threshold") {
    val t = freshCatalog().table("db.o")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.overwrite(df(Seq((2L, "b", 2.0))))
    t.expireSnapshots(keepLast = 1)
    // v1's dir is already dropped by expire; write another overwrite and
    // orphan it by expiring again, then reap with a future threshold
    t.overwrite(df(Seq((3L, "c", 3.0))))
    val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    removed shouldBe 0 // all dirs still referenced by retained snapshots
    t.expireSnapshots(keepLast = 1)
    t.read.head.getLong(0) shouldBe 3L
  }

  test("concurrent appends from independent table instances all commit") {
    val cat = freshCatalog()
    cat.table("db.cc").createOrReplace(df(Seq((0L, "base", 0.0))))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try cat.table("db.cc").append(df(Seq((i.toLong, s"t$i", i.toDouble))))
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    failures.forEach(_.printStackTrace())
    failures.isEmpty shouldBe true
    val t = cat.table("db.cc")
    t.read.count() shouldBe 5
    t.currentSnapshot.get.version shouldBe 5L
    // every appended row survived every race
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe (0L to 4L)
  }

  test("concurrent appends commit one at a time per table: none needs a retry") {
    // no retries allowed: an append that lost a claim would throw
    // CommitConflictException, so every append landing proves the
    // handles' commits were serialized in this JVM
    val cat = freshCatalog()
    cat.table("db.cl").createOrReplace(df(Seq((0L, "base", 0.0))),
      tableProperties = Map("commit.retry.num-retries" -> "0"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val go = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        go.await()
        (1 to 5).foreach { j =>
          val id = i * 10L + j
          try cat.table("db.cl").append(df(Seq((id, s"t$i", id.toDouble))))
          catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    failures.forEach(_.printStackTrace())
    failures.isEmpty shouldBe true
    val t = cat.table("db.cl")
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe
      (0L +: (for (i <- 1 to 4; j <- 1 to 5) yield i * 10L + j))
    // versions are contiguous, each the child of the one before
    t.currentSnapshot.get.version shouldBe 21L
    (2L to 21L).map(t.snapshot(_).parentVersion) shouldBe (1L to 20L).map(Some(_))
  }

  test("contended rewrites: losers surface CommitConflictException, no winner is lost") {
    // mergeInto is a rewriting commit, so a lost race must NOT retry
    // blindly (a racer may have changed rows the rewrite already read) —
    // the loser surfaces CommitConflictException and the caller decides.
    // Invariants under contention: every thread either lands or throws
    // the documented conflict (never corruption), history stays a linear
    // chain with one version per winner, and every WINNER's update is
    // visible in the final state — no lost updates, no phantom losers.
    val cat = freshCatalog()
    cat.table("db.race").createOrReplace(df((1L to 8L).map(i => (i, "base", 0.0))))
    val wins = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val losses = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          cat.table("db.race")
            .mergeInto(df(Seq((i.toLong, s"w$i", i.toDouble))), Seq("id"))
          wins.add(i.toLong)
        } catch { case e: Throwable => losses.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    losses.asScala.foreach(_ shouldBe a[CommitConflictException])
    val won = wins.asScala.toSet
    won should not be empty // somebody always lands
    val t = cat.table("db.race")
    t.currentSnapshot.get.version shouldBe 1L + won.size
    val state = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    state shouldBe (1L to 8L).map(i =>
      if (won(i)) (i, s"w$i", i.toDouble) else (i, "base", 0.0))
  }

  test("snapshot isolation: a read planned before a commit returns the old state after it") {
    // the DataFrame pins the snapshot's entry list at planning time, so
    // a concurrent COW merge (which writes NEW dirs and never mutates
    // old ones) cannot change what an in-flight reader sees — readers
    // only need to finish within snapshot retention, Iceberg's contract
    val t = freshCatalog().table("db.iso")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    val before = t.read
    t.mergeInto(df(Seq((1L, "A", 10.0))), Seq("id"))
    before.orderBy("id").collect().map(_.getString(1)).toSeq shouldBe Seq("a", "b")
    t.read.orderBy("id").collect().map(_.getString(1)).toSeq shouldBe Seq("A", "b")
  }

  test("empty dataframe table round-trips schema") {
    val t = freshCatalog().table("db.empty")
    t.createOrReplace(df(Seq((1L, "a", 1.0))).filter(lit(false)))
    t.read.count() shouldBe 0
    t.schema.fieldNames.toSeq shouldBe Seq("id", "status", "amount")
  }

  test("bucketed table: merge rewrites only buckets containing batch keys") {
    import spark.implicits._
    val t = freshCatalog().table("db.bucketed")
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    t.createOrReplace(base, bucketBy = Some(("id", 16)))
    val v1 = t.currentSnapshot.get
    v1.partitionCols shouldBe Seq("__bucket")
    v1.entries.size should be > 8 // most buckets materialized

    // a 2-key micro-batch touches at most 2 of 16 buckets
    t.mergeInto(Seq((5L, "V5"), (6L, "V6")).toDF("id", "v"), Seq("id"))
    val v2 = t.currentSnapshot.get
    v2.summary("rewritten-entries").toInt should be <= 2
    v2.summary("untouched-entries").toInt should be >= v1.entries.size - 2

    // hidden bucket column never leaks into reads
    t.read.columns.toSeq shouldBe Seq("id", "v")
    t.read.count() shouldBe 200
    t.read.filter(col("id") === 5L).head.getString(1) shouldBe "V5"

    // deletes prune the same way
    t.deleteWhereExists(Seq((6L, "x")).toDF("id", "v"), Seq("id"))
    t.currentSnapshot.get.summary("rewritten-entries").toInt should be <= 1
    t.read.filter(col("id") === 6L).count() shouldBe 0
    t.read.count() shouldBe 199

    // compaction keeps the bucket layout
    t.rewriteDataFiles()
    t.read.count() shouldBe 199
    t.partitions.forall(_.startsWith("__bucket=")) shouldBe true
  }

  test("describeExtended lists columns with synced comments + metadata") {
    val t = freshCatalog().table("db.desc")
    t.createOrReplace(df(Seq((1L, "a", 1.0))), partitionBy = Seq("status"))
    t.setProperties(Map("comment.col.id" -> "the key", "comment" -> "demo table"))
    val rows = t.describeExtended.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    rows should contain(("id", "bigint", "the key"))
    rows should contain(("Comment", "demo table", ""))
    rows should contain(("Partition Columns", "status", ""))
  }

  test("readVersion time-travels to any retained snapshot") {
    val t = freshCatalog().table("db.tt")
    t.createOrReplace(df(Seq((1L, "v1", 1.0))))
    t.overwrite(df(Seq((2L, "v2", 2.0))))
    t.readVersion(1).head.getString(1) shouldBe "v1"
    t.readVersion(2).head.getString(1) shouldBe "v2"
    t.read.head.getString(1) shouldBe "v2"
  }

  test("readAsOf time-travels by wall-clock to the newest covered snapshot") {
    val t = freshCatalog().table("db.tt_ts")
    t.createOrReplace(df(Seq((1L, "v1", 1.0))))
    val ts1 = t.snapshot(1L).timestampMs
    Thread.sleep(5) // keep the two commit stamps distinct
    t.overwrite(df(Seq((2L, "v2", 2.0))))
    val ts2 = t.snapshot(2L).timestampMs
    t.readAsOf(ts1).head.getString(1) shouldBe "v1"
    // between the commits (or exactly at v2): newest covered snapshot
    t.readAsOf(ts2).head.getString(1) shouldBe "v2"
    t.readAsOf(System.currentTimeMillis() + 60000).head.getString(1) shouldBe "v2"
    an[IllegalStateException] should be thrownBy t.readAsOf(ts1 - 1)
  }

  test("readStream surfaces appended commits incrementally") {
    import spark.implicits._
    val t = freshCatalog().table("db.stream")
    t.createOrReplace(Seq((1L, "a")).toDF("id", "v"))
    val ckpt = Files.createTempDirectory("lt-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer[Set[Long]]()

    def drain(): Unit = {
      val q = t.readStream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0)).toSet
          seen.synchronized { seen += ids; () }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    drain()
    t.append(Seq((2L, "b")).toDF("id", "v"))
    drain()
    val nonEmpty = seen.filter(_.nonEmpty)
    nonEmpty.head shouldBe Set(1L)
    nonEmpty.last shouldBe Set(2L) // only the appended commit, incremental
  }

  test("filesDF and partitions metadata reflect the current snapshot") {
    import spark.implicits._
    val t = freshCatalog().table("db.meta")
    t.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"),
      partitionBy = Seq("grp"))
    t.partitions shouldBe Seq("grp=a", "grp=b")
    val files = t.filesDF.collect()
    files.length should be >= 2
    files.map(_.getString(1)).toSet shouldBe Set("grp=a", "grp=b")
    files.foreach(_.getLong(2) should be > 0L)

    val u = freshCatalog().table("db.unpart")
    u.createOrReplace(Seq((1L, "a")).toDF("id", "grp"))
    u.partitions shouldBe Seq.empty
    u.filesDF.head().getString(1) shouldBe ""
  }

  test("catalog listTables and dropTable") {
    val cat = freshCatalog()
    cat.createDatabase("db")
    cat.table("db.t1").createOrReplace(df(Seq((1L, "a", 1.0))))
    cat.table("db.t2").createOrReplace(df(Seq((2L, "b", 2.0))))
    cat.listTables("db") shouldBe Seq("t1", "t2")
    cat.dropTable("db.t1")
    cat.listTables("db") shouldBe Seq("t2")
  }

  test("branch: writes stay isolated until fastForward publishes them") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("audit")
    val b = t.branch("audit")
    b.append(df(Seq((2L, "b", 2.0))))
    b.mergeInto(df(Seq((1L, "A", 10.0))), Seq("id"))
    // audit: branch sees both changes, main sees neither
    b.read.count() shouldBe 2
    b.read.filter(col("status") === "A").count() shouldBe 1
    t.read.count() shouldBe 1
    t.read.filter(col("status") === "A").count() shouldBe 0
    t.listBranches shouldBe Seq("audit")
    // publish: one snapshot brings the branch state to main
    val pub = t.fastForward("audit")
    pub.operation shouldBe "publish"
    t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq shouldBe Seq((1L, "A"), (2L, "b"))
  }

  test("branch: fastForward rejected once main advances past the fork") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("stale")
    t.branch("stale").append(df(Seq((2L, "b", 2.0))))
    t.append(df(Seq((3L, "c", 3.0)))) // main moves on
    an[IllegalArgumentException] should be thrownBy t.fastForward("stale")
    // no-op publish: a branch with no commits fast-forwards to main itself
    val t2 = freshCatalog().table("db.u")
    t2.createOrReplace(df(Seq((1L, "a", 1.0))))
    t2.createBranch("empty")
    t2.fastForward("empty").version shouldBe t2.currentSnapshot.get.version
  }

  test("branch: cherryPick imports append-only work onto an ADVANCED main") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("cp")
    val b = t.branch("cp")
    b.append(df(Seq((2L, "b", 2.0))))
    t.append(df(Seq((3L, "c", 3.0)))) // main moves on — fastForward refuses
    an[IllegalArgumentException] should be thrownBy t.fastForward("cp")
    val snap = t.cherryPick("cp")
    snap.operation shouldBe "cherry-pick"
    snap.summary("imported-entries") shouldBe "1"
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    // idempotent guard: a branch whose work already landed imports nothing
    // only when re-forked; the SAME branch head re-picked would re-import,
    // so the WAP cycle drops the branch after publish
    t.dropBranch("cp")
    t.listBranches shouldBe empty
  }

  test("branch: cherryPick refuses rewrites and schema divergence") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("rw")
    t.branch("rw").mergeInto(df(Seq((1L, "A", 10.0))), Seq("id"))
    t.append(df(Seq((2L, "b", 2.0))))
    an[IllegalArgumentException] should be thrownBy t.cherryPick("rw")
    // schema divergence: an append-evolve'd branch cannot cherry-pick
    // onto a main that did not evolve identically
    t.createBranch("evo")
    import spark.implicits._
    t.branch("evo").appendEvolve(
      Seq((4L, "d", 4.0, 99)).toDF("id", "status", "amount", "extra"))
    an[IllegalArgumentException] should be thrownBy t.cherryPick("evo")
  }

  test("branch: cherryPick refuses when expiry left a gap below the head") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("gap")
    val b = t.branch("gap")
    b.append(df(Seq((2L, "b", 2.0))))
    b.append(df(Seq((3L, "c", 3.0))))
    b.createTag("pin", Some(1L)) // pin the fork so expiry keeps v1...
    b.expireSnapshots(keepLast = 1) // ...but drops the middle append
    // the gap could as easily hide a rewrite — auditing is impossible
    an[IllegalArgumentException] should be thrownBy t.cherryPick("gap")
  }

  test("branch: cherry-picked rows are re-stamped above pre-existing MoR deletes") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (5L, "e", 5.0))))
    t.createBranch("cp")
    val b = t.branch("cp")
    b.append(df(Seq((5L, "E2", 50.0)))) // fresh row re-using a key main will mask
    t.deleteWhereExistsMoR(df(Seq((5L, "", 0.0))).select("id"), Seq("id"))
    t.read.filter(col("id") === 5L).count() shouldBe 0
    t.cherryPick("cp")
    // the imported entry's sequence is the publish commit's (fresh),
    // strictly above the older delete file — the row must survive
    val row5 = t.read.filter(col("id") === 5L).collect()
    row5.map(_.getString(1)).toSeq shouldBe Seq("E2")
  }

  test("branch: publish surfaces in the incremental scan as added rows") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0)))).version
    t.createBranch("wap")
    t.branch("wap").append(df(Seq((2L, "b", 2.0), (3L, "c", 3.0))))
    t.fastForward("wap")
    t.changes(v1).orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe
      Seq(2L, 3L)
  }

  test("branch and main commits interleave without conflicts; histories independent") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("b")
    val b = t.branch("b")
    t.append(df(Seq((2L, "m", 2.0))))   // main v2
    b.append(df(Seq((3L, "x", 3.0))))   // branch v2 — same NUMBER, own namespace
    t.append(df(Seq((4L, "m", 4.0))))   // main v3
    b.append(df(Seq((5L, "x", 5.0))))   // branch v3
    t.history.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    b.history.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 4L)
    b.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L, 5L)
    // a second branch of the same name is rejected while the first lives
    an[IllegalArgumentException] should be thrownBy t.createBranch("b")
    t.dropBranch("b")
    t.createBranch("b") // re-creatable after drop, forked at CURRENT main
    t.branch("b").read.count() shouldBe 3
  }

  test("tags: tagged versions survive expireSnapshots until dropped") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.createTag("baseline")
    t.mergeInto(df(Seq((1L, "U", 9.0))), Seq("id")) // COW rewrite
    t.append(df(Seq((3L, "c", 3.0))))
    t.expireSnapshots(keepLast = 1) shouldBe 1 // v2 expired; v1 tagged, v3 kept
    // tagged snapshot still fully readable after expiry dropped v2
    t.readTag("baseline").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (2L, "b"))
    t.tags shouldBe Map("baseline" -> 1L)
    an[java.io.FileNotFoundException] should be thrownBy t.readVersion(2L)
    t.dropTag("baseline")
    t.expireSnapshots(keepLast = 1) shouldBe 1 // now v1 goes too
    an[java.io.FileNotFoundException] should be thrownBy t.readVersion(1L)
    t.read.orderBy("id").collect().map(_.getString(1)).toSeq shouldBe
      Seq("U", "b", "c")
  }

  test("changelog: net row-level diff with both update images") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(
      df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))).version
    t.mergeInto(df(Seq((2L, "B", 20.0), (4L, "d", 4.0))), Seq("id"))
    t.deleteWhereExists(df(Seq((3L, "x", 0.0), (4L, "x", 0.0))).select("id"), Seq("id"))
    val cl = t.changelog(v1, t.currentSnapshot.get.version, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    cl shouldBe Set(
      (2L, "b", "update_preimage"),
      (2L, "B", "update_postimage"),
      (3L, "c", "delete")) // row 4: inserted AND deleted inside the range -> no net change
    // unchanged rows never appear
    cl.map(_._1) should not contain 1L
    // empty range: no changes
    t.changelog(v1, v1, Seq("id")).count() shouldBe 0
  }

  test("changes after rollback: rolled-back appends leave the ancestry, never re-emitted") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0)))).version
    t.append(df(Seq((2L, "x", 2.0)))) // rolled back below
    t.rollbackTo(v1)
    t.append(df(Seq((3L, "y", 3.0))))
    t.changes(v1).collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L)
  }

  test("changes stays usable when expiry drops the rollback's restored ancestor") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0)))).version
    t.append(df(Seq((2L, "x", 2.0))))
    t.append(df(Seq((3L, "x", 3.0))))
    t.rollbackTo(v1) // v4, parent v1
    t.expireSnapshots(keepLast = 3) shouldBe 1 // drops v1 (v4's parent!)
    // consumers at the RETAINED rolled-back versions: the walk stops at
    // the fromVersion boundary without reading the expired v1 — empty
    // feed (the rewind is unobservable incrementally), never a crash
    t.changes(2L).count() shouldBe 0
    t.changes(3L).count() shouldBe 0
  }

  test("changes on a branch below the fork stops at the fork, not a phantom expiry error") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.append(df(Seq((2L, "m", 2.0)))) // main v2
    t.createBranch("b") // fork v2 in the branch namespace; its parent v1 is main-only
    val b = t.branch("b")
    b.append(df(Seq((3L, "x", 3.0)))) // branch v3
    b.changes(0L).collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  test("changelog across schema evolution null-backfills the pre side") {
    import spark.implicits._
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))).version
    t.appendEvolve(Seq((3L, "c", 3.0, 30)).toDF("id", "status", "amount", "extra"))
    val cl = t.changelog(v1, t.currentSnapshot.get.version, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(4),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    cl shouldBe Set((3L, "insert", 30)) // old rows unchanged (null extra on both sides)
  }

  test("changelog matches a null-keyed row to itself (no phantom delete+insert)") {
    import spark.implicits._
    val rows = Seq((Option(1L), "a"), (None, "n"))
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(rows.toDF("id", "status")).version
    t.append(Seq((Option(9L), "z")).toDF("id", "status"))
    val cl = t.changelog(v1, t.currentSnapshot.get.version, Seq("id")).collect()
    cl.map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(2)))
      .toSeq shouldBe Seq((9L, "insert")) // the null-key row is NOT churned
  }

  test("applying a changelog to the from-version reproduces the to-version") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(
      df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (5L, "e", 5.0)))).version
    t.mergeInto(df(Seq((2L, "B", 20.0), (4L, "d", 4.0), (5L, "E", 50.0))), Seq("id"))
    t.deleteWhereExists(df(Seq((3L, "x", 0.0))).select("id"), Seq("id"))
    val v3 = t.currentSnapshot.get.version
    val cl = t.changelog(v1, v3, Seq("id")).cache()
    // consume the changelog like a downstream CDC subscriber: upsert the
    // post-images + inserts, delete the deletes — state must converge
    val upserts = cl.filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    val deletes = cl.filter(col("_change_type") === "delete").select("id")
    val replayed = graft.operators.Merge.deleteMatching(
      graft.operators.Merge.upsert(t.readVersion(v1), upserts, Seq("id")),
      deletes, Seq("id"))
    replayed.orderBy("id").collect().map(_.toString).toSeq shouldBe
      t.readVersion(v3).orderBy("id").collect().map(_.toString).toSeq
    cl.unpersist()
  }

  test(".refs metadata table lists main, branches, and tags with their versions") {
    val t = freshCatalog().table("db.refs")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createTag("v1-audit")
    t.append(df(Seq((2L, "b", 2.0))))
    val b = t.createBranch("wap")
    b.append(df(Seq((3L, "c", 3.0))))

    val refs = t.refsDF.orderBy("type", "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    refs shouldBe Seq(
      ("main", "BRANCH", 2L),
      ("wap", "BRANCH", 3L), // the branch's own head version
      ("v1-audit", "TAG", 1L))
  }

  test("rollbackTo rewinds state in a forward commit; history intact, table writable") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))).version
    t.mergeInto(df(Seq((1L, "X", 9.0))), Seq("id"))
    t.deleteWhereExists(df(Seq((2L, "x", 0.0))).select("id"), Seq("id"))
    val rb = t.rollbackTo(v1)
    rb.operation shouldBe "rollback"
    rb.version shouldBe 4L // history moved FORWARD
    t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq shouldBe Seq((1L, "a"), (2L, "b"))
    // the rolled-back intermediate state stays time-travelable
    t.readVersion(3L).count() shouldBe 1
    t.append(df(Seq((3L, "c", 3.0))))
    t.read.count() shouldBe 3
    an[IllegalArgumentException] should be thrownBy t.rollbackTo(99L)
  }

  test("expireSnapshots(olderThan) retains every snapshot younger than the cutoff") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.overwrite(df(Seq((2L, "b", 2.0))))
    val cutoff = System.currentTimeMillis() + 1 // both are older than this
    Thread.sleep(5)
    t.overwrite(df(Seq((3L, "c", 3.0))))
    t.overwrite(df(Seq((4L, "d", 4.0))))
    // keepLast=1 alone would drop v1..v3; the age cutoff shields v3 and
    // v4 (committed after it), so only the two OLD snapshots expire
    t.expireSnapshots(keepLast = 1, olderThanMs = cutoff) shouldBe 2
    t.history.collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(3L, 4L)
    t.readVersion(3L).head().getString(1) shouldBe "c"
    // a future cutoff expires nothing younger than keepLast protection
    t.expireSnapshots(keepLast = 2, olderThanMs = Long.MaxValue) shouldBe 0
  }

  test("expire/orphan collection never deletes dirs a live branch references") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("keepme")
    val b = t.branch("keepme")
    b.append(df(Seq((2L, "b", 2.0)))) // data dir referenced ONLY by the branch
    t.append(df(Seq((3L, "c", 3.0))))
    t.expireSnapshots(keepLast = 1)
    t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 60000)
    b.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    // dropped branch's private dir becomes a collectable orphan
    t.dropBranch("keepme")
    t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 60000) should be >= 1
    t.listBranches shouldBe empty
  }

  test("manifest bound: COW rewrites do not grow the entry count; compaction resets it") {
    import spark.implicits._
    val t = freshCatalog().table("db.t")
    val base = (1L to 40L).map(i => (i, s"p${i % 4}", i.toDouble))
      .toDF("id", "part", "amount")
    t.createOrReplace(base, partitionBy = Seq("part"))
    val created = t.currentSnapshot.get.entries.size // one per partition
    created shouldBe 4
    // repeated single-partition merges: each replaces p0's entry — the
    // manifest stays O(partitions), it does not accrete per commit
    (1 to 5).foreach { i =>
      t.mergeInto(
        Seq((4L, "p0", i * 100.0)).toDF("id", "part", "amount"), Seq("id"))
      t.currentSnapshot.get.entries.size shouldBe created
    }
    // appends DO accrete (new dirs) ...
    t.append(Seq((100L, "p0", 1.0)).toDF("id", "part", "amount"))
    t.append(Seq((101L, "p1", 1.0)).toDF("id", "part", "amount"))
    t.currentSnapshot.get.entries.size shouldBe created + 2
    // ... and a full rewrite collapses the manifest back
    t.rewriteDataFiles()
    t.currentSnapshot.get.entries.size should be <= created
    t.read.count() shouldBe 42
  }

  test("branch-side expire/orphan never deletes data referenced by main or siblings") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("b1")
    val b1 = t.branch("b1")
    // main and a SIBLING branch advance after the fork: their data dirs
    // are invisible to b1's own lineage but share the same data root
    t.append(df(Seq((2L, "post-fork-main", 2.0))))
    t.createBranch("b2")
    val b2 = t.branch("b2")
    b2.append(df(Seq((3L, "sibling", 3.0))))
    // churn b1 so it has something to expire, then run maintenance ON b1
    b1.append(df(Seq((10L, "x", 10.0))))
    b1.append(df(Seq((11L, "y", 11.0))))
    b1.expireSnapshots(keepLast = 1) should be >= 1
    b1.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 60000)
    // the primary table and the sibling branch are intact
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    b2.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    b1.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 10L, 11L)
  }

  test("fastForward uses the durable fork point, surviving branch-side expiry") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("wap")
    val b = t.branch("wap")
    b.append(df(Seq((2L, "b", 2.0))))
    b.append(df(Seq((3L, "c", 3.0))))
    // drop the fork snapshot itself from the branch lineage: the oldest
    // RETAINED branch snapshot is now an arbitrary version, which the
    // pre-fix gate compared main against
    b.expireSnapshots(keepLast = 1) should be >= 1
    t.fastForward("wap")
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    // and once main has advanced past the fork, publish still rejects
    val t2 = freshCatalog().table("db.u")
    t2.createOrReplace(df(Seq((1L, "a", 1.0))))
    t2.createBranch("stale")
    val bs = t2.branch("stale")
    bs.append(df(Seq((2L, "b", 2.0))))
    bs.expireSnapshots(keepLast = 1)
    t2.append(df(Seq((9L, "z", 9.0)))) // main past the fork
    an[IllegalArgumentException] should be thrownBy t2.fastForward("stale")
  }

  test("concurrent tag writes on separate handles both land (versioned tags file)") {
    val cat = freshCatalog()
    val t = cat.table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    // two INDEPENDENT LakeTable instances over the same location: the
    // JVM `synchronized` on each instance does not serialize them, so
    // only the claim protocol prevents a lost read-modify-write
    val t2 = cat.table("db.t")
    val threads = Seq("left", "right").map { tag =>
      val h = if (tag == "left") t else t2
      new Thread(() => h.createTag(tag))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    t.tags.keySet shouldBe Set("left", "right")
    // readers never observe a missing-tags window: expire while tagged
    t.append(df(Seq((2L, "b", 2.0))))
    t.expireSnapshots(keepLast = 1)
    t.readTag("left").count() shouldBe 1
  }

  test("tag readers survive back-to-back tag writers (generation retention window)") {
    // a reader that listed the newest tags file can have it swept by
    // racing writers before it opens; the retained-generation window
    // plus re-list retries must absorb rapid consecutive claims — with
    // only one retained generation, 3+ back-to-back writes could
    // exhaust a reader's retries and throw FileNotFound from tags
    val cat = freshCatalog()
    val t = cat.table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 4).map(_ => new Thread(() => {
      try while (!stop.get()) { t.tags; () }
      catch { case e: Throwable => failures.add(e) }
    }))
    readers.foreach(_.start())
    // hammer rapid consecutive tag writes from two independent handles
    val t2 = cat.table("db.t")
    (1 to 40).foreach { i =>
      (if (i % 2 == 0) t else t2).createTag(s"tag$i", Some(1L))
    }
    stop.set(true)
    readers.foreach(_.join())
    failures.forEach(_.printStackTrace())
    failures.isEmpty shouldBe true
    t.tags.size shouldBe 40
  }
}
