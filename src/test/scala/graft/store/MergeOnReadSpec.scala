package graft.store

import java.nio.file.Files

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, DeleteKeyMask}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Merge-on-read (equality-delete) semantics: MoR commits write
  * O(batch) and never rewrite data; reads mask deleted keys by
  * sequence number; position-delete compaction physically folds the
  * delete files away without changing what a read returns. */
class MergeOnReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshCatalog(): LakeCatalog = {
    val wh = Files.createTempDirectory("mor-test").toString
    new LakeCatalog(spark, wh)
  }

  private def df(rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "status", "amount")
  }

  private def state(t: LakeTable): Seq[(Long, String, Double)] =
    t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  private def joins(p: SparkPlan): Int = collect(p) { case j: BaseJoinExec => j }.size

  /** Data dirs scanned under a delete-key mask, and all data dirs scanned. */
  private def scannedDirs(df: DataFrame): (Seq[String], Seq[String]) = {
    val plan = df.queryExecution.executedPlan
    def dirs(p: SparkPlan): Seq[String] =
      collect(p) { case sc: FileSourceScanExec => sc }
        .flatMap(_.relation.location.rootPaths.map(_.getName))
    val masked = collect(plan) {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[DeleteKeyMask]) => f
    }
    (masked.flatMap(dirs), dirs(plan))
  }

  test("mergeIntoMoR upserts without rewriting any data dir") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    val before = t.currentSnapshot.get
    t.mergeIntoMoR(df(Seq((2L, "B", 20.0), (4L, "d", 4.0))), Seq("id"))
    val after = t.currentSnapshot.get
    // every pre-existing data dir is still referenced untouched
    after.entries.map(_.dir) should contain allElementsOf before.entries.map(_.dir)
    after.deleteEntries should have size 1
    after.properties(LakeTable.MorKeysProp) shouldBe "id"
    state(t) shouldBe Seq(
      (1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0))
  }

  test("deleteWhereExistsMoR masks rows via the delete file alone") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    val dataDirs = t.currentSnapshot.get.entries.map(_.dir)
    t.deleteWhereExistsMoR(df(Seq((2L, "-", 0.0))).select("id"), Seq("id"))
    val s = t.currentSnapshot.get
    s.entries.map(_.dir) shouldBe dataDirs // zero data churn
    s.deleteEntries should have size 1
    state(t).map(_._1) shouldBe Seq(1L, 3L)
  }

  test("sequence numbers: a delete never masks rows committed at or after it") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    // the MoR merge's own batch shares the delete's sequence → survives
    t.mergeIntoMoR(df(Seq((1L, "A", 10.0))), Seq("id"))
    state(t) shouldBe Seq((1L, "A", 10.0))
    // a LATER append of a previously-deleted key is not masked either
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    state(t) shouldBe Seq.empty
    t.append(df(Seq((1L, "back", 99.0))))
    state(t) shouldBe Seq((1L, "back", 99.0))
  }

  test("rewritePositionDeleteFiles folds deletes; reads identical before and after") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df((1L to 20L).map(i => (i, s"s$i", i.toDouble))))
    t.mergeIntoMoR(df(Seq((5L, "U", 50.0), (21L, "n", 21.0))), Seq("id"))
    t.deleteWhereExistsMoR(df(Seq((7L, "-", 0.0), (8L, "-", 0.0))).select("id"), Seq("id"))
    val expected = state(t)
    t.currentSnapshot.get.deleteEntries should have size 2
    val (removedDeletes, rewritten) = t.rewritePositionDeleteFiles()
    removedDeletes shouldBe 2
    rewritten should be >= 1
    val s = t.currentSnapshot.get
    s.deleteEntries shouldBe empty
    state(t) shouldBe expected
    // idempotent: nothing left to fold
    t.rewritePositionDeleteFiles() shouldBe ((0, 0))
  }

  test("position-delete compaction skips entries the deletes provably cannot touch") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.append(df(Seq((100L, "z", 100.0), (101L, "y", 101.0)))) // disjoint id range
    val highDir = t.currentSnapshot.get.entries.map(_.dir).last
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    val (_, rewritten) = t.rewritePositionDeleteFiles()
    rewritten shouldBe 1 // only the low-range entry; stats prune the other
    t.currentSnapshot.get.entries.map(_.dir) should contain(highDir)
    state(t).map(_._1) shouldBe Seq(2L, 100L, 101L)
  }

  test("COW merge on a MoR table folds deletes into the rewritten slice only") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.deleteWhereExistsMoR(df(Seq((2L, "-", 0.0))).select("id"), Seq("id"))
    // a COW merge must not resurrect id=2 from the raw files it rewrites
    t.mergeInto(df(Seq((3L, "C", 30.0))), Seq("id"))
    state(t) shouldBe Seq((1L, "a", 1.0), (3L, "C", 30.0))
  }

  test("full rewrites clear dangling deletes; rollback restores them") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    val vDel = t.deleteWhereExistsMoR(
      df(Seq((1L, "-", 0.0))).select("id"), Seq("id")).version
    t.rewriteDataFiles()
    t.currentSnapshot.get.deleteEntries shouldBe empty
    state(t).map(_._1) shouldBe Seq(2L)
    t.rollbackTo(vDel)
    t.currentSnapshot.get.deleteEntries should have size 1
    state(t).map(_._1) shouldBe Seq(2L)
  }

  test("time travel and readWhere respect delete files") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))).version
    val v2 = t.deleteWhereExistsMoR(
      df(Seq((1L, "-", 0.0))).select("id"), Seq("id")).version
    t.readVersion(v1).count() shouldBe 2 // before the delete existed
    t.readVersion(v2).count() shouldBe 1
    t.readWhere(col("id") <= 2).collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("MoR key columns are fixed at the first MoR write") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.mergeIntoMoR(df(Seq((1L, "A", 10.0))), Seq("id"))
    an[IllegalArgumentException] should be thrownBy
      t.mergeIntoMoR(df(Seq((1L, "A", 10.0))), Seq("status"))
  }

  test("write.merge.mode / write.delete.mode dispatch upsert and delete") {
    val cat = freshCatalog()
    // MoR-mode table: upsert/deleteMatching must not rewrite data dirs
    val mor = cat.table("db.mor")
    mor.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))),
      tableProperties = Map(
        "write.merge.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    val dirs = mor.currentSnapshot.get.entries.map(_.dir)
    mor.upsert(df(Seq((2L, "B", 20.0))), Seq("id"))
    mor.deleteMatching(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    val s = mor.currentSnapshot.get
    s.entries.map(_.dir) should contain allElementsOf dirs
    s.deleteEntries should have size 2
    state(mor) shouldBe Seq((2L, "B", 20.0))
    // default table: same calls stay copy-on-write (no delete files)
    val cow = cat.table("db.cow")
    cow.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    cow.upsert(df(Seq((2L, "B", 20.0))), Seq("id"))
    cow.deleteMatching(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    cow.currentSnapshot.get.deleteEntries shouldBe empty
    state(cow) shouldBe Seq((2L, "B", 20.0))
  }

  test("morRead stats-prunes the anti-join to entries a delete can reach") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.append(df(Seq((100L, "z", 100.0))))
    // delete confined to the low id range: the high-range entry must
    // read PLAIN (provably disjoint by manifest stats)
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    t.read.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L, 100L)
    // the maskable low-range entry's scan carries the delete-key mask;
    // the disjoint high-range entry reads plain
    val Seq(lowDir, highDir) = t.currentSnapshot.get.entries.map(_.dir)
    val (masked, scanned) = scannedDirs(t.read)
    masked shouldBe Seq(lowDir)
    scanned.sorted shouldBe Seq(lowDir, highDir).sorted
    joins(t.read.queryExecution.executedPlan) shouldBe 0
    // a table whose only delete is key-disjoint from EVERY entry reads
    // with no join at all — the masked path is skipped entirely
    val u = freshCatalog().table("db.u")
    u.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    u.deleteWhereExistsMoR(df(Seq((999L, "-", 0.0))).select("id"), Seq("id"))
    u.read.count() shouldBe 2
    joins(u.read.queryExecution.executedPlan) shouldBe 0
  }

  test("post-fold reads: bloom sidecars release entries the delete provably misses") {
    import spark.implicits._
    val t = freshCatalog().table("db.bl")
    def gen(ids: Seq[Long]): DataFrame =
      ids.toDF("id").withColumn("grp", pmod(col("id"), lit(3L)))
    // three key-clustered generations across three partitions, sidecars
    // forced on (floor 0)
    t.createOrReplace(gen(0L until 30L), partitionBy = Seq("grp"),
      tableProperties = Map(
        "write.bloom.columns" -> "id",
        "write.bloom.min-table-bytes" -> "0"))
    t.append(gen(100L until 130L))
    t.append(gen(200L until 230L))
    // fold: one wide entry per partition, every id RANGE now spans
    // ~the whole keyspace — range stats alone can separate nothing
    t.rewriteDataFiles()
    val folded = t.currentSnapshot.get
    folded.entries should have size 3
    all(folded.entries.map(_.blooms)) should contain("id")
    // fresh MoR delete of one key: only the folded entry whose sidecar
    // holds id 5 stays maskable; the other two read PLAIN instead of
    // paying the anti-join table-wide until the next delete rewrite
    t.deleteWhereExistsMoR(Seq(5L).toDF("id"), Seq("id"))
    val (maskable, total) = t.morMaskableCounts
    total shouldBe 3
    maskable shouldBe 1
    t.read.count() shouldBe 89
    t.read.filter($"id" === 5L).count() shouldBe 0
    // a second delete landing in a DIFFERENT partition widens the
    // maskable slice to exactly the two entries that hold doomed keys
    t.deleteWhereExistsMoR(Seq(103L).toDF("id"), Seq("id"))
    t.morMaskableCounts shouldBe ((2, 3))
    t.read.count() shouldBe 88
    // and the position-delete fold rewrites ONLY the maskable slice
    val (delsRemoved, rewritten) = t.rewritePositionDeleteFiles()
    delsRemoved shouldBe 2
    rewritten shouldBe 2
    t.read.count() shouldBe 88
    t.morMaskableCounts shouldBe ((0, 3))
  }

  test("delete-reach bloom stage stays conservative on null keys and cap overflow") {
    import spark.implicits._
    // sidecar'd two-entry table whose id ranges overlap (so only the
    // bloom stage could ever release an entry)
    val t = freshCatalog().table("db.nl")
    def rows(ids: Seq[java.lang.Long]): DataFrame =
      ids.toDF("id").withColumn("v", coalesce(col("id"), lit(-1L)) * 10)
    t.createOrReplace(rows(Seq(1L, 100L)),
      tableProperties = Map(
        "write.bloom.columns" -> "id",
        "write.bloom.min-table-bytes" -> "0"))
    t.append(rows(Seq[java.lang.Long](2L, null, 101L)))
    // a delete batch CONTAINING A NULL key: a null-keyed tuple
    // <=>-matches null rows that no bloom can witness, so the column
    // must prove nothing — both entries stay maskable even though the
    // first entry's sidecar would report the null "absent"
    t.deleteWhereExistsMoR(Seq[java.lang.Long](null, 100L).toDF("id"), Seq("id"))
    t.morMaskableCounts shouldBe ((2, 2))
    // the null row and id 100 are masked; everything else survives
    t.read.select("id").collect().map(Option(_).map(r =>
      if (r.isNullAt(0)) -999L else r.getLong(0)).get).sorted shouldBe
      Seq(1L, 2L, 101L)

    // cap overflow: a delete file with more distinct keys than
    // MaxDeleteReachKeys proves nothing (bounded collect, conservative
    // keep) — but the masking itself still applies exactly
    val u = freshCatalog().table("db.cap")
    u.createOrReplace(rows(Seq(1L, 500000L)),
      tableProperties = Map(
        "write.bloom.columns" -> "id",
        "write.bloom.min-table-bytes" -> "0"))
    u.append(rows(Seq(2L, 500001L)))
    val wide = spark.range(2_000_000L, 2_000_000L + LakeTable.MaxDeleteReachKeys + 10L)
      .select(col("id")).unionByName(Seq(1L).toDF("id"))
    u.deleteWhereExistsMoR(wide, Seq("id"))
    u.morMaskableCounts shouldBe ((2, 2))
    u.read.select("id").collect().map(_.getLong(0)).sorted shouldBe
      Seq(2L, 500000L, 500001L)
    // past the cap the driver holds no keys: the read takes the
    // anti-join fallback, with the same rows
    joins(u.read.queryExecution.executedPlan) should be >= 1
    scannedDirs(u.read)._1 shouldBe empty
  }

  test("a PK lookup under driver-held delete keys runs one Spark job") {
    import spark.implicits._
    val t = freshCatalog().table("db.jobs")
    t.createOrReplace(df((1L to 20L).map(i => (i, s"s$i", i.toDouble))))
    // the merge batch's own delete file ({5, 9}) shares its sequence
    // number; the later delete's key range overlaps the batch, so the
    // batch is masked, but by the later delete alone
    t.mergeIntoMoR(df(Seq((5L, "U", 50.0), (9L, "V", 90.0))), Seq("id"))
    t.deleteWhereExistsMoR(Seq(7L, 8L).toDF("id"), Seq("id"))
    t.currentSnapshot.get.deleteEntries should have size 2
    val group = "mor-lookup-jobs"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    def lookup(id: Long): (Seq[String], Int) = {
      ListenerBusDrain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "point lookup")
      val rows =
        try t.readWhere(col("id") === id).collect().map(_.getString(1)).toSeq
        finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      (rows, jobs.get)
    }
    try {
      // cold: loading both delete files' keys is driver-side (0 jobs),
      // so the whole lookup is the scan's one job
      lookup(5L) shouldBe ((Seq("U"), 1))
      // warm, and a key the second delete masks
      lookup(7L) shouldBe ((Nil, 1))
      lookup(9L) shouldBe ((Seq("V"), 1))
      lookup(10L) shouldBe ((Seq("s10"), 1))
    } finally sc.removeSparkListener(listener)
  }

  test("delete-key mask: a two-column key with a null component") {
    import spark.implicits._
    val t = freshCatalog().table("db.k2")
    t.createOrReplace(Seq[(Long, String, Long)](
      (1L, "x", 10L), (1L, null, 11L), (2L, null, 20L), (2L, "y", 21L), (3L, null, 30L))
      .toDF("a", "b", "v"))
    t.deleteWhereExistsMoR(Seq[(Long, String)]((1L, null), (2L, "y")).toDF("a", "b"),
      Seq("a", "b"))
    scannedDirs(t.read)._1 should not be empty
    t.read.select("v").as[Long].collect().sorted shouldBe Seq(10L, 20L, 30L)
    t.readWhere(col("a") === 1L).select("v").as[Long].collect().toSeq shouldBe Seq(10L)
    t.readWhere(col("b").isNull).select("v").as[Long].collect().sorted shouldBe Seq(20L, 30L)
  }

  test("delete-key mask: an int key promoted to long under an outstanding delete") {
    import spark.implicits._
    val t = freshCatalog().table("db.pr")
    t.createOrReplace(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    t.deleteWhereExistsMoR(Seq(2).toDF("id"), Seq("id"))
    t.read.select("s").as[String].collect().sorted shouldBe Seq("a", "c")
    // the delete file stays int32; the widened read masks it as long
    t.alterColumnType("id", LongType)
    scannedDirs(t.read)._1 should not be empty
    t.read.select("id").as[Long].collect().sorted shouldBe Seq(1L, 3L)
    t.readWhere(col("id") === 2L).count() shouldBe 0
    t.readWhere(col("id") === 3L).select("s").as[String].collect().toSeq shouldBe Seq("c")
    // a later append of the deleted key is newer than the delete
    t.append(Seq((2L, "again")).toDF("id", "s"))
    t.readWhere(col("id") === 2L).select("s").as[String].collect().toSeq shouldBe Seq("again")
  }

  test("delete-key mask: float and double keys match NaN to NaN and -0.0 to 0.0") {
    import spark.implicits._
    val d = freshCatalog().table("db.dbl")
    d.createOrReplace(Seq((Double.NaN, 1), (0.0, 2), (-0.0, 3), (1.5, 4)).toDF("k", "v"))
    d.deleteWhereExistsMoR(Seq(Double.NaN, -0.0).toDF("k"), Seq("k"))
    scannedDirs(d.read)._1 should not be empty
    d.read.select("v").as[Int].collect().toSeq shouldBe Seq(4)
    val f = freshCatalog().table("db.flt")
    f.createOrReplace(Seq((Float.NaN, 1), (0.0f, 2), (-0.0f, 3), (1.5f, 4)).toDF("k", "v"))
    f.deleteWhereExistsMoR(Seq(Float.NaN, 0.0f).toDF("k"), Seq("k"))
    scannedDirs(f.read)._1 should not be empty
    f.read.select("v").as[Int].collect().toSeq shouldBe Seq(4)
    // a two-column key compares its components the same way
    val m = freshCatalog().table("db.ld")
    m.createOrReplace(Seq((1L, Double.NaN, 1), (1L, 0.0, 2), (2L, Double.NaN, 3),
      (2L, -0.0, 4), (3L, 1.5, 5)).toDF("a", "k", "v"))
    m.deleteWhereExistsMoR(Seq((1L, Double.NaN), (2L, 0.0)).toDF("a", "k"), Seq("a", "k"))
    scannedDirs(m.read)._1 should not be empty
    m.read.select("v").as[Int].collect().sorted shouldBe Seq(2, 3, 5)
  }

  test("delete-key mask: the tuples travel by broadcast, not in the task closure") {
    import spark.implicits._
    val t = freshCatalog().table("db.bc")
    t.createOrReplace(df((1L to 20000L).map(i => (i, "s", 0.0))))
    t.deleteWhereExistsMoR((1L to 20000L by 2).toDF("id"), Seq("id"))
    val mask = t.read.queryExecution.executedPlan.collectFirst {
      case f: FilterExec => f.condition.collectFirst { case m: DeleteKeyMask => m }
    }.flatten.get
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val bytes = ser.serialize(mask)
    bytes.limit() should be < 4096
    ser.deserialize[DeleteKeyMask](bytes).held.map(_.tuples.size) shouldBe Seq(10000)
    t.read.count() shouldBe 10000
  }

  test("delete-key mask: a session without the vectorized parquet reader takes the join") {
    import spark.implicits._
    val rowReader = spark.newSession()
    rowReader.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val t = new LakeCatalog(rowReader, Files.createTempDirectory("mor-test").toString)
      .table("db.rr")
    t.createOrReplace(df((1L to 6L).map(i => (i, s"s$i", i.toDouble))))
    t.deleteWhereExistsMoR(Seq(2L, 5L).toDF("id"), Seq("id"))
    joins(t.read.queryExecution.executedPlan) should be >= 1
    scannedDirs(t.read)._1 shouldBe empty
    t.read.select("id").as[Long].collect().sorted shouldBe Seq(1L, 3L, 4L, 6L)
  }

  test("a transient sidecar read failure degrades one pass and never sticks") {
    import spark.implicits._
    // interleaved ids: the two entries' RANGES overlap fully, so only
    // the bloom stage can release either from "maskable"
    val t = freshCatalog().table("db.tr")
    t.createOrReplace(Seq(0L, 2L, 4L, 6L, 8L).toDF("id"),
      tableProperties = Map(
        "write.bloom.columns" -> "id",
        "write.bloom.min-table-bytes" -> "0"))
    t.append(Seq(1L, 3L, 5L, 7L, 9L).toDF("id"))
    t.deleteWhereExistsMoR(Seq(6L).toDF("id"), Seq("id"))
    // hide the ODD entry's sidecar BEFORE the first reach probe (the
    // bloom cache is path-keyed and cold for a fresh warehouse): the
    // entry must degrade to maskable — but as a LOUD re-probe, not a
    // cached verdict
    val odd = t.currentSnapshot.get.entries.find(e =>
      spark.read.parquet(s"${t.location}/data/${e.dir}")
        .collect().exists(_.getLong(0) == 1L)).get
    val sidecar = new java.io.File(s"${t.location}/blooms/${odd.dir}/id.bloom")
    val hidden = new java.io.File(sidecar.getPath + ".hidden")
    assert(sidecar.renameTo(hidden), s"no sidecar at $sidecar")
    t.morMaskableCounts shouldBe ((2, 2)) // proof unavailable → conservative
    t.read.count() shouldBe 9 // and the read is still correct
    // the sidecar becomes readable again: the release must happen NOW —
    // a cached "maskable" verdict would pin the anti-join on this entry
    // until LRU eviction (the pre-r18 bug)
    assert(hidden.renameTo(sidecar))
    t.morMaskableCounts shouldBe ((1, 2)) // odd entry released by its bloom
    t.read.count() shouldBe 9
  }

  test("MoR deletes survive schema evolution; compaction folds under the widened schema") {
    import spark.implicits._
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.deleteWhereExistsMoR(df(Seq((2L, "-", 0.0))).select("id"), Seq("id"))
    // widen the schema UNDER the outstanding delete file: old data reads
    // through with nulls, the delete keeps masking id=2, and the newly
    // appended row (higher seq than the delete) reads plain
    t.appendEvolve(Seq((4L, "d", 4.0, "x")).toDF("id", "status", "amount", "tag"))
    def rows(tt: LakeTable) = tt.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getAs[String]("tag")))).toSeq
    val expected = Seq((1L, "a", None), (3L, "c", None), (4L, "d", Some("x")))
    rows(t) shouldBe expected
    // folding the delete files must not change what a read returns,
    // and the fold happens under the WIDENED schema
    val (removed, _) = t.rewritePositionDeleteFiles()
    removed shouldBe 1
    t.currentSnapshot.get.deleteEntries shouldBe empty
    rows(t) shouldBe expected
    t.schema.fieldNames.toSeq shouldBe Seq("id", "status", "amount", "tag")
  }

  test("contended MoR merges are additive: every writer lands, no update lost") {
    // unlike COW merges (which conflict), MoR merges are additive —
    // data dirs + a delete file — so racing writers rebuild on the
    // fresh parent and retry; ALL must land, with one commit each
    val cat = freshCatalog()
    cat.table("db.race").createOrReplace(
      df((1L to 8L).map(i => (i, "base", 0.0))))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try cat.table("db.race")
          .mergeIntoMoR(df(Seq((i.toLong, s"w$i", i.toDouble))), Seq("id"))
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    failures.forEach(_.printStackTrace())
    failures.isEmpty shouldBe true
    val t = cat.table("db.race")
    t.currentSnapshot.get.version shouldBe 5L // base + 4 winners, linear
    t.currentSnapshot.get.deleteEntries should have size 4
    state(t) shouldBe (1L to 8L).map(i =>
      if (i <= 4) (i, s"w$i", i.toDouble) else (i, "base", 0.0))
    // and the fold converges to the same state
    t.rewritePositionDeleteFiles()
    state(t) shouldBe (1L to 8L).map(i =>
      if (i <= 4) (i, s"w$i", i.toDouble) else (i, "base", 0.0))
  }

  test("createOrReplace over a MoR table drops outstanding deletes (replace semantics)") {
    // RTAS replaces the data, so the parent's delete files are
    // meaningless — carrying them forward (with a fresh properties map
    // lacking mor.delete-keys) used to make every subsequent read throw
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    t.createOrReplace(df(Seq((9L, "z", 9.0))))
    t.currentSnapshot.get.deleteEntries shouldBe empty
    state(t) shouldBe Seq((9L, "z", 9.0))
  }

  test("publish: sequence counter covers imported branch seqs, versions stay contiguous") {
    // branch seqs can exceed main's counter; the publish commit's
    // lastSequenceNumber takes the max over imported entries so a later
    // main-side delete still sequences strictly above every published
    // row — WITHOUT flooring the version (a version gap would break
    // claim-file serialization: a concurrent additive writer could
    // claim the gap file and be silently orphaned)
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("wap")
    val b = t.branch("wap")
    b.append(df(Seq((2L, "b", 2.0)))) // branch seq 2
    b.append(df(Seq((3L, "c", 3.0)))) // branch seq 3
    val pub = t.fastForward("wap")
    pub.version shouldBe 2L // exactly forkV+1: no gap
    pub.lastSequenceNumber should be >= 3L // covers the imported seqs
    // a MoR delete on main AFTER publish must mask the published row
    t.deleteWhereExistsMoR(df(Seq((3L, "-", 0.0))).select("id"), Seq("id"))
    state(t) shouldBe Seq((1L, "a", 1.0), (2L, "b", 2.0))
    // and a post-publish append must NOT be masked by that delete
    t.append(df(Seq((3L, "C", 30.0))))
    state(t) shouldBe Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "C", 30.0))
  }

  test("no commit is ever silently orphaned: versions stay gap-free under publish + appends") {
    // the round-5 bug shape: publish flooring its version past forkV+1
    // left a version gap; an additive writer that read the pre-publish
    // head then claimed the gap version "successfully" and its
    // acknowledged commit vanished (currentVersion takes max). With
    // contiguous versions the gap cannot exist — every acknowledged
    // commit is the head the next reader sees.
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0))))
    t.createBranch("wap")
    val b = t.branch("wap")
    (2L to 6L).foreach(i => b.append(df(Seq((i, s"b$i", i.toDouble))))) // seqs 2..6
    t.fastForward("wap")
    // acknowledged appends after the publish must all be readable
    t.append(df(Seq((10L, "x", 10.0))))
    t.append(df(Seq((11L, "y", 11.0))))
    val versions = (1L to t.currentSnapshot.get.version).toSeq
    versions.foreach(v => noException should be thrownBy t.snapshot(v)) // gap-free
    t.currentSnapshot.get.version shouldBe 4L // base, publish, 2 appends
    state(t).map(_._1) should contain allOf (10L, 11L)
  }

  test("publish racing an additive writer: both effects land or the loser surfaces, never silent loss") {
    // drive the exact ADVICE race window: a publish and an append start
    // from the same observed head; with contiguous versions both target
    // v2, the atomic claim picks one winner, and the loser either
    // retries onto the fresh head (append) or throws (publish pinned to
    // the fork point) — in no interleaving does an acknowledged commit
    // disappear
    for (seed <- 1 to 5) {
      val cat = freshCatalog()
      val t = cat.table("db.race")
      t.createOrReplace(df(Seq((1L, "a", 1.0))))
      t.createBranch("wap")
      t.branch("wap").append(df(Seq((2L, "b", 2.0))))
      t.branch("wap").append(df(Seq((3L, "c", 3.0))))
      val published = new java.util.concurrent.atomic.AtomicBoolean(false)
      val appended = new java.util.concurrent.atomic.AtomicBoolean(false)
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pubThread = new Thread(() => {
        try { cat.table("db.race").fastForward("wap"); published.set(true) }
        catch {
          // legal losses: append landed first (main moved past the fork)
          case _: IllegalArgumentException | _: CommitConflictException => ()
          case e: Throwable => unexpected.add(e)
        }
      })
      val appThread = new Thread(() => {
        try { cat.table("db.race").append(df(Seq((9L, "z", 9.0)))); appended.set(true) }
        catch { case e: Throwable => unexpected.add(e) }
      })
      if (seed % 2 == 0) { pubThread.start(); appThread.start() }
      else { appThread.start(); pubThread.start() }
      pubThread.join(); appThread.join()
      unexpected.forEach(_.printStackTrace())
      unexpected.isEmpty shouldBe true
      val ids = state(cat.table("db.race")).map(_._1)
      // every ACKNOWLEDGED effect must be visible — the invariant the
      // version gap used to break
      if (appended.get()) ids should contain(9L)
      if (published.get()) ids should contain allOf (2L, 3L)
      appended.get() shouldBe true // append retries past any conflict
      // and history is gap-free whatever the interleaving
      val head = cat.table("db.race").currentSnapshot.get.version
      (1L to head).foreach(v =>
        noException should be thrownBy cat.table("db.race").snapshot(v))
    }
  }

  test("readStream never surfaces delete files as phantom rows") {
    // delete files live under the data root but carry only key columns;
    // the underscore prefix keeps them out of the raw file stream (and
    // any ad-hoc read over the root) — without it every MoR delete
    // would appear as a null-filled phantom row downstream
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.deleteWhereExistsMoR(df(Seq((2L, "-", 0.0))).select("id"), Seq("id"))
    val out = Files.createTempDirectory("mor-stream").toString
    t.readStream.writeStream
      .format("parquet").option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(60000)
    val rows = spark.read.parquet(s"$out/sink").collect()
    // the raw stream is append-only (masked rows still flow — the
    // documented COW-style caveat) but NO null-filled delete-key rows
    rows should have size 3
    rows.count(_.isNullAt(1)) shouldBe 0
  }

  test("incremental scan emits MoR merge batches as an upsert stream") {
    val t = freshCatalog().table("db.t")
    val v1 = t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0)))).version
    t.mergeIntoMoR(df(Seq((2L, "B", 20.0), (3L, "c", 3.0))), Seq("id"))
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    val inc = t.changes(v1).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // the merge batch surfaces (update post-image + insert); the
    // delete-mor commit adds no data entries and emits nothing
    inc shouldBe Seq((2L, "B"), (3L, "c"))
  }

  test("filesDF surfaces delete files with Iceberg content id 2") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    val byContent = t.filesDF.collect().groupBy(_.getInt(3))
    byContent(0).length should be >= 1 // data
    byContent(2).length should be >= 1 // equality deletes
    t.rewritePositionDeleteFiles()
    t.filesDF.collect().map(_.getInt(3)).toSet shouldBe Set(0)
  }

  test("expire/orphan collection never drops a referenced delete file") {
    val t = freshCatalog().table("db.t")
    t.createOrReplace(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.deleteWhereExistsMoR(df(Seq((1L, "-", 0.0))).select("id"), Seq("id"))
    t.append(df(Seq((3L, "c", 3.0))))
    t.expireSnapshots(keepLast = 1)
    t.removeOrphanFiles(System.currentTimeMillis() + 1000)
    state(t).map(_._1) shouldBe Seq(2L, 3L)
  }
}
