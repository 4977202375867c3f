package graft.store

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A local FileSystem whose `rename` refuses an existing target
  * atomically, as HDFS does (modelled under one JVM lock).
  * `RawLocalFileSystem.rename` goes through `File.renameTo`, which on
  * Linux replaces the target and would lose commits HDFS cannot. */
class AtomicRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "atomicrename"
  override def getUri: URI = URI.create("atomicrename:///")
  override def rename(src: Path, dst: Path): Boolean =
    AtomicRenameFileSystem.synchronized(!exists(dst) && super.rename(src, dst))
}

object AtomicRenameFileSystem

/** A local FileSystem that refuses to list once closed, as an HDFS
  * client does ("Filesystem closed"). */
class ClosableFileSystem extends RawLocalFileSystem {
  @volatile private var closed = false
  override def getScheme: String = "closable"
  override def getUri: URI = URI.create("closable:///")
  override def close(): Unit = { closed = true; super.close() }
  override def listStatus(p: Path): Array[FileStatus] = {
    if (closed) throw new java.io.IOException("Filesystem closed")
    super.listStatus(p)
  }
}

/** Racing writers on the commit protocol alone, with no Spark session:
  * each thread holds its OWN [[TableLog]] on a shared table dir, mixing
  * additive commits (retried on a lost claim) with rewriting commits
  * pinned to the version they read. Run on both claim paths: the `file`
  * scheme's hard link and the rename of other schemes. */
class TableLogStressSpec extends AnyFunSuite with Matchers {

  private val Threads = 4
  private val OpsPerThread = 24
  private val Tables = 8
  private val schema = StructType(Seq(StructField("id", LongType)))

  private def entry(dir: String) = ManifestEntry(dir, None, seq = TableLog.StampAtCommit)

  /** Races one table; returns the number of committed versions. */
  private def race(fs: FileSystem, meta: Path): Int = {
    new TableLog(fs, meta, "t").commit("create")(_ =>
      (schema, Nil, Seq(entry("seed-0"), entry("seed-1")), Map.empty, Map.empty))
    val acked = ConcurrentHashMap.newKeySet[String]()
    // fold entry dir -> the dirs it replaced
    val folds = new ConcurrentHashMap[String, Seq[String]]()
    val conflicts = new AtomicInteger
    val failures = ConcurrentHashMap.newKeySet[Throwable]()
    val start = new CountDownLatch(1)
    val threads = (0 until Threads).map { t =>
      val thread = new Thread(() => {
        val log = new TableLog(fs, meta, "t")
        val rnd = new scala.util.Random(t)
        start.await()
        try (0 until OpsPerThread).foreach { i =>
          val s = log.head.get
          if (i % 4 == 3 && s.entries.size >= 2) {
            val folded = rnd.shuffle(s.entries).take(3)
            val fold = s"f-$t-$i"
            folds.put(fold, folded.map(_.dir))
            Thread.sleep(rnd.nextInt(20)) // the rewrite's own work, while racers land
            try {
              val c = log.commit("rewrite", requireParentVersion = Some(s.version))(_ =>
                (schema, Nil, s.entries.filterNot(folded.contains) :+ entry(fold),
                  Map.empty, Map.empty))
              c.version shouldBe s.version + 1
              c.parentVersion shouldBe Some(s.version)
            } catch { case _: CommitConflictException => conflicts.incrementAndGet() }
          } else {
            val dir = s"a-$t-$i"
            log.commit("append", retries = 10000, retryWaitMs = 1)(p =>
              (schema, Nil, p.get.entries :+ entry(dir), Map.empty, Map.empty))
            acked.add(dir)
          }
        } catch { case e: Throwable => failures.add(e) }
      })
      thread.start()
      thread
    }
    start.countDown()
    threads.foreach(_.join())
    failures.asScala.headOption.foreach(throw _)

    val log = new TableLog(fs, meta, "t")
    val snaps = log.all
    snaps.map(_.version) shouldBe (1L to snaps.size.toLong)
    snaps.tail.foreach(s => s.parentVersion shouldBe Some(s.version - 1))
    snaps.sliding(2).foreach { case Seq(a, b) =>
      b.lastSequenceNumber should be >= a.lastSequenceNumber
    }
    def reach(dir: String): Seq[String] =
      dir +: Option(folds.get(dir)).toSeq.flatten.flatMap(reach)
    val live = snaps.last.entries.map(_.dir).flatMap(reach).toSet
    (acked.asScala.toSet -- live) shouldBe empty
    // versions = create + every acknowledged append + every rewrite that landed
    val rewritesLanded = snaps.count(_.operation == "rewrite")
    snaps.size shouldBe 1 + acked.size + rewritesLanded
    rewritesLanded + conflicts.get shouldBe folds.size
    snaps.size
  }

  private def raceAll(fs: FileSystem, root: String): Int = {
    val commits = (0 until Tables).map(i => race(fs, new Path(s"$root/t$i/_meta"))).sum
    info(s"$commits commits on $Tables tables")
    commits
  }

  test("racing writers on the hard-link claim path") {
    val root = Files.createTempDirectory("log-stress-link").toString
    // the raw local FS: the claim is the same hard link, and no .crc
    // side files double each write's cost
    val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem
    fs.getUri.getScheme shouldBe "file"
    raceAll(fs, s"file://$root") should be >= 500
  }

  test("a log looks its file system up per operation, so a closed client is replaced") {
    val conf = new Configuration()
    conf.set("fs.closable.impl", classOf[ClosableFileSystem].getName)
    val root = new Path(s"closable://${Files.createTempDirectory("log-close")}")
    val log = new TableLog(root.getFileSystem(conf), new Path(root, "_meta"), "t")
    log.commit("create")(_ => (schema, Nil, Seq(entry("a")), Map.empty, Map.empty))
    root.getFileSystem(conf).close() // drops the client from Hadoop's cache too
    log.commit("append")(p => (schema, Nil, p.get.entries :+ entry("b"), Map.empty, Map.empty))
    log.head.get.entries.map(_.dir) shouldBe Seq("a", "b")
  }

  test("racing writers on the rename claim path") {
    val conf = new Configuration()
    conf.set("fs.atomicrename.impl", classOf[AtomicRenameFileSystem].getName)
    val root = Files.createTempDirectory("log-stress-rename").toString
    val fs = new Path(s"atomicrename://$root").getFileSystem(conf)
    fs.getUri.getScheme shouldBe "atomicrename"
    raceAll(fs, s"atomicrename://$root") should be >= 500
  }
}
