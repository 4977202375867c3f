package graft.store

import java.io.FileNotFoundException
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** The metadata log of one table lineage: every file under its meta dir,
  * and the commit protocol over them. Hadoop `FileSystem` and Jackson
  * only — [[LakeTable]] runs the Spark side and calls the log.
  *
  * Layout (`<loc>` is the table location, the root meta dir is
  * `<loc>/_meta`; a branch's log is `branch-<b>/` under its parent's):
  * {{{
  *   <meta>/v<%05d>.json                one snapshot per committed version
  *   <meta>/tags-v<%05d>.json           the tags map, one file per update
  *   <meta>/fork.json                   a branch's fork point
  *   <meta>/branch-<b>/                 branch b's log
  *   <loc>/_meta/manifests/seg-*.json   segment files, shared by all branches
  *   <loc>/stats/v<%05d>.stats.json     table statistics of one version
  * }}}
  *
  * Commit = build the snapshot on the head, write its segment files,
  * write the snapshot JSON in full to a hidden temp file, then claim
  * `v<head+1>.json` from it. The claim is the commit point: on the
  * `file` scheme it creates a hard link, which fails if the target
  * exists; elsewhere it is `FileSystem.rename`, which on HDFS refuses an
  * existing target. Either way exactly one claimant wins each version
  * and a reader never sees a partial file — the atomic put-if-absent of
  * the next log record that Iceberg's HadoopTableOperations and the
  * Delta log build on. A lost claim throws `CommitConflictException`;
  * tag updates claim `tags-v<n+1>.json` the same way.
  *
  * Manifest tree (Iceberg's manifest list → manifest files): a snapshot
  * stores [[SegmentRef]]s into immutable segment files and a commit
  * writes only the entries it changed, so an append to a 10^5-entry
  * table writes one small segment plus a KB-sized snapshot (measured by
  * `graft.Probe <sf> manifest`). Branches, publishes and rollbacks share
  * segment files byte-for-byte.
  *
  * `fs` is by name, looked up per operation: a log that outlives a flush
  * of Hadoop's FileSystem cache (stream daemon recovery) gets a fresh one.
  */
final class TableLog(fs: => FileSystem, val dir: Path, name: String) {
  import TableLog._

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  // the root lineage's meta dir: branch logs nest under it
  private val rootDir: Path =
    Iterator.iterate(dir)(_.getParent).find(!_.getName.startsWith("branch-")).get
  private[graft] val segmentDir = new Path(rootDir, "manifests")
  private val statsDir = new Path(rootDir.getParent, "stats")

  private[graft] def versionFile(v: Long) = new Path(dir, f"v$v%05d.json")
  private def tagsFile(v: Long) = new Path(dir, f"tags-v$v%05d.json")
  private def statsFile(v: Long) = new Path(statsDir, f"v$v%05d.stats.json")
  private def forkFile = new Path(dir, "fork.json")
  private def legacyTagsFile = new Path(dir, "tags.json")

  // -------------------------------------------------------------------
  // files
  // -------------------------------------------------------------------

  /** Numbers of the files in `d` whose names `re` matches, ascending. */
  private def numbered(d: Path, re: Regex): Seq[Long] =
    try fs.listStatus(d).toSeq.map(_.getPath.getName).collect { case re(v) => v.toLong }.sorted
    catch { case _: FileNotFoundException => Nil }

  private def readJson(p: Path): JsonNode = {
    val in = fs.open(p)
    try Mapper.readTree(in) finally in.close()
  }

  private def create(p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(bytes) finally out.close()
  }

  private def pretty(n: JsonNode): Array[Byte] =
    Mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(n)

  /** Claim `target` with `bytes`: write a hidden temp file in full, then
    * link (`file` scheme) or rename it onto `target`. False when another
    * claimant holds `target`. A plain local rename would be an
    * exists-check-then-move through ChecksumFileSystem and replaces the
    * target, so the `file` scheme links instead. */
  private def claim(target: Path, bytes: Array[Byte]): Boolean = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    create(tmp, bytes, overwrite = true)
    try {
      if (fs.getUri.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else fs.rename(tmp, target)
    } finally { fs.delete(tmp, false); () }
  }

  // -------------------------------------------------------------------
  // snapshots
  // -------------------------------------------------------------------

  def versions: Seq[Long] = numbered(dir, VersionFileRe)

  def headVersion: Option[Long] = versions.lastOption

  def head: Option[Snapshot] = headVersion.map(read)

  def read(version: Long): Snapshot = {
    val n = readJson(versionFile(version))
    def entriesOf(field: String): Seq[ManifestEntry] =
      Option(n.get(field)).filter(!_.isNull).map(
        _.elements().asScala.map(parseEntry).toSeq).getOrElse(Nil)
    val segments = segmentRefs(n)
    val entries = segments match {
      case Some(refs) => refs.flatMap(loadSegment)
      case None => entriesOf("entries") // pre-segment inline format
    }
    val deleteEntries = entriesOf("deleteEntries")
    Snapshot(
      version = n.get("version").asLong(),
      parentVersion = Option(n.get("parent")).filter(!_.isNull).map(_.asLong()),
      operation = n.get("operation").asText(),
      timestampMs = n.get("timestampMs").asLong(),
      schema = DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      partitionCols = n.get("partitionCols").elements().asScala.map(_.asText()).toSeq,
      entries = entries,
      properties = objToMap(n.get("properties")),
      summary = objToMap(n.get("summary")),
      deleteEntries = deleteEntries,
      lastSequenceNumber = {
        // back-compat: snapshots from before the counter stamped seqs
        // with the commit VERSION (and publish could floor the version
        // past imported seqs), so max(version, manifest seqs) is the
        // exact value the counter would have recorded
        val fromFile = Option(n.get("lastSequenceNumber")).filter(!_.isNull).map(_.asLong())
        fromFile.getOrElse(
          (n.get("version").asLong() +: (entries ++ deleteEntries).map(_.seq)).max)
      },
      segments = segments.getOrElse(Nil))
  }

  def all: Seq[Snapshot] = versions.map(read)

  def delete(version: Long): Unit = { fs.delete(versionFile(version), false); () }

  /** Write `s` as version `s.version`, reusing `reuse` segment files
    * where their entries all survive; returns `s` with the segment refs
    * it was written with. Throws `CommitConflictException` when another
    * writer holds the version. */
  private def write(s: Snapshot, reuse: Seq[SegmentRef]): Snapshot = {
    val n = Mapper.createObjectNode()
    n.put("version", s.version)
    s.parentVersion.fold[Unit](n.putNull("parent"))(v => { n.put("parent", v); () })
    n.put("operation", s.operation)
    n.put("timestampMs", s.timestampMs)
    n.put("lastSequenceNumber", s.lastSequenceNumber)
    n.put("schema", s.schema.json)
    val pc = n.putArray("partitionCols"); s.partitionCols.foreach(pc.add)
    // entries live in immutable segment files; the snapshot stores refs
    val segments = StoreTiming.time("meta.segment-layout")(segmentLayout(s, reuse))
    val segArr = n.putArray("segments")
    segments.foreach { r =>
      val o = segArr.addObject(); o.put("file", r.file); o.put("count", r.count); ()
    }
    // outstanding MoR delete files stay inline: their count is bounded
    // by position-delete compaction, and their seq numbers change
    // relative to readers too often to be worth segment reuse
    if (s.deleteEntries.nonEmpty) {
      val arr = n.putArray("deleteEntries")
      s.deleteEntries.foreach(putEntry(arr, _))
    }
    val props = n.putObject("properties"); s.properties.foreach { case (k, v) => props.put(k, v) }
    val sum = n.putObject("summary"); s.summary.foreach { case (k, v) => sum.put(k, v) }
    StoreTiming.time("meta.snapshot-io") {
      if (!claim(versionFile(s.version), pretty(n)))
        throw new CommitConflictException(s"concurrent commit on $name v${s.version}", null)
    }
    s.copy(segments = segments)
  }

  /** Optimistic commit. `retries > 0` is only safe for ADDITIVE builds
    * (append, ledger insert, MoR merge/delete): `buildEntries` re-runs
    * against the fresh parent after a lost race, so the new manifest is
    * rebuilt on top of the winner. Rewriting commits (COW merge/delete,
    * compaction) instead pass `requireParentVersion` — the snapshot
    * version their rewrite READ — and the commit throws
    * `CommitConflictException` when the table has moved past it, like
    * Iceberg's base-snapshot validation: without the check a racer's
    * commit landing between the read and the claim would be silently
    * overwritten by the stale rewrite (lost update), because the claim
    * targets the FRESH head's successor version and succeeds. Replace-
    * semantics ops (create-or-replace, overwrite, rollback) skip the
    * check by design — clobbering the head is what they mean. Retry
    * bounds mirror the reference's contended ledger tableProperties
    * (`watermark.py:58-60`): commit.retry.num-retries=20,
    * commit.retry.min-wait-ms=200. */
  def commit(
      operation: String,
      retries: Int = 0,
      retryWaitMs: Long = 200,
      parentOverride: Option[Long] = None,
      requireParentVersion: Option[Long] = None,
      // merge-on-read delete files: default carries the parent's
      // outstanding deletes forward (COW commits never touch them);
      // MoR writers append, position-delete compaction clears
      deleteEntriesFn: Option[Snapshot] => Seq[ManifestEntry] =
        p => p.map(_.deleteEntries).getOrElse(Nil),
      // segment files beyond the parent's that this commit's entries may
      // be reusable from (a publish donates the branch head's segments,
      // a rollback the restored version's)
      extraReuseRefs: Seq[SegmentRef] = Nil)(
      buildEntries: Option[Snapshot] => (StructType, Seq[String], Seq[ManifestEntry], Map[String, String], Map[String, String])): Snapshot =
    synchronized {
      var attempt = 0
      var result: Snapshot = null
      while (result == null) {
        val parent = head
        requireParentVersion.foreach { v =>
          if (!parent.exists(_.version == v))
            throw new CommitConflictException(
              s"$operation on $name read v$v but the table is at " +
                s"v${parent.map(_.version).getOrElse(0L)} — a concurrent " +
                "commit may have changed rows this rewrite read", null)
        }
        val (sch, pcols, entries, props, summary) =
          StoreTiming.time("commit.build-entries")(buildEntries(parent))
        // versions are STRICTLY CONTIGUOUS (parent+1, never floored):
        // the claim protocol serializes writers only when every commit
        // targets the head's immediate successor — a version gap would
        // let a concurrent additive writer claim the gap file
        // "successfully" while the head (max version) ignores it,
        // silently orphaning an acknowledged commit
        val version = parent.map(_.version + 1).getOrElse(1L)
        // freshly-written entries carry the StampAtCommit sentinel —
        // their data sequence number comes from the monotonic counter,
        // NOT the version (a publish may import higher branch seqs)
        val commitSeq = parent.map(_.lastSequenceNumber).getOrElse(0L) + 1
        def stamp(es: Seq[ManifestEntry]) =
          es.map(e => if (e.seq == StampAtCommit) e.copy(seq = commitSeq) else e)
        val stampedEntries = stamp(entries)
        val stampedDeletes = stamp(deleteEntriesFn(parent))
        val snap = Snapshot(
          version = version,
          // a rollback re-parents onto the RESTORED version so the
          // rolled-back commits leave the ancestry chain
          parentVersion = parentOverride.orElse(parent.map(_.version)),
          operation = operation,
          timestampMs = System.currentTimeMillis(),
          schema = sch,
          partitionCols = pcols,
          entries = stampedEntries,
          properties = props,
          summary = summary,
          deleteEntries = stampedDeletes,
          // counter covers every seq reachable from this snapshot, so a
          // future delete file always sequences strictly above imported
          // branch entries too
          lastSequenceNumber =
            (commitSeq +: (stampedEntries ++ stampedDeletes).map(_.seq)).max)
        try result = write(snap, parent.map(_.segments).getOrElse(Nil) ++ extraReuseRefs)
        catch {
          case e: CommitConflictException =>
            attempt += 1
            if (attempt > retries) throw e
            Thread.sleep(retryWaitMs)
        }
      }
      result
    }

  // -------------------------------------------------------------------
  // segments
  // -------------------------------------------------------------------

  private def segmentRefs(n: JsonNode): Option[Seq[SegmentRef]] =
    Option(n.get("segments")).filter(!_.isNull).map(_.elements().asScala.map(e =>
      SegmentRef(e.get("file").asText(), e.get("count").asInt())).toSeq)

  /** Cache-through read of one immutable segment file. */
  private[graft] def loadSegment(ref: SegmentRef): Seq[ManifestEntry] = {
    val p = new Path(segmentDir, ref.file)
    segmentCache.getOrElseUpdate(p.toString) {
      readJson(p).elements().asScala.map(parseEntry).toSeq
    }
  }

  /** Write one immutable segment file (UUID-named — never contended;
    * a lost commit's segments become unreferenced and are swept by
    * maintenance). */
  private def writeSegment(entries: Seq[ManifestEntry]): SegmentRef = {
    val file = s"seg-${UUID.randomUUID()}.json"
    val arr = Mapper.createArrayNode()
    entries.foreach(putEntry(arr, _))
    fs.mkdirs(segmentDir)
    val p = new Path(segmentDir, file)
    create(p, Mapper.writeValueAsBytes(arr), overwrite = false)
    segmentCache.put(p.toString, entries)
    SegmentRef(file, entries.size)
  }

  /** Segment layout for snapshot `s`: reuse every donor segment whose
    * entries ALL survive into `s` (appends reuse the whole parent
    * layout; a pruned COW rewrite reuses the untouched segments), write
    * the rest into fresh target-sized segment files. When the layout
    * would exceed the fanout cap, small segments fold together —
    * Iceberg's `commit.manifest.min-count-to-merge` behavior — so
    * segment-file count grows O(entries / target), never O(commits). */
  private def segmentLayout(s: Snapshot, reuseRefs: Seq[SegmentRef]): Seq[SegmentRef] = {
    val target = s.properties.get("manifest.target-segment-entries")
      .map(_.toInt).getOrElse(SegmentTargetEntries)
    val maxSegs = s.properties.get("manifest.max-segments")
      .map(_.toInt).getOrElse(MaxSegments)
    val remaining = scala.collection.mutable.HashSet.empty[ManifestEntry]
    remaining ++= s.entries
    // duplicate entries would double-claim through the set — fall back
    // to a plain chunked write (never expected; correctness guard)
    val reused: Seq[(SegmentRef, Seq[ManifestEntry])] =
      if (remaining.size != s.entries.size) Nil
      else reuseRefs.distinctBy(_.file).flatMap { r =>
        // Donor liveness vs a racing segment sweep: (1) TOUCH the donor
        // so the sweep's age guard re-protects it for a full grace
        // window, then (2) verify it on disk even when its content is
        // cached — a miss just rewrites fresh. The touch is the ONLY
        // protection standing between the donor and a sweep whose stat
        // predates this commit, so a FAILED touch (IOException, or an
        // FS that doesn't support setTimes) must also skip reuse — the
        // entries are rewritten into fresh segments rather than
        // committing a reference the sweep may still delete. With the
        // sweep re-checking mtime immediately before each delete, a
        // dangling reference needs the sweep's stat→delete gap to
        // straddle this touch→claim span — in practice: keep the gc
        // grace above the longest-running commit, the same operational
        // contract as Iceberg's remove_orphan_files retention.
        val es = try {
          val p = new Path(segmentDir, r.file)
          if (!fs.exists(p)) Nil
          else {
            fs.setTimes(p, System.currentTimeMillis(), -1)
            loadSegment(r)
          }
        } catch { case scala.util.control.NonFatal(e) =>
          // correctness-safe but costly if persistent (every commit then
          // rewrites O(entries) segments instead of reusing) — say so,
          // the same degraded-mode visibility Settings' vault fallback has
          logger.warn(
            s"segment donor ${r.file} not reused " +
              s"(${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}); " +
              "rewriting entries fresh")
          Nil
        }
        if (es.nonEmpty && es.forall(remaining.contains)) {
          es.foreach(remaining -= _)
          Some(r -> es)
        } else None
      }
    val leftover = s.entries.filter(remaining.contains)
    val projected = reused.size + (leftover.size + target - 1) / target
    if (projected <= maxSegs)
      reused.map(_._1) ++ leftover.grouped(target).map(writeSegment)
    else {
      val (big, small) = reused.partition(_._2.size >= target / 2)
      big.map(_._1) ++
        (small.flatMap(_._2) ++ leftover).grouped(target).map(writeSegment)
    }
  }

  /** Delete segment files that no retained snapshot of any of
    * [[lineages]] (every log sharing this segment dir) references and
    * that are older than `olderThanMs`. The age guard covers the commit
    * window: a concurrent writer's freshly-written segments are not
    * referenced until its snapshot claim lands, exactly like Iceberg's
    * orphan-file grace. */
  def sweepSegments(olderThanMs: Long): Int = {
    if (!fs.exists(segmentDir)) return 0
    // refs only: a sweep needs no entries, so it parses no segments
    def refsOf(l: TableLog, v: Long): Seq[SegmentRef] =
      try segmentRefs(l.readJson(l.versionFile(v))).getOrElse(Nil)
      catch { case _: FileNotFoundException => Nil } // expired meanwhile
    val referenced = lineages.flatMap(l => l.versions.flatMap(refsOf(l, _))).map(_.file).toSet
    val victims = fs.listStatus(segmentDir).toSeq.filter(st =>
      !referenced(st.getPath.getName) && st.getModificationTime < olderThanMs)
    // re-stat immediately before each delete: a committing writer
    // re-touches donor segments it is about to reference, so a fresh
    // mtime here means the file came back into (imminent) use
    victims.count { st =>
      val live = try fs.getFileStatus(st.getPath).getModificationTime >= olderThanMs
        catch { case _: java.io.IOException => true } // vanished/unreadable: skip
      if (!live) fs.delete(st.getPath, false) else false
    }
  }

  // -------------------------------------------------------------------
  // refs: tags, branches, the fork record
  // -------------------------------------------------------------------

  /** The tags map. It lives in a VERSIONED file claimed like a
    * snapshot: readers always observe a complete file (no
    * delete-then-rename window in which tag pins vanish and a racing
    * expire could collect tagged snapshots), and concurrent writers on
    * separate instances retry their read-modify-write instead of
    * silently losing tags. */
  def tags: Map[String, Long] = {
    def readAt(p: Path): Map[String, Long] =
      readJson(p).properties().iterator().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    def attempt(triesLeft: Int): Map[String, Long] =
      numbered(dir, TagsFileRe).lastOption match {
        case Some(v) =>
          // the newest file may be cleaned up between list and open by a
          // racing writer's post-claim sweep — re-list and retry
          try readAt(tagsFile(v))
          catch { case e: FileNotFoundException =>
            if (triesLeft > 0) attempt(triesLeft - 1) else throw e
          }
        case None =>
          if (fs.exists(legacyTagsFile)) readAt(legacyTagsFile) else Map.empty
      }
    // retries sized with the writer-side retention window: each retry
    // re-lists, so only > TagGenerationsRetained consecutive claims
    // landing inside ONE open attempt could outrun a reader
    attempt(6)
  }

  /** Read-modify-write of the tags map via a claim of the next
    * `tags-v<n>.json`; a lost claim re-reads and re-applies `f` (bounded
    * retries). Files more than [[TableLog.TagGenerationsRetained]]
    * generations old are swept best-effort, so an in-flight reader that
    * listed before this claim still finds its file. */
  def updateTags(f: Map[String, Long] => Map[String, Long]): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      val next = numbered(dir, TagsFileRe).lastOption.getOrElse(0L) + 1
      val n = Mapper.createObjectNode()
      f(tags).foreach { case (k, v) => n.put(k, v) }
      if (claim(tagsFile(next), pretty(n))) {
        numbered(dir, TagsFileRe).filter(_ < next - TagGenerationsRetained)
          .foreach(v => try fs.delete(tagsFile(v), false) catch { case _: java.io.IOException => () })
        try fs.delete(legacyTagsFile, false) catch { case _: java.io.IOException => () }
        done = true
      } else {
        attempt += 1
        if (attempt > 20)
          throw new CommitConflictException(s"concurrent tag writes on $name", null)
      }
    }
  }

  def branch(b: String): TableLog = new TableLog(fs, new Path(dir, s"branch-$b"), s"$name@$b")

  def branches: Seq[String] =
    try fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("branch-"))
      .map(_.getPath.getName.stripPrefix("branch-"))
      .sorted
    catch { case _: FileNotFoundException => Nil }

  def dropBranch(b: String): Unit = { fs.delete(new Path(dir, s"branch-$b"), true); () }

  /** Every log in the table's ref tree, walked from the ROOT lineage
    * whichever log asks: the root plus all branches, recursively. They
    * all share the segment dir and the table's data dirs. */
  def lineages: Seq[TableLog] = {
    def walk(l: TableLog): Seq[TableLog] = l +: l.branches.map(l.branch).flatMap(walk)
    walk(if (dir == rootDir) this else new TableLog(fs, rootDir, name.takeWhile(_ != '@')))
  }

  /** Start this (branch) log as a copy of `from` — same version number,
    * the parent's segment files reused verbatim, so a fork is
    * metadata-only even at 10^5 entries — and record the fork point
    * OUTSIDE the snapshot lineage: branch-side expiry may drop the fork
    * snapshot itself, and a publish gate must not depend on which
    * snapshots the branch retained. */
  def fork(from: Snapshot, summary: Map[String, String]): Unit = {
    write(from.copy(operation = "fork", summary = summary), from.segments)
    val n = Mapper.createObjectNode().put("fork-version", from.version)
    create(forkFile, Mapper.writeValueAsBytes(n), overwrite = true)
  }

  /** The recorded fork point; None for a branch created before the
    * fork record existed. */
  def forkVersion: Option[Long] =
    if (!fs.exists(forkFile)) None else Some(readJson(forkFile).get("fork-version").asLong())

  // -------------------------------------------------------------------
  // table statistics
  // -------------------------------------------------------------------

  /** Store `st` as the stats of its version, replacing older stats
    * files (they are derivable). */
  def writeStats(st: TableStats): TableStats = {
    val root = Mapper.createObjectNode()
    root.put("version", st.version)
    root.put("rowCount", st.rowCount)
    val cn = root.putObject("columns")
    st.sketches.keys.toSeq.sorted.foreach { c =>
      val o = cn.putObject(c)
      o.put("ndv", st.ndv(c))
      o.put("sketch", java.util.Base64.getEncoder.encodeToString(st.sketches(c)))
    }
    create(statsFile(st.version), pretty(root), overwrite = true)
    numbered(statsDir, StatsFileRe).filter(_ != st.version)
      .foreach(v => fs.delete(statsFile(v), false))
    st
  }

  /** The newest stored stats at or below `version`. */
  def stats(version: Long): Option[TableStats] =
    numbered(statsDir, StatsFileRe).filter(_ <= version).lastOption.map { v =>
      val n = readJson(statsFile(v))
      val cols = n.get("columns")
      val names = cols.fieldNames().asScala.toSeq
      TableStats(
        n.get("version").asLong,
        n.get("rowCount").asLong,
        names.map(c => c -> cols.get(c).get("ndv").asLong).toMap,
        names.map(c =>
          c -> java.util.Base64.getDecoder.decode(cols.get(c).get("sketch").asText)).toMap)
    }
}

object TableLog {

  /** The log of the table at `location`. */
  def at(fs: => FileSystem, location: String, name: String): TableLog =
    new TableLog(fs, new Path(s"$location/_meta"), name)

  private val VersionFileRe = "v(\\d+)\\.json".r
  private val TagsFileRe = "tags-v(\\d+)\\.json".r
  private val StatsFileRe = "v(\\d+)\\.stats\\.json".r

  /** Sentinel sequence number on freshly-written manifest entries;
    * [[TableLog.commit]] replaces it with the commit's stamp from the
    * monotonic `lastSequenceNumber` counter. */
  private[store] val StampAtCommit = -1L

  /** Superseded `tags-v<n>.json` generations kept on each successful
    * claim. Sized so a reader's bounded re-list retries cannot be
    * outrun by back-to-back tag writers sweeping files under it. */
  private val TagGenerationsRetained = 4L

  /** Target entries per manifest segment file (override per table with
    * `manifest.target-segment-entries`). ~250 B of JSON per entry →
    * ~1 MB segments at the default. */
  private val SegmentTargetEntries = 4096

  /** Segment-count cap per snapshot before small segments fold together
    * (override with `manifest.max-segments`). Bounds both the snapshot
    * JSON and the per-commit reuse check. */
  private val MaxSegments = 64

  // Immutable-segment content cache (the manifest cache every Iceberg
  // runtime keeps): keyed by absolute file path — safe because segment
  // files are write-once — bounded by total cached entries, LRU.
  private val segmentCache =
    new graft.core.BoundedCache[String, Seq[ManifestEntry]](500000, _.size.toLong)

  private val Mapper = new ObjectMapper()

  private def objToMap(n: JsonNode): Map[String, String] =
    if (n == null) Map.empty
    else n.properties().iterator().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def parseEntry(e: JsonNode): ManifestEntry = {
    val stats = Option(e.get("stats")).filter(!_.isNull).map { sn =>
      sn.properties().asScala.map { kv =>
        kv.getKey -> (kv.getValue.get("min").asText(), kv.getValue.get("max").asText())
      }.toMap
    }.getOrElse(Map.empty[String, (String, String)])
    ManifestEntry(
      e.get("dir").asText(),
      Option(e.get("partition")).filter(!_.isNull).map(_.asText()),
      stats,
      Option(e.get("seq")).filter(!_.isNull).map(_.asLong()).getOrElse(0L),
      Option(e.get("blooms")).filter(!_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))
  }

  private def putEntry(arr: ArrayNode, e: ManifestEntry): Unit = {
    val en = arr.addObject()
    en.put("dir", e.dir)
    e.partition.fold[Unit](en.putNull("partition"))(p => { en.put("partition", p); () })
    if (e.stats.nonEmpty) {
      val sn = en.putObject("stats")
      e.stats.foreach { case (c, (mn, mx)) =>
        val cn = sn.putObject(c); cn.put("min", mn); cn.put("max", mx)
      }
    }
    if (e.seq != 0L) en.put("seq", e.seq)
    if (e.blooms.nonEmpty) {
      val bn = en.putArray("blooms")
      e.blooms.foreach(bn.add)
    }
  }
}
