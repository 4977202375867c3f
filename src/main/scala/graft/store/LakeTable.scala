package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DeleteKeyMask, DeleteKeys, SparkSession, StoreWrite}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}

/** Snapshot metadata for one committed table version.
  *
  * `entries` is the manifest: each entry names a data directory (one
  * Spark write) and, for partitioned tables, the Hive-style partition
  * path inside it ("p=v[/p2=v2]"). A snapshot may reference directories
  * written by EARLIER snapshots — that is what makes appends and
  * partition-pruned rewrites O(changed data), not O(table).
  *
  * `seq` is the entry's DATA SEQUENCE NUMBER, stamped from the table's
  * monotonic `lastSequenceNumber` counter (0 for entries from before
  * sequence tracking). It orders data against merge-on-read delete
  * files: a delete entry applies only to data entries with a strictly
  * LOWER sequence — the Iceberg v2 sequencing rule. Sequence numbers
  * are DELIBERATELY decoupled from snapshot versions: versions are
  * strictly contiguous (parent+1, the claim-file serialization
  * invariant), while sequences can jump when a publish imports branch
  * entries stamped by the branch's own counter.
  */
case class ManifestEntry(
    dir: String,
    partition: Option[String],
    stats: Map[String, (String, String)] = Map.empty,
    seq: Long = 0L,
    // columns with a bloom sidecar file for this entry's leaf (point-
    // lookup file skipping; the filter bytes live OUTSIDE the manifest,
    // under <location>/blooms/<dir>/..., so metadata stays small)
    blooms: Seq[String] = Nil) {
  def dataPath(tableLocation: String): String = {
    val base = s"$tableLocation/data/$dir"
    partition.map(p => s"$base/$p").getOrElse(base)
  }
}

/** Reference to one immutable manifest-segment file
  * (`<root-meta>/manifests/<file>`, a JSON array of [[ManifestEntry]]).
  * Snapshot metadata stores segment references instead of inline
  * entries — Iceberg's manifest-list → manifest-file indirection — so
  * a commit re-serializes only the entries it CHANGED and reuses the
  * parent's segment files for the rest: commit metadata cost is
  * O(changed entries + refs), not O(table entries). Segment files are
  * content-immutable and shared across the whole ref tree (branches,
  * publishes, rollbacks reuse them byte-for-byte). */
case class SegmentRef(file: String, count: Int)

/** Table-level column statistics (the Iceberg Puffin / ANALYZE TABLE
  * analog): per-column DataSketches HLL sketches + estimated NDVs and
  * the exact row count, pinned to the snapshot `version` they were
  * computed at. Sketches are kept (not just the estimates) because HLL
  * is MERGEABLE: an append-only increment unions in O(increment) —
  * the production refresh shape — while row-rewriting commits force a
  * full re-analyze (HLL cannot subtract). */
case class TableStats(
    version: Long,
    rowCount: Long,
    ndv: Map[String, Long],
    sketches: Map[String, Array[Byte]])

/** `deleteEntries` are outstanding merge-on-read EQUALITY-DELETE files
  * (parquet of key tuples, `seq` = the deleting commit's sequence
  * number); a read drops any data row whose key appears in a delete
  * entry with a higher sequence. Empty for copy-on-write tables.
  *
  * `lastSequenceNumber` is the table's monotonic data-sequence counter
  * (Iceberg's field of the same name): every commit stamps its fresh
  * entries with `parent.lastSequenceNumber + 1` and records the max
  * sequence reachable from this snapshot, so any FUTURE delete file is
  * guaranteed a strictly higher sequence than every entry already in
  * the manifest — including entries a publish imported from a branch
  * whose counter ran ahead of main's. Decoupling this counter from the
  * version number is what keeps versions strictly contiguous. */
case class Snapshot(
    version: Long,
    parentVersion: Option[Long],
    operation: String,
    timestampMs: Long,
    schema: StructType,
    partitionCols: Seq[String],
    entries: Seq[ManifestEntry],
    properties: Map[String, String],
    summary: Map[String, String],
    deleteEntries: Seq[ManifestEntry] = Nil,
    lastSequenceNumber: Long = 0L,
    // the segment files `entries` were read from or written to (empty
    // for a pre-segment inline snapshot and for one not yet written)
    segments: Seq[SegmentRef] = Nil)

/** Parquet-backed versioned table with an Iceberg-style optimistic
  * snapshot-commit protocol — the local stand-in for the reference's
  * Iceberg v2 tables (`/root/reference/src/utils/iceberg.py:37-96`; no
  * iceberg runtime jar ships in /opt/spark/jars, so the table format is
  * hand-rolled on plain parquet + JSON metadata).
  *
  * The commit protocol, the metadata layout and the manifest tree
  * (snapshot JSON → immutable segment files) live in [[TableLog]]; this
  * class runs the Spark side — DML, reads, maintenance and the
  * metadata views — and commits through the log.
  *
  * Scale design:
  *  - append never touches existing data (new manifest = old ++ new);
  *  - MERGE/DELETE are copy-on-write but PARTITION-PRUNED: only data
  *    directories whose partition appears in the source batch are
  *    rewritten — at 100 TB a date-partitioned CDC target rewrites a few
  *    recent partitions per micro-batch, not the table;
  *  - heavy-update tables can run MERGE-ON-READ instead
  *    ([[mergeIntoMoR]]/[[deleteWhereExistsMoR]]): O(batch) equality-
  *    delete commits, folded back by [[rewritePositionDeleteFiles]];
  *  - readers get plain parquet scans (vectorized, filter-pushdown,
  *    partition-pruned by Catalyst via the Hive dir layout).
  *
  * Entries are per write-directory × partition (NOT per data file); any
  * full rewrite ([[rewriteDataFiles]], clustering) collapses the
  * manifest to O(current partitions). Remaining driver-side bound:
  * PLANNING walks the materialized entry list in memory (~20 ms at
  * 10^5 entries, measured by `graft.Probe <sf> manifest`).
  */
class LakeTable(
    val spark: SparkSession,
    val location: String,
    val name: String,
    // the log of a branch handle (see [[branch]]); the table's own otherwise
    branchLog: Option[TableLog] = None) {

  import LakeTable._
  import TableLog.StampAtCommit

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fs: FileSystem = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] val log: TableLog = branchLog.getOrElse(TableLog.at(fs, location, name))

  /** Runs an additive commit under its lineage's in-JVM commit lock:
    * handles in one JVM then claim one at a time, so none of them loses
    * a claim to another and sleeps its retry wait, while the data
    * writes before the commit still run in parallel. Writers in other
    * processes still race on the claim ([[TableLog.commit]]). */
  private def serialized(commit: => Snapshot): Snapshot =
    commitLocks.computeIfAbsent(fs.makeQualified(log.dir).toString, _ => new Object)
      .synchronized(commit)

  // -------------------------------------------------------------------
  // metadata
  // -------------------------------------------------------------------

  def exists: Boolean = log.headVersion.isDefined

  def currentSnapshot: Option[Snapshot] = log.head

  def snapshot(version: Long): Snapshot = log.read(version)

  def schema: StructType = requireExists().schema

  def properties: Map[String, String] =
    currentSnapshot.map(_.properties).getOrElse(Map.empty)

  // -------------------------------------------------------------------
  // data IO
  // -------------------------------------------------------------------

  /** Write one immutable data dir and return its manifest entries, with
    * per-entry column min/max stats harvested from the parquet FOOTERS
    * the write already produced — metadata-sized reads, no second data
    * pass. (Iceberg collects the same metrics inside its write tasks;
    * here small commits read footers on the driver, latency-overlapped,
    * while writes past `write.stats.distributed-min-files` harvest via
    * one distributed job — see [[FooterHarvest]] — so a 10³–10⁴-file
    * backfill pays zero driver-side footer opens on the commit path.) */
  private def writeData(
      df: DataFrame,
      partitionCols: Seq[String],
      props: Map[String, String] = Map.empty): (String, Seq[ManifestEntry]) =
      StoreConf.bytesFirstCoalesce(spark) {
    val dir = UUID.randomUUID().toString.take(18)
    val abs = s"$location/data/$dir"
    // HASH-DISTRIBUTE laid-out writes on the layout columns (Iceberg's
    // write.distribution-mode=hash): without it every shuffle task
    // holding rows of a leaf writes its own file there — tasks × leaves
    // small files per commit, which bloats the footer-stats harvest,
    // the manifest, and every downstream open. The AQE REBALANCE
    // shuffle co-locates each leaf's rows, coalesces small leaves into
    // shared tasks AND splits a skewed leaf across several (a plain
    // repartition would serialize a huge single-partition batch through
    // one task) — files-per-commit tracks LEAVES (+ skew splits), not
    // tasks × leaves.
    // UNPARTITIONED tables opt into a keyless REBALANCE with
    // `write.distribution-mode=rebalance`: a batch arriving from a
    // shuffle lands one file PER REDUCER otherwise (shuffle.partitions
    // tiny files per commit — at cluster partition counts that is 10³
    // small files per micro-batch append), while the AQE rebalance
    // sizes output files by advisoryPartitionSizeInBytes at any scale.
    // Not the default: a large already-well-partitioned batch would pay
    // a full extra shuffle for nothing (Iceberg's unpartitioned default
    // is distribution-mode=none for the same reason). The index tables
    // (LSH bands/toks), whose every commit is a wide shuffled frame of
    // small rows, set it at create time.
    // rows the driver already holds are written there, with no job:
    // checked on the frame itself, before the distribution or sort
    // below puts a node over its LocalRelation. A sort order keeps the
    // Spark write (its range split and ZORDER ranking are jobs).
    val local = if (props.contains("write.sort-order")) None else StoreWrite.local(df)
    val out = local.toLeft {
      val distributed =
        if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols.map(col): _*)
        else if (props.get("write.distribution-mode").contains("rebalance"))
          df.hint("rebalance")
        else df
      // write.sort-order (Iceberg's table sort order, applied AT INGEST):
      // cluster + locally sort every write so data files carry tight,
      // near-disjoint column ranges from the first commit — parquet
      // row-group skipping then works on the sort key without waiting
      // for a sorted compaction pass. Unpartitioned tables also get a
      // RANGE distribution (files in the dir become range-disjoint);
      // partitioned writes keep the leaf-rebalance distribution and sort
      // within tasks. `zorder(a,b,...)` sorts on the interleaved-bit
      // curve ranked within THIS batch's bounds (one extra agg pass over
      // the batch), so multi-dimension row-group skipping works from
      // ingest. Missing/unsortable columns are ignored.
      val ZOrderSpec = "(?i)\\s*zorder\\(([^)]*)\\)\\s*".r
      val sortExprs: Seq[Column] = props.get("write.sort-order") match {
        case Some(ZOrderSpec(inner)) =>
          val zc = inner.split(",").toSeq.map(_.trim)
            .filter(c => c.nonEmpty && df.schema.fieldNames.contains(c))
          if (zc.size >= 2) zOrderExpr(df, zc).toSeq else Nil
        case Some(cols) => cols.split(",").toSeq.map(_.trim)
          .filter(c => c.nonEmpty && df.schema.fieldNames.contains(c)).map(col)
        case None => Nil
      }
      if (sortExprs.isEmpty) distributed
      else if (partitionCols.isEmpty)
        df.repartitionByRange(sortExprs: _*)
          .sortWithinPartitions(sortExprs: _*)
      else
        // partition cols lead the local sort so the file writer's
        // required ordering (partition cols) is already satisfied and
        // the key order inside each leaf file survives; a bare
        // sort(sortCols) would be re-sorted by the writer
        distributed.sortWithinPartitions(partitionCols.map(col) ++ sortExprs: _*)
    }
    val (filesByLeaf, harvested) =
      writeDir(out, abs, partitionCols, df.schema, props, needRows = partitionCols.isEmpty)
    // an empty unpartitioned write (e.g. a delete that emptied its
    // whole slice) commits NO entry: a zero-row entry has no stats and
    // no sidecars, so it would survive every future prune walk as a
    // permanent conservative keep — planned and "rewritten" by every
    // later operation for no rows. Partitioned writes get this for free
    // (a leaf exists iff rows landed in it).
    val entries = harvested.collect {
      case (rel, (stats, _)) if partitionCols.nonEmpty =>
        ManifestEntry(dir, Some(rel), stats, StampAtCommit)
      case (_, (stats, rows)) if rows > 0L =>
        ManifestEntry(dir, None, stats, StampAtCommit)
    }
    val bloomCols0 = bloomColumnsFor(df.schema, partitionCols, props)
    val writtenBytes = filesByLeaf.iterator.flatMap(_._2).map(_.getLen).sum
    val bloomCols =
      if (bloomCols0.isEmpty || pastBloomFloor(writtenBytes, props)) bloomCols0 else Nil
    // entries.isEmpty: an all-empty write commits nothing (see above) —
    // and its dir has no files for the sidecar read-back to infer from
    if (bloomCols.isEmpty || entries.isEmpty) (dir, entries)
    else {
      val written = StoreTiming.time("data.bloom-sidecars")(
        writeBloomSidecars(dir, abs, StructType(bloomCols.map(df.schema(_))), props))
      (dir, entries.map(e =>
        if (written(e.partition.getOrElse(""))) e.copy(blooms = bloomCols) else e))
    }
  }

  /** `write.bloom.min-table-bytes`: sidecar building starts with the
    * first commit that pushes the table past this size (absent/0 =
    * every commit builds, the default). Probes that dispatch on the
    * SAME floor (the LSH index) never consult sidecars while the table
    * is under it, so building them there is a per-commit job spent on
    * files nothing reads; entries written under the floor carry no
    * sidecar once it is crossed — [[bloomPruned]] conservatively keeps
    * them — and gain one when a rewrite re-lands their rows. The
    * parent-size probe is driver-side metadata, guarded to ≤64 entries
    * (more entries ⇒ treated as past the floor, no FS walk).
    * `writtenBytes` comes from the post-write listing the caller
    * already performed — no extra walk of the fresh dir. Byte basis
    * (changed r19 with the one-walk refactor): the sum of DATA-file
    * lengths only — `_SUCCESS`/metadata bytes no longer count, and the
    * old `getContentSummary` path's IOException → "unknown, build
    * anyway" fallback is gone (moot: the listing already succeeded by
    * the time this runs). Floor-edge writes may therefore skip a
    * sidecar build the pre-r19 basis would have performed — the
    * conservative direction (a missing sidecar only costs a keep). */
  private def pastBloomFloor(writtenBytes: Long, props: Map[String, String]): Boolean = {
    val floor = props.get("write.bloom.min-table-bytes") match {
      case Some(v) => scala.util.Try(v.toLong).getOrElse {
        logger.warn(s"unparseable write.bloom.min-table-bytes='$v' on $name; " +
          "building sidecars unconditionally")
        0L
      }
      case None => 0L
    }
    floor <= 0L || writtenBytes >= floor || currentSnapshot.exists(s =>
      s.entries.size > 64 || !dataUnder(s, floor - writtenBytes))
  }

  /** Bloom-indexed columns for this write: the `write.bloom.columns`
    * property filtered to columns the batch schema actually carries
    * with a bloom-supported type. Partition columns are EXCLUDED even
    * if listed: partition equality is already pruned exactly by
    * `withPartitionStats`, and the sidecar build reads the written dir
    * back through partition-column type INFERENCE — a string partition
    * value that looks numeric would be hashed as a long while the probe
    * hashes UTF-8 bytes per the table schema, silently dropping the
    * entry that holds the matching rows. */
  private def bloomColumnsFor(schema: StructType, partitionCols: Seq[String],
      props: Map[String, String]): Seq[String] =
    props.get("write.bloom.columns").toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filterNot(partitionCols.contains)
      .filter(c => schema.fields.exists(f =>
        f.name == c && BloomSkipping.supportedType(f.dataType)))

  /** Build every leaf's bloom sidecars in ONE column-pruned job over the
    * freshly written dir (`groupBy(leaf).agg(BloomBuildAgg...)` — the
    * aggregate OR-merges map-side, so the job carries one filter per
    * (leaf, column), never row data), then the driver writes each
    * filter to `blooms/<dir>/<leaf>/<col>.bloom`. Cost is O(batch),
    * bounded by the commit like the footer-stats harvest. Returns the
    * set of leaf rel-paths ("" = unpartitioned) that got sidecars. */
  private def writeBloomSidecars(
      dir: String,
      abs: String,
      colSchema: StructType,
      props: Map[String, String]): Set[String] = {
    import graft.expressions.BloomBuildAgg
    val cols = colSchema.fieldNames.toSeq
    val items = props.getOrElse("write.bloom.expected-items", "200000").toLong
    val fpp = props.getOrElse("write.bloom.fpp", "0.01").toDouble
    val leaf = regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(s"$dir/") + "(?:(.+)/)?[^/]+$", 1).as("__leaf")
    val aggs = cols.map(c => BloomBuildAgg.bloomAgg(col(c), items, fpp).as(c))
    val rows = spark.read.schema(colSchema).parquet(abs)
      .select(leaf +: cols.map(col): _*)
      .groupBy("__leaf")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.traverse(rows.toSeq) { r =>
        Future {
          // input_file_name() is the URI RENDERING of the path (a space
          // is %20, a Hive-escaped '%' is %25%25...), while manifest
          // partition strings are the PHYSICAL names — decode one URI
          // layer so sidecar paths and ManifestEntry.partition agree
          // (same rule as the matches scan's dir mapping)
          val raw = r.getString(0)
          val rel =
            if (raw.isEmpty) raw
            else try new java.net.URI(raw).getPath
            catch { case _: Exception => raw }
          cols.zipWithIndex.foreach { case (c, i) =>
            val sub = if (rel.isEmpty) "" else s"$rel/"
            val out = fs.create(new Path(s"$location/blooms/$dir/$sub$c.bloom"), true)
            try out.write(r.getAs[Array[Byte]](i + 1)) finally out.close()
          }
          rel
        }
      }, Duration.Inf).toSet
  }

  /** The one write step behind [[writeData]] and [[writeDeleteFile]]:
    * write `out` as parquet at `abs` through [[StoreWrite]] (on the
    * driver for rows it holds, else a Spark write), list the fresh dir
    * ONCE, check that listing against the write's own
    * committed-file count ([[validateHarvest]]), and [[harvest]] the
    * footer stats of each leaf ("" for an unpartitioned write). Returns
    * the listing (the bloom-floor byte probe reads it too) and the
    * per-leaf `(stats, rows)`, sorted by leaf.
    *
    * Committer algorithm v2: task outputs land in the destination at
    * TASK commit (parallel, executor-side) instead of the driver
    * serially merging every leaf dir at job commit — on a wide
    * multi-leaf write (an IVF batch append touches ~min(batch, nlist)
    * cell leaves) the v1 driver merge is O(leaves) of FS latency.
    * v2's risks, case by case:
    *  - mid-JOB failure (partial files in the destination): isolated
    *    by the store's design — `abs` is a fresh UUID dir no reader
    *    can reach until the MANIFEST commit references it; a failed
    *    write leaves only an orphan dir for the sweep.
    *  - partial TASK commit then task retry (the MAPREDUCE-7282
    *    class — the harvest lists the dir, so a stray file from an
    *    abandoned attempt would be committed as live rows): file names
    *    are deterministic per (split, job UUID), so a retried attempt
    *    OVERWRITES its predecessor's partials (v2's mergePaths deletes
    *    an existing destination file before renaming); strays survive
    *    only when the retry produces a DIFFERENT file set, which takes
    *    nondeterministic input placement — and Spark itself fails the
    *    job when an indeterminate stage would retry past
    *    already-committed tasks (SPARK-23207).
    *  - the residue (e.g. a lost task-commit RPC leaving the
    *    coordinator and the FS disagreeing): caught by the validation
    *    here — the dir's file count is checked against the commit
    *    protocol's OWN report for this write (`numFiles`, summed from
    *    coordinator-accepted attempts only) and a surplus fails the
    *    write BEFORE the manifest commit, leaving an orphan dir. */
  private def writeDir(
      out: Either[StoreWrite.Local, DataFrame],
      abs: String,
      partitionCols: Seq[String],
      schema: StructType,
      props: Map[String, String],
      needRows: Boolean): (Seq[(String, Seq[FileStatus])], Seq[(String, (Map[String, (String, String)], Long))]) = {
    val reported = StoreTiming.time("data.parquet-write")(
      out.fold(StoreWrite.parquet(_, abs, partitionCols), StoreWrite.parquet(_, abs, partitionCols)))
    // ONE recursive listing of the fresh dir feeds the validation
    // count, the footer-stats harvest AND the bloom-floor byte probe:
    // on an object store every recursive walk is a round-trip per
    // directory, and a write should pay for exactly one
    val filesByLeaf = StoreTiming.time("data.post-write-listing")(
      listDataFilesByLeaf(new Path(abs)))
    validateHarvest(abs, reported, filesByLeaf.iterator.map(_._2.size.toLong).sum)
    val leaves =
      if (partitionCols.isEmpty) Seq("" -> filesByLeaf.flatMap(_._2))
      else {
        // a data file at the wrong Hive depth has no entry to live
        // under — loudly impossible, not silent. Depth alone isn't
        // proof of leaf-ness: a non-Hive directory that happens to sit
        // at partition depth (a wrapper-FS staging dir, say) must not
        // be harvested as a partition whose rel path can't parse as
        // k=v values — every segment must carry '=' or the dir goes to
        // the strays warning
        val (leaves, strays) = filesByLeaf.partition { case (rel, _) =>
          rel.nonEmpty && rel.count(_ == '/') == partitionCols.length - 1 &&
            rel.split('/').forall(_.contains('='))
        }
        strays.foreach { case (rel, fl) =>
          logger.warn(s"write to $abs left ${fl.size} data files at " +
            s"non-leaf depth '$rel'; they are not harvested")
        }
        leaves
      }
    (filesByLeaf, StoreTiming.time("data.footer-stats")(harvest(leaves, schema, props, needRows)))
  }

  /** Per-leaf column chunk min/max and parquet row count from the
    * footers of the listed files, sorted by leaf — footer reads are
    * the only IO. Stats cover the stats-prunable Spark types
    * (integral, floating, string), stored as strings that pruning
    * parses back by column type; a column whose chunks lack usable
    * stats is omitted (⇒ never pruned on). Writes landing at least
    * [[statsDistMinFiles]] files harvest in ONE distributed job
    * ([[FooterHarvest.distributed]]) — zero driver-side opens for a
    * 10³–10⁴-file backfill; smaller ones open footers on the driver,
    * latency-overlapped per leaf. With no prunable column and no row
    * count wanted there is nothing to read footers FOR: every leaf
    * gets empty stats and no IO. */
  private def harvest(
      filesByLeaf: Seq[(String, Seq[FileStatus])],
      schema: StructType,
      props: Map[String, String],
      needRows: Boolean): Seq[(String, (Map[String, (String, String)], Long))] = {
    val leaves = filesByLeaf.sortBy(_._1)
    val prunable = FooterHarvest.prunableCols(schema)
    val empty = (Map.empty[String, (String, String)], 0L)
    if (prunable.isEmpty && !needRows) leaves.map { case (rel, _) => rel -> empty }
    else if (leaves.iterator.map(_._2.size).sum >= statsDistMinFiles(props)) {
      val byLeaf = FooterHarvest.distributed(spark,
        leaves.flatMap { case (rel, fl) => fl.map(f => rel -> f.getPath.toString) }, schema)
      leaves.map { case (rel, _) => rel -> byLeaf.getOrElse(rel, empty) }
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      def leafStats(leaf: (String, Seq[FileStatus])) =
        leaf._1 -> FooterHarvest.finish(leaf._2.foldLeft(FooterHarvest.EmptyPartial) { (p, st) =>
          FooterHarvest.merge(prunable, p,
            FooterHarvest.filePartial(st.getPath.toString, conf, prunable))
        })
      // footer harvesting is metadata-sized but LATENCY-bound (one
      // driver-side open per file): overlap the per-leaf reads. A single
      // leaf (every unpartitioned write and delete file) has nothing to
      // overlap and reads on the calling thread — the hop onto the
      // global pool measurably slowed the multi-topic CDC loop
      if (leaves.size <= 1) leaves.map(leafStats)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(Future.traverse(leaves)(leaf => Future(leafStats(leaf))), Duration.Inf)
      }
    }
  }

  /** `write.stats.distributed-min-files`: writes that land at least
    * this many files harvest their footer stats via ONE distributed
    * job ([[FooterHarvest.distributed]]) instead of driver-side opens;
    * under it the driver path's latency-overlapped reads win (a Spark
    * job's launch floor would dominate a handful of footer opens —
    * measured by `Probe <sf> stats`, numbers at
    * [[LakeTable.DefaultStatsDistMinFiles]]). 0 forces the distributed
    * path (spec seam); absent/unparseable = default. */
  private def statsDistMinFiles(props: Map[String, String]): Int =
    props.get("write.stats.distributed-min-files")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(LakeTable.DefaultStatsDistMinFiles)

  /** Harvest validation (see the committer-v2 comment in [[writeDir]]):
    * the manifest harvest trusts a DIRECTORY LISTING of the written
    * dir, so a stray data file left by an abandoned task attempt would
    * be committed as live rows. When [[StoreWrite]] read the write's
    * own committed-file count, a surplus file FAILS the write here —
    * before the manifest commit, so no reader ever sees the dir and it
    * becomes an orphan for the sweep. A deficit only warns: `numFiles` counts
    * empty schema-preserving files some layouts elide from listings,
    * and aborting a good commit is worse than harvesting a short dir
    * the footer reads would trip over anyway. This arity walks the dir
    * itself (spec seam); the write paths use the count-fed variant so
    * one listing serves both the validation and the stats harvest. */
  private[graft] def validateHarvest(abs: String, reported: Option[Long]): Unit =
    for {
      expected <- reported
      // the count is a NET, not a gate: a dir the wrapper FS cannot
      // re-list here would fail the harvest's own listing loudly
      // anyway — never turn a listing quirk into a false abort
      found <- scala.util.Try(
        listDataFilesByLeaf(new Path(abs)).iterator.map(_._2.size.toLong).sum).toOption
    } validateHarvest(abs, Some(expected), found)

  /** Count-fed variant: `found` comes from the post-write listing the
    * stats harvest shares, so validation adds zero FS work. */
  private def validateHarvest(abs: String, reported: Option[Long], found: Long): Unit =
    reported.foreach { expected =>
      if (found > expected)
        throw new IllegalStateException(
          s"write to $abs left $found data files but its commit protocol " +
            s"reported $expected: stray task-attempt output would be " +
            "harvested as committed rows; failing before the manifest " +
            "commit (the dir is an orphan for the sweep)")
      else if (found < expected)
        logger.warn(s"write to $abs: $found data files on disk vs " +
          s"$expected reported by the commit protocol")
    }

  /** ONE recursive listing of a freshly-written dir — the shared walk
    * behind the harvest validation count, the footer-stats harvest and
    * the bloom-floor byte probe (each recursive listing is a
    * round-trip per directory on an object store; a write pays for
    * exactly one). Data files grouped by leaf rel-path ("" = directly
    * under the root), `_temporary` pruned, hidden files skipped.
    * listStatus recursion, NOT fs.listFiles: the located-status
    * variant resolves block locations/permissions per file and chokes
    * on the wrapper-scheme filesystems the race specs exercise. */
  private def listDataFilesByLeaf(root: Path): Seq[(String, Seq[FileStatus])] = {
    def walk(p: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name == "_temporary") Nil
          else walk(st.getPath, if (prefix.isEmpty) name else s"$prefix/$name")
        }
        else if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith(".")) Seq(prefix -> st)
        else Nil
      }
    walk(root, "").groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
  }

  private def readEntries(s: Snapshot, entries: Seq[ManifestEntry]): DataFrame = {
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    // UNPARTITIONED-layout entries collapse into ONE multi-path relation:
    // a dir-per-commit union would make the plan (and driver planning
    // cost) O(commits) — thousands of unioned relations on a
    // long-appended table — where one relation lists all dirs in a
    // single pass. Partitioned-layout dirs keep readDir's per-dir
    // basePath dispatch (partition-value extraction needs it).
    val (unpart, part) = entries.partition(_.partition.isEmpty)
    val parts =
      (if (unpart.isEmpty) Nil
       else Seq(spark.read.schema(s.schema)
         .parquet(unpart.map(e => s"$location/data/${e.dir}").distinct: _*))) ++
      part.groupBy(_.dir).toSeq.map { case (dir, es) => readDir(s, dir, es) }
    parts.reduce(_ unionByName _).select(s.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** One dir's frame, read under the layout ITS entries were written
    * with. Layout is a property of the ENTRY (the spec at write time),
    * not of the snapshot: after partition-spec evolution a table mixes
    * layouts, and a pruned subset of a partitioned dir must read only
    * ITS leaf dirs regardless of the current spec (one writeData = one
    * dir = one uniform layout, so the head entry speaks for the dir).
    * The SINGLE reader used by every read path — readEntries and
    * morRead's maskable-slice reader alike — so the dispatch cannot
    * fork. */
  private def readDir(s: Snapshot, dir: String, es: Seq[ManifestEntry]): DataFrame = {
    val base = s"$location/data/$dir"
    val reader = spark.read.schema(s.schema)
    if (es.head.partition.isEmpty) reader.parquet(base)
    else reader.option("basePath", base).parquet(es.map(_.dataPath(location)): _*)
  }

  /** Column names of the layout `e` was written under (empty = the
    * unpartitioned layout). Partition dir names escape per
    * ExternalCatalogUtils, but bare column names round-trip unescaped
    * for any name Spark itself accepts in partitionBy. */
  private def entrySpecCols(e: ManifestEntry): Seq[String] =
    e.partition.map(_.split('/').toSeq.map(_.takeWhile(_ != '='))).getOrElse(Seq.empty)

  /** Incremental stream scan (the Iceberg streaming-read analog,
    * `tests/99.test_iceberg_cdc.ipynb`): a file-based stream over the
    * table's data root — every data dir a future commit adds surfaces as
    * appended rows in the next micro-batch. Correct for APPEND-ONLY
    * tables (the ledgers, the raw zone); copy-on-write rewrites re-emit
    * rewritten rows, the same caveat Iceberg handles with
    * streaming-skip-overwrite-snapshots. */
  def readStream: DataFrame = {
    val s = requireExists()
    spark.readStream
      .schema(s.schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$location/data")
  }

  /** Current table contents as a plain parquet-backed DataFrame
    * (merge-on-read delete files, if any, applied). */
  def read: DataFrame = {
    val s = requireExists()
    morRead(s, s.entries)
  }

  /** Filtered read with MANIFEST-LEVEL min/max pruning (the Iceberg
    * metrics-skipping analog): entries whose recorded column ranges
    * cannot satisfy `cond` are dropped before any file is opened — on
    * an append-ordered 100 TB table a time/key-range query plans only
    * the few entries that overlap the range. The full predicate is
    * still applied to the surviving rows (pruning is conservative:
    * unsupported predicates or missing stats keep the entry). */
  def readWhere(cond: Column): DataFrame = readWhereCounted(cond)._1

  /** [[readWhere]] plus planning introspection: (frame, entries planned,
    * entries total). Probe-style callers (index probes, point lookups)
    * record how much the stats+bloom pruning actually cut without
    * running the pruning walk — and its sidecar loads — twice. */
  private[graft] def readWhereCounted(cond: Column): (DataFrame, Int, Int) = {
    val s = requireExists()
    val entries = prunedEntries(s, cond)
    (morRead(s, entries).filter(cond), entries.size, s.entries.size)
  }

  /** Entries surviving stats pruning for `cond` (exposed for planning
    * introspection and tests).
    *
    * The predicate is RESOLVED against an empty relation with the table
    * schema first — Spark 4 Columns carry lazy column nodes, and the
    * analyzer both converts them to catalyst expressions and inserts
    * the type-coercion casts the pruning logic must see through. */
  private[graft] def prunedEntries(s: Snapshot, cond: Column): Seq[ManifestEntry] =
    prunedAmong(s, cond, s.entries)

  /** [[prunedEntries]] restricted to a pre-selected entry subset — the
    * rewrite planner refines its range-pruned candidates through the
    * same stats + bloom walk the read path uses. */
  private def prunedAmong(
      s: Snapshot, cond: Column, entries: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), s.schema)
    empty.filter(cond).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition }
      .map(expr => bloomPruned(s, expr,
        entries.filter(e =>
          StatsPruning.mayMatch(withPartitionStats(e), s.schema, expr))))
      .getOrElse(entries)
  }

  /** Entry stats augmented with the entry's PARTITION VALUES as
    * degenerate [v, v] ranges — partition columns never appear in the
    * data files (partitionBy strips them), so footer stats can't cover
    * them; the dir name itself is the exact value. This is Iceberg's
    * manifest-level partition pruning: a partition predicate drops
    * non-matching entries at PLANNING time instead of relying on the
    * scan's directory pruning, so plan size tracks the matching
    * partitions, not the table. Hive default-partition (null) segments
    * contribute nothing (conservative keep). */
  private def withPartitionStats(e: ManifestEntry): Map[String, (String, String)] =
    e.partition match {
      case None => e.stats
      case Some(rel) =>
        val kvs = rel.split('/').toSeq.flatMap { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) None
          else {
            val v = ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
            if (v == "__HIVE_DEFAULT_PARTITION__") None
            else Some(seg.take(i) -> (v, v))
          }
        }
        kvs.toMap ++ e.stats
    }

  /** Sidecar lifecycle follows the data dir: when a dir is deleted
    * (snapshot expiry, orphan sweep), its bloom files go with it. */
  private def deleteBloomDir(dir: String): Unit = {
    val p = new Path(s"$location/blooms/$dir")
    try { if (fs.exists(p)) { fs.delete(p, true); () } }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  private def bloomPath(e: ManifestEntry, c: String): Path =
    new Path(s"$location/blooms/${e.dir}/" +
      e.partition.map(_ + "/").getOrElse("") + s"$c.bloom")

  private def loadBloom(path: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val in = fs.open(new Path(path))
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
      // NonFatal, not just IOException: a truncated/corrupt sidecar can
      // surface as NegativeArraySizeException or an allocation error
      // from a garbage length header — any unreadable sidecar must
      // degrade to "keep the entry", never fail the read
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Bloom-sidecar point-lookup pruning, applied AFTER min/max pruning
    * (see [[BloomSkipping]]): for each probeable equality conjunct,
    * entries whose sidecar filter proves every candidate key absent are
    * dropped before any data file is opened. Sidecars are loaded only
    * for the (entry, column) pairs the predicate needs — small driver
    * reads, latency-overlapped like the footer-stats harvest — and a
    * missing or unreadable sidecar conservatively keeps its entry. */
  private def bloomPruned(
      s: Snapshot,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      entries: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    val cands = BloomSkipping.candidates(cond, s.schema)
    if (cands.isEmpty) return entries
    val needed = (for {
      e <- entries; (c, _) <- cands if e.blooms.contains(c)
    } yield bloomPath(e, c).toString).distinct
    if (needed.isEmpty) return entries
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val loaded = Await.result(
      Future.traverse(needed)(p =>
        Future(p -> LakeTable.bloomCache.getOrLoad(p)(loadBloom(p)))), Duration.Inf).toMap
    entries.filter { e =>
      cands.forall { case (c, keys) =>
        !e.blooms.contains(c) ||
          loaded.getOrElse(bloomPath(e, c).toString, None).forall(bf =>
            keys.exists(k => BloomSkipping.mightContain(bf, k)))
      }
    }
  }

  def toDF: DataFrame = read

  /** Time travel: read the table AS OF a committed version (Iceberg's
    * `VERSION AS OF` — snapshots stay readable until expireSnapshots). */
  def readVersion(version: Long): DataFrame = {
    val s = log.read(version)
    morRead(s, s.entries)
  }

  /** Time travel by wall-clock: read the newest snapshot committed at
    * or before `timestampMs` (Iceberg's `TIMESTAMP AS OF`). Commit
    * timestamps are strictly usable here because versions are
    * contiguous and each commit stamps `System.currentTimeMillis` at
    * claim time; ties resolve to the highest version. Fails like
    * Iceberg when the timestamp predates the first retained snapshot. */
  def readAsOf(timestampMs: Long): DataFrame = {
    val candidates = log.all.filter(_.timestampMs <= timestampMs)
    if (candidates.isEmpty)
      throw new IllegalStateException(
        s"no snapshot of $name committed at or before $timestampMs " +
          "(older snapshots may have been expired)")
    val s = candidates.maxBy(_.version)
    morRead(s, s.entries)
  }

  /** Incremental BATCH scan — the Iceberg `start-snapshot-id`
    * incremental append read (`tests/99.test_iceberg_cdc.ipynb`
    * options): rows in data files ADDED by append-family snapshots with
    * `fromVersion < version <= toVersion` (default: current version).
    * Rewrite snapshots (merge / delete / overwrite / create-or-replace /
    * compaction) are SKIPPED — their entries are rewritten OLD rows, not
    * new data — mirroring Iceberg's `streaming-skip-overwrite-snapshots`
    * / `streaming-skip-delete-snapshots`. Columns added by later schema
    * evolution are null-backfilled and the result conforms to the
    * `toVersion` schema. Cost is O(appended data in the range): added
    * entries come from a manifest diff against the parent snapshot, no
    * table scan. Snapshots in the range must not be expired.
    *
    * Only ANCESTORS of the `to` snapshot are emitted. Two consequences:
    * after a [[rollbackTo]], a consumer positioned at a rolled-back
    * version receives an EMPTY feed (an incremental append stream
    * cannot express a rewind — resync from the rollback); on a BRANCH
    * table, the scan covers only branch-lineage snapshots — main
    * commits below the fork are not re-emitted, so a branch consumer
    * must start from the fork version (or scan main for the prefix). */
  def changes(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    // one metadata pass: every retained snapshot, indexed by version —
    // the ancestry walk and the entry diffs below resolve from this map
    // instead of re-opening snapshot files
    val all = log.all
    if (all.isEmpty) throw new IllegalStateException(s"table $name does not exist")
    val byVersion = all.map(s => s.version -> s).toMap
    def expired(v: Long, role: String): Nothing =
      throw new IllegalStateException(
        s"incremental scan of $name needs snapshot v$v ($role) but it " +
          "was expired — start from a retained version")
    val hi = toVersion.getOrElse(all.last.version)
    val hiSnap = byVersion.getOrElse(hi, expired(hi, "the requested toVersion"))
    // "publish" (branch fast-forward) diffs exactly like an append: its
    // entry set is the main parent's plus the branch's additions, so the
    // manifest diff yields the branch-added dirs. (Publishing a branch
    // that REWROTE shared dirs surfaces the rewritten entries as adds —
    // same contract as Iceberg's skip-overwrite incremental options.)
    // "merge-mor" is append-family too: a merge-on-read MERGE adds the
    // source batch as NEW data entries (matched rows are masked by a
    // delete file, never rewritten), so its manifest diff is exactly
    // the upserted row versions — an incremental consumer of a MoR CDC
    // table sees each batch's inserts and update post-images, the
    // upsert-stream reading Iceberg CDC consumers rely on. "delete-mor"
    // adds no data entries, so it falls out of the diff by itself.
    // "cherry-pick" imports a branch's entries onto main and AUDITS the
    // branch lineage append-only before importing, so its manifest diff
    // is exactly the picked rows — unlike "publish", it can never
    // surface a rewrite. (Skipping it here silently LOST picked rows
    // from incremental consumers.)
    val appendOps = Set("append", "append-evolve", "publish", "merge-mor",
      "cherry-pick")
    // only ANCESTORS of the `to` snapshot count: a rollback points its
    // parent at the restored version, so appends that were rolled back
    // drop out of the chain and are never re-emitted (Iceberg's
    // ancestor rule). Scanning from a version that is itself no longer
    // an ancestor under-reports by construction — an incremental
    // consumer must resync after a rewind it did not observe. The
    // ancestry WALK never opens a snapshot at or below `fromVersion`
    // (versions come from the child's parent pointer), but the manifest
    // DIFF below still reads the snapshot AT `fromVersion` whenever its
    // child is an append-family snapshot — so the boundary snapshot
    // itself must be retained in that (common) case; only non-append
    // boundaries (the child is a rollback/fork/rewrite) tolerate an
    // expired `fromVersion`. A branch FORK's parent lives in the main
    // lineage — the walk stops at the fork instead of treating the
    // main snapshot as expired.
    val ancestors = {
      val b = Set.newBuilder[Long]
      var node: Option[Snapshot] = Some(hiSnap)
      while (node.exists(_.version > fromVersion)) {
        val s = node.get
        b += s.version
        node = s.parentVersion match {
          case Some(v) if v > fromVersion =>
            byVersion.get(v).orElse(
              if (s.operation == "fork") None
              else expired(v, s"ancestor of v${hiSnap.version}"))
          case _ => None
        }
      }
      b.result()
    }
    val added = all
      .filter(s => ancestors(s.version) && appendOps(s.operation))
      .map { s =>
        val parentKeys = s.parentVersion
          .map(v => byVersion.getOrElse(v, expired(v, s"parent of v${s.version}"))
            .entries.map(e => (e.dir, e.partition)).toSet)
          .getOrElse(Set.empty[(String, Option[String])])
        readEntries(s, s.entries.filterNot(e => parentKeys((e.dir, e.partition))))
      }
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hiSnap.schema)
    else conform(backfillTo(added.reduce(
      _.unionByName(_, allowMissingColumns = true)), hiSnap), hiSnap)
  }

  /** Null-backfill columns `snap`'s schema has that `df` lacks — the
    * schema-evolution read rule shared by the incremental scan and the
    * changelog view. */
  private def backfillTo(df: DataFrame, snap: Snapshot): DataFrame =
    snap.schema.fields.foldLeft(df)((d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Rows REMOVED from the visible table by the merge-on-read delete
    * files committed in `(fromVersion, toVersion]` — MoR DELETE victims
    * and MoR MERGE update PRE-images, at their last visible values. The
    * subtractive complement of [[changes]]: over a range whose commits
    * are all append-family or MoR, `changes` minus `removedChanges` is
    * the table's net row delta — what incremental aggregate
    * maintenance folds ([[graft.operators.Rollup]]). The caller must
    * ensure no commit in the range rewrote or dropped entries (COW
    * merge/delete/overwrite, compaction, replace — Rollup's op audit
    * refuses those): this derivation assumes data entries and delete
    * files only ACCUMULATE across the range.
    *
    * Derivation: a row is removed-in-range iff a NEW delete file (one
    * absent at `fromVersion`) masks it by the sequence rule AND no OLD
    * delete file already masked it at `fromVersion` (semi-join the new
    * delete keys, anti-join the old — a row masked twice in range still
    * subtracts once). Cost: only data entries a NEW delete can reach —
    * by sequence ordering and manifest key-range overlap — are read, so
    * a delete batch confined to recent keys prices the recent slice of
    * a 100 TB table, never the table. */
  def removedChanges(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val cur = requireExists()
    val hiSnap = toVersion.filter(_ != cur.version)
      .map(log.read).getOrElse(cur)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hiSnap.schema)
    if (hiSnap.deleteEntries.isEmpty) return empty
    val fromSnap = log.read(fromVersion)
    val oldDels = fromSnap.deleteEntries
    val oldDirs = oldDels.map(_.dir).toSet
    val newDels = hiSnap.deleteEntries.filterNot(d => oldDirs(d.dir))
    if (newDels.isEmpty) return empty
    val keys = morKeys(hiSnap)
    require(keys.nonEmpty,
      s"table $name has delete files but no $MorKeysProp property")
    val maskable = hiSnap.entries.filter(deleteReach(hiSnap, newDels))
    if (maskable.isEmpty) return empty
    reconstructRemoved(hiSnap, maskable, newDels, oldDels, keys)
  }

  private def reconstructRemoved(hiSnap: Snapshot, maskable: Seq[ManifestEntry],
      newDels: Seq[ManifestEntry], oldDels: Seq[ManifestEntry],
      keys: Seq[String]): DataFrame = {
    val (data, cond) = seqTaggedRows(hiSnap, maskable, keys)
    val newlyMasked = data.join(deleteKeyRows(hiSnap, newDels, keys), cond, "left_semi")
    val visibleBefore =
      if (oldDels.isEmpty) newlyMasked
      else newlyMasked.join(deleteKeyRows(hiSnap, oldDels, keys), cond, "left_anti")
    visibleBefore.select(hiSnap.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  // -------------------------------------------------------------------
  // write operations
  // -------------------------------------------------------------------

  /** RTAS — create or replace the table from `df`
    * (`iceberg.py:37-96` semantics; old snapshots stay readable until
    * expireSnapshots, like Iceberg's createOrReplace). */
  def createOrReplace(
      df: DataFrame,
      partitionBy: Seq[String] = Nil,
      tableProperties: Map[String, String] = Map.empty,
      bucketBy: Option[(String, Int)] = None): Snapshot = {
    require(bucketBy.isEmpty || partitionBy.isEmpty,
      "bucketBy and partitionBy are mutually exclusive")
    val (data, pcols, bucketProps) = bucketBy match {
      case Some(spec) =>
        (withDerivedBucket(df, spec), Seq(BucketCol),
          Map("bucket.column" -> spec._1, "bucket.count" -> spec._2.toString))
      case None => (df, partitionBy, Map.empty[String, String])
    }
    val props = DefaultProperties ++ bucketProps ++ tableProperties
    val (_, entries) = writeData(data, pcols, props)
    // replace semantics: the parent's outstanding MoR delete files are
    // meaningless for the replacement data (and the fresh properties
    // map may not carry mor.delete-keys) — drop them
    log.commit("create-or-replace", deleteEntriesFn = _ => Nil)(_ =>
      (df.schema, pcols, entries, props, Map.empty))
  }

  /** Retry bounds for additive commits, from the table properties. */
  private def retryConfig(s: Snapshot): (Int, Long) = (
    s.properties.getOrElse("commit.retry.num-retries", "20").toInt,
    s.properties.getOrElse("commit.retry.min-wait-ms", "200").toLong)

  /** Append-only commit: existing data dirs are untouched. Additive, so
    * lost commit races retry against the fresh parent manifest —
    * schema/partitioning/properties come from the FRESH parent so a
    * racer's evolution or property update survives the retry. */
  /** `extraProperties` ride the append commit atomically — the same
    * watermark-with-the-data contract mergeInto offers (e.g. a
    * streaming sink's last-applied-batch-id guard). */
  def append(df: DataFrame,
      extraProperties: Map[String, String] = Map.empty): Snapshot = {
    val s = requireExists()
    val (_, entries) = writeData(prepared(df, s), s.partitionCols, s.properties)
    val (retries, waitMs) = retryConfig(s)
    serialized(log.commit("append", retries, waitMs)(p =>
      (p.get.schema, p.get.partitionCols, p.get.entries ++ entries,
        p.get.properties ++ extraProperties,
        Map("added-entries" -> entries.size.toString))))
  }

  /** Union-by-name of the stored schema with a batch's schema: existing
    * columns keep their stored type (the batch is cast to it); batch
    * columns the table lacks are APPENDED, nullable. */
  private def mergedSchema(stored: StructType, batch: StructType): StructType = {
    val existing = stored.fieldNames.toSet
    val added = batch.fields.filterNot(f => existing.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(stored.fields ++ added)
  }

  /** Append with SCHEMA EVOLUTION (Iceberg add-column semantics, Spark's
    * mergeSchema analog — `append` itself stays strict, evolution is an
    * explicit choice): batch columns the table lacks widen the schema
    * (appended, nullable); table columns the batch lacks are written as
    * nulls. Old data files are NEVER touched — readers project the
    * evolved schema over them and the parquet reader supplies nulls for
    * the missing columns, so evolution is a metadata-only operation on
    * existing data. */
  def appendEvolve(df: DataFrame): Snapshot = {
    val s = requireExists()
    val merged = mergedSchema(s.schema, df.schema)
    val batchTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val conformed = df.select(merged.fields.map(f =>
      (if (batchTypes.contains(f.name)) castTo(col(f.name), batchTypes.get(f.name), f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
    val withBucket = bucketSpec(s).map(withDerivedBucket(conformed, _)).getOrElse(conformed)
    val (_, entries) = writeData(withBucket, s.partitionCols, s.properties)
    val (retries, waitMs) = retryConfig(s)
    serialized(log.commit("append-evolve", retries, waitMs)(p =>
      // re-merge against the FRESH parent so a racer's evolution survives
      (mergedSchema(p.get.schema, df.schema), p.get.partitionCols,
        p.get.entries ++ entries, p.get.properties,
        Map("added-entries" -> entries.size.toString,
          "added-columns" -> (merged.fieldNames.length - s.schema.fieldNames.length).toString))))
  }

  /** Full overwrite keeping schema/partitioning/properties
    * (`mysql_to_parquet.py:58` raw-zone replace). */
  def overwrite(df: DataFrame): Snapshot = {
    val s = requireExists()
    val (_, entries) = writeData(prepared(df, s), s.partitionCols, s.properties)
    log.commit("overwrite", deleteEntriesFn = _ => Nil)(_ =>
      (s.schema, s.partitionCols, entries, s.properties, Map.empty))
  }

  /** MERGE INTO this table USING source ON keys — copy-on-write upsert
    * (`cdc_pipeline.py:220-237`). Partition-pruned: when the table is
    * partitioned and the source carries the partition columns, only the
    * partitions present in the source are rewritten. */
  def mergeInto(
      source: DataFrame,
      keys: Seq[String],
      extraProperties: Map[String, String] = Map.empty): Snapshot =
    rewriteMatching(source, keys, "merge", extraProperties) { (targetSlice, src) =>
      graft.operators.Merge.upsert(targetSlice, src, keys)
    }

  /** MERGE with SCHEMA EVOLUTION: the stored schema widens union-by-name
    * (source-only columns appended, nullable — appendEvolve's add-column
    * rule) and the upsert runs against the widened schema, existing rows
    * reading through with nulls for the new columns. Unlike the pruned
    * [[mergeInto]], a schema-changing merge is a FULL copy-on-write
    * (every entry must be considered under the new schema) — the rare
    * explicit-evolution event, not the per-micro-batch path. */
  def mergeIntoEvolve(source: DataFrame, keys: Seq[String]): Snapshot = {
    val s = requireExists()
    val widened = mergedSchema(s.schema, source.schema)
    def conformTo(df: DataFrame): DataFrame = {
      val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
      df.select(widened.fields.map(f =>
        (if (have.contains(f.name)) castTo(col(f.name), have.get(f.name), f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
    }
    val out = graft.operators.Merge.upsert(conformTo(read), conformTo(source), keys)
    val withBucket = bucketSpec(s).map(withDerivedBucket(out, _)).getOrElse(out)
    val (_, entries) = writeData(withBucket, s.partitionCols, s.properties)
    log.commit("merge-evolve", requireParentVersion = Some(s.version),
      deleteEntriesFn = _ => Nil)(_ =>
      (widened, s.partitionCols, entries, s.properties,
        Map("added-columns" ->
          (widened.fieldNames.length - s.schema.fieldNames.length).toString)))
  }

  /** DELETE FROM this table WHERE EXISTS (keys match `deletes`)
    * (`cdc_pipeline.py:239-251`). Same partition pruning as merge. */
  def deleteWhereExists(deletes: DataFrame, keys: Seq[String]): Snapshot =
    rewriteMatching(deletes, keys, "delete") { (targetSlice, src) =>
      graft.operators.Merge.deleteMatching(targetSlice, src, keys)
    }

  /** UPDATE ... SET ... WHERE — copy-on-write row update
    * (`scripts/migrate_v2_naming.sql:55-66`, the watermark V1→V2 value
    * migration; Iceberg's `UPDATE` with `write.update.mode=copy-on-write`).
    * Stats-pruned like [[readWhere]]: entries whose manifest column
    * ranges cannot satisfy `cond` carry over untouched — on an
    * append-ordered 100 TB table a key-range UPDATE rewrites the
    * overlapping entries, not the table. SQL UPDATE semantics: every
    * assignment's right-hand side evaluates against the OLD row (one
    * projection, so `SET a = b, b = a` swaps), and non-matching rows in
    * rewritten entries pass through unchanged. */
  def updateWhere(cond: Column, set: Map[String, Column]): Snapshot = {
    val s = requireExists()
    set.keys.foreach(k => require(s.schema.fieldNames.contains(k),
      s"UPDATE on $name: no column '$k'"))
    val affected = prunedEntries(s, cond)
    // no-op guards: entries all stats-pruned away, or (stats were too
    // coarse to disprove) no row actually matches — either way don't
    // commit a byte-identical rewrite; the limit(1) probe is far
    // cheaper than rewriting the overlapping entries
    if (affected.isEmpty) return s
    if (morRead(s, affected).filter(cond).isEmpty) return s
    val untouched = s.entries.diff(affected)
    val updated = morRead(s, affected).select(s.schema.fields.map { f =>
      set.get(f.name)
        .map(e => when(cond, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }.toIndexedSeq: _*)
    val (_, entries) = writeData(prepared(updated, s), s.partitionCols, s.properties)
    log.commit("update", requireParentVersion = Some(s.version))(_ =>
      (s.schema, s.partitionCols, untouched ++ entries, s.properties,
        Map(
          "rewritten-entries" -> affected.size.toString,
          "untouched-entries" -> untouched.size.toString)))
  }

  /** ALTER TABLE ... RENAME COLUMN (`scripts/migrate_v2_naming.sql:49-53`,
    * the bronze_schema → iceberg_schema migration). DESIGN DIVERGENCE,
    * deliberate: real Iceberg renames are metadata-only — readers map
    * old files through immutable field IDs. This store reads parquet BY
    * NAME (no field IDs), so a metadata-only rename would silently null
    * the column in every pre-rename file; instead the rename is one full
    * copy-on-write rewrite (base-validated commit, compaction-scale
    * cost, outstanding MoR deletes folded in). That cost profile fits
    * the operation: the reference runs it once, in a migration runbook,
    * with all pipelines stopped. Partition columns, the bucket layout
    * column and MoR delete keys follow the rename. */
  def renameColumn(from: String, to: String): Snapshot = {
    val s = requireExists()
    require(s.schema.fieldNames.contains(from), s"no column '$from' in $name")
    require(!s.schema.fieldNames.contains(to), s"column '$to' already exists in $name")
    val ren = (c: String) => if (c == from) to else c
    val newSchema = StructType(s.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newPcols = s.partitionCols.map(ren)
    val newProps = s.properties.map {
      case ("bucket.column", v) => "bucket.column" -> ren(v)
      case (MorKeysProp, v) =>
        MorKeysProp -> v.split(",").toSeq.map(ren).mkString(",")
      case (k, v) if k == s"comment.col.$from" => s"comment.col.$to" -> v
      case kv => kv
    }
    val conformed = read.withColumnRenamed(from, to).select(
      newSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val withBucket =
      (for (c <- newProps.get("bucket.column"); n <- newProps.get("bucket.count"))
        yield withDerivedBucket(conformed, (c, n.toInt))).getOrElse(conformed)
    val (_, entries) = writeData(withBucket, newPcols, newProps)
    log.commit("rename-column", requireParentVersion = Some(s.version),
      deleteEntriesFn = _ => Nil)(_ =>
      (newSchema, newPcols, entries, newProps,
        Map("renamed-column" -> s"$from -> $to")))
  }

  /** Iceberg TYPE-PROMOTION schema evolution (`ALTER COLUMN ... TYPE`
    * widening): int→long, float→double, and decimal precision growth at
    * fixed scale — the promotions real lake tables hit constantly as id
    * spaces and money columns outgrow their first type.
    *
    * METADATA-ONLY: existing data files are never rewritten. Spark 4's
    * parquet reader widens per FILE (SPARK-40876: int32 pages served as
    * long, float as double, narrow decimal as wide), so legacy entries
    * and post-promotion entries coexist under the one widened read
    * schema — the same per-entry layout-dispatch philosophy as
    * partition evolution, here performed by the reader itself. Entry
    * stats survive untouched (min/max strings parse under the widened
    * type), so manifest pruning keeps working across generations.
    * Subsequent writers conform batches to the widened type via the
    * normal [[conform]] path.
    *
    * The BUCKET column is refused: murmur3(int x) ≠ murmur3(long x),
    * so promoting it would scatter each logical bucket across physical
    * ones and silently break co-bucketed layout guarantees. */
  def alterColumnType(colName: String, newType: DataType): Snapshot = {
    val s = requireExists()
    val f = s.schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name"))
    require(isTypePromotion(f.dataType, newType),
      s"cannot promote ${f.dataType.catalogString} to ${newType.catalogString}: " +
        "allowed are byte/short/int -> wider integer, float -> double, " +
        "and decimal precision growth at fixed scale")
    require(!bucketSpec(s).exists(_._1 == colName),
      s"cannot promote bucket column '$colName' (bucket hashes are type-sensitive)")
    val newSchema = StructType(s.schema.fields.map(x =>
      if (x.name == colName) x.copy(dataType = newType) else x))
    log.commit("alter-column-type", requireParentVersion = Some(s.version))(p =>
      (newSchema, s.partitionCols, p.get.entries, s.properties,
        Map("altered-column" -> colName,
          "from-type" -> f.dataType.catalogString,
          "to-type" -> newType.catalogString)))
  }

  /** The widening promotions Iceberg's schema evolution permits (plus
    * the byte/short steps Spark's reader equally supports). */
  private def isTypePromotion(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** Row-level CHANGELOG between two snapshots (the
    * `create_changelog_view` analog): one full-outer join of the two
    * versions on the row keys classifies every key as insert / delete /
    * update, updates emitting BOTH images (`update_preimage` /
    * `update_postimage`) like Iceberg's changelog rows. Net-change
    * semantics: intermediate commits inside the range collapse (a row
    * updated then deleted reports one delete with the FROM-version
    * image). Cost is one key-shuffle of each endpoint snapshot —
    * manifest diffing cannot give row-level images, so two reads is the
    * irreducible price of pre/post rows. */
  def changelog(fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    val postSnap = log.read(toVersion)
    val postT = morRead(postSnap, postSnap.entries)
    // schema may have EVOLVED inside the range: null-backfill the pre
    // side to the post schema (same rule as the incremental scan)
    val preT = conform(backfillTo(readVersion(fromVersion), postSnap), postSnap)
    val cols = postT.columns.toSeq
    val pre = preT.select(struct(cols.map(col): _*).as("__pre")
      +: keys.zipWithIndex.map { case (k, i) => col(k).as(s"__ka$i") }: _*)
    val post = postT.select(struct(cols.map(col): _*).as("__post")
      +: keys.zipWithIndex.map { case (k, i) => col(k).as(s"__kb$i") }: _*)
    // null-SAFE key equality: a null-keyed row present in both versions
    // must match itself, not split into a phantom delete+insert pair
    val cond = keys.indices.map(i => col(s"__ka$i") <=> col(s"__kb$i"))
      .reduce(_ && _)
    // drop unchanged keys, then classify each surviving row ONCE
    // (null-safe struct comparison, so a null -> value field change
    // still counts as an update) and emit 1 image for insert/delete, 2
    // for updates, via one explode — the join executes a single time,
    // not once per change type
    pre.join(post, cond, "full_outer")
      .filter(col("__pre").isNull || col("__post").isNull ||
        !(col("__pre") <=> col("__post")))
      .withColumn("__imgs",
        when(col("__post").isNull,
          array(struct(col("__pre").as("img"), lit("delete").as("t"))))
          .when(col("__pre").isNull,
            array(struct(col("__post").as("img"), lit("insert").as("t"))))
          .otherwise(array(
            struct(col("__pre").as("img"), lit("update_preimage").as("t")),
            struct(col("__post").as("img"), lit("update_postimage").as("t")))))
      .select(explode(col("__imgs")).as("__ch"))
      .select(col("__ch.img.*"), col("__ch.t").as("_change_type"))
  }

  /** `rollback_to_snapshot` analog: commit a NEW snapshot that restores
    * version `version`'s schema/partitioning/entries/properties — the
    * table's state rewinds while history moves forward (the rolled-back
    * commits stay readable until expiry, exactly Iceberg's rollback).
    * Metadata-only: no data is copied or rewritten. */
  def rollbackTo(version: Long): Snapshot = {
    val target =
      try log.read(version)
      catch { case e: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"cannot roll back $name to v$version: no such snapshot", e)
      }
    log.commit("rollback", parentOverride = Some(version),
      deleteEntriesFn = _ => target.deleteEntries,
      extraReuseRefs = target.segments)(_ =>
      (target.schema, target.partitionCols, target.entries, target.properties,
        Map("rolled-back-to" -> version.toString)))
  }

  /** ALTER TABLE … SET TBLPROPERTIES analog: a metadata-only commit
    * (data dirs untouched). Used for table/column comment sync
    * (`schema_validate.py:111,202` stores comments as properties). */
  def setProperties(updates: Map[String, String]): Snapshot = {
    val s = requireExists()
    val (retries, waitMs) = retryConfig(s)
    // additive over the FRESH snapshot, so two racing setProperties on
    // different keys both land and a racer's schema evolution survives
    log.commit("set-properties", retries, waitMs)(p =>
      (p.get.schema, p.get.partitionCols, p.get.entries,
        p.get.properties ++ updates,
        Map("updated-keys" -> updates.keys.mkString(","))))
  }

  /** Remove table properties by exact key — hygiene for accumulating
    * per-stream marks (see `Watermark.purgeWatermarks`: retired
    * streams' `cdc.last-batch.*` keys would otherwise ride every
    * future version file forever). Applied over the FRESH snapshot
    * like [[setProperties]]: a racer's unrelated updates survive, and
    * a racer re-setting a key removed here wins or loses by commit
    * order — the same last-writer contract setProperties documents. */
  def removeProperties(keys: Seq[String]): Snapshot = {
    val s = requireExists()
    val (retries, waitMs) = retryConfig(s)
    log.commit("remove-properties", retries, waitMs)(p =>
      (p.get.schema, p.get.partitionCols, p.get.entries,
        p.get.properties -- keys,
        Map("removed-keys" -> keys.mkString(","))))
  }

  /** [[removeProperties]] guarded by expected values: a key is removed
    * only while its value in the FRESH snapshot still equals the value
    * the caller scanned — a racer that re-set the key between the
    * caller's read and this commit (e.g. a silent CDC stream whose
    * first in-months batch just landed a new replay mark) keeps its
    * write. Closes the read-then-remove race a bare key-list removal
    * has; a race that leaves ZERO keys removable still commits one
    * harmless metadata-only version. */
  def removePropertiesIfUnchanged(expected: Map[String, String]): Snapshot = {
    val s = requireExists()
    val (retries, waitMs) = retryConfig(s)
    log.commit("remove-properties", retries, waitMs) { p =>
      val props = p.get.properties
      val removable = expected.keysIterator
        .filter(k => props.get(k) == expected.get(k)).toSeq.sorted
      (p.get.schema, p.get.partitionCols, p.get.entries,
        props -- removable,
        Map("removed-keys" -> removable.mkString(","),
          "kept-racing-keys" ->
            (expected.keySet -- removable).toSeq.sorted.mkString(",")))
    }
  }

  /** Partition-spec evolution (Iceberg's `ALTER TABLE ... ADD/DROP
    * PARTITION FIELD` semantics, collapsed to replace-the-spec): a
    * METADATA-ONLY commit — existing entries keep the layout they were
    * written under (reads dispatch per entry; partition-pruned rewrites
    * treat legacy-layout entries as always-affected, so no prune
    * decision is ever made against the wrong spec), and every future
    * write lays out under the new spec. `rewriteDataFiles` after an
    * evolution migrates the whole table to the current spec — Iceberg's
    * documented recipe. Bucket-laid-out tables refuse: the hidden
    * bucket column IS their layout and bucket pruning depends on it. */
  def updatePartitionSpec(newPartitionCols: Seq[String]): Snapshot = {
    val s = requireExists()
    require(bucketSpec(s).isEmpty,
      s"$name is bucket-laid-out; evolving the spec would break bucket pruning")
    require(newPartitionCols.distinct == newPartitionCols,
      s"duplicate partition columns: ${newPartitionCols.mkString(",")}")
    newPartitionCols.foreach(c =>
      require(s.schema.fieldNames.contains(c), s"no such column: $c"))
    log.commit("update-partition-spec", requireParentVersion = Some(s.version))(_ =>
      (s.schema, newPartitionCols, s.entries, s.properties,
        Map("partition-spec" ->
          (if (newPartitionCols.isEmpty) "(unpartitioned)"
           else newPartitionCols.mkString(",")))))
  }

  /** DELETE FROM this table WHERE cond — full copy-on-write. */
  def deleteWhere(cond: Column): Snapshot = {
    val s = requireExists()
    val (_, entries) = writeData(prepared(read.filter(not(cond)), s), s.partitionCols, s.properties)
    log.commit("delete", requireParentVersion = Some(s.version),
      deleteEntriesFn = _ => Nil)(_ =>
      (s.schema, s.partitionCols, entries, s.properties, Map.empty))
  }

  // -------------------------------------------------------------------
  // merge-on-read (Iceberg v2 write.merge.mode=merge-on-read analog;
  // the reference's commented MoR table props, iceberg.py:78-84)
  // -------------------------------------------------------------------

  /** MERGE dispatch on the table's `write.merge.mode` property — the
    * reference's per-table MoR switch (`iceberg.py:78-84` sets
    * write.delete/update/merge.mode=merge-on-read as TBLPROPERTIES).
    * Copy-on-write is the default, exactly like Iceberg. */
  def upsert(source: DataFrame, keys: Seq[String]): Snapshot =
    if (properties.get("write.merge.mode").contains("merge-on-read"))
      mergeIntoMoR(source, keys)
    else mergeInto(source, keys)

  /** DELETE dispatch on `write.delete.mode` (same contract as [[upsert]]). */
  def deleteMatching(deletes: DataFrame, keys: Seq[String]): Snapshot =
    if (properties.get("write.delete.mode").contains("merge-on-read"))
      deleteWhereExistsMoR(deletes, keys)
    else deleteWhereExists(deletes, keys)

  /** UPDATE dispatch on `write.update.mode` — the third of the
    * reference's three per-table mode switches (`iceberg.py:78-84`). */
  def update(cond: Column, set: Map[String, Column]): Snapshot =
    if (properties.get("write.update.mode").contains("merge-on-read"))
      updateWhereMoR(cond, set)
    else updateWhere(cond, set)

  /** UPDATE ... merge-on-read: the matching rows' updated images commit
    * as one new data dir plus an equality-delete file of their keys —
    * O(matched rows), nothing rewritten. Requires the table's MoR keys
    * (fixed at the first MoR write) since the delete file identifies
    * the old images by key; key columns themselves cannot be assigned.
    *
    * NOT [[mergeIntoMoR]]: a merge's source is external data and wins
    * over racers by design (additive retry), but an UPDATE's images are
    * COMPUTED FROM THE TABLE — retrying them against a moved head would
    * silently revert whatever the racer wrote to the matched rows. So
    * the commit pins the snapshot the images were read from
    * (`requireParentVersion`, Iceberg's conflict validation for MoR
    * row-level ops) and a racer surfaces as `CommitConflictException`. */
  def updateWhereMoR(cond: Column, set: Map[String, Column]): Snapshot = {
    val s = requireExists()
    val keys = morKeys(s)
    require(keys.nonEmpty,
      s"merge-on-read UPDATE on $name needs '$MorKeysProp' — no MoR write has fixed keys yet")
    require(keys.forall(k => !set.contains(k)),
      s"cannot assign merge-on-read key columns (${keys.mkString(",")})")
    set.keys.foreach(k => require(s.schema.fieldNames.contains(k),
      s"UPDATE on $name: no column '$k'"))
    val affected = prunedEntries(s, cond)
    if (affected.isEmpty) return s
    val matched = morRead(s, affected).filter(cond)
    val updated = matched.select(s.schema.fields.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    }.toIndexedSeq: _*)
    // persist: the images feed three consumers (the empty-check, the
    // data write, the delete-file keys) and recomputing each would
    // re-run the masked table read per pass
    updated.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an empty equality-delete file has no key stats, which would mark
      // EVERY data entry maskable and tax all future reads — skip no-ops
      if (updated.isEmpty) return s
      val (_, dataEntries) = writeData(prepared(updated, s), s.partitionCols, s.properties)
      val delEntry = writeDeleteFile(updated, keys, s)
      log.commit("update-mor", requireParentVersion = Some(s.version),
        deleteEntriesFn = p => p.map(_.deleteEntries).getOrElse(Nil) :+ delEntry)(_ =>
        (s.schema, s.partitionCols, s.entries ++ dataEntries, s.properties,
          Map("added-entries" -> dataEntries.size.toString, "delete-files" -> "1")))
    } finally updated.unpersist(false)
  }

  /** Key columns of this table's equality-delete files. */
  private def morKeys(s: Snapshot): Seq[String] =
    s.properties.get(MorKeysProp)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private def requireMorKeys(s: Snapshot, keys: Seq[String]): Unit = {
    val stored = morKeys(s)
    require(stored.isEmpty || stored == keys,
      s"table $name merge-on-read keys are ${stored.mkString(",")}; got ${keys.mkString(",")}")
    require(keys.forall(s.schema.fieldNames.contains),
      s"merge keys ${keys.mkString(",")} not all present in $name's schema")
  }

  /** Write `src`'s distinct key tuples as one equality-delete parquet
    * dir (O(batch), never O(table)) and return its manifest entry with
    * footer key-range stats — what lets the compactor skip data entries
    * a delete provably cannot touch. */
  private def writeDeleteFile(src: DataFrame, keys: Seq[String], s: Snapshot): ManifestEntry =
      StoreConf.bytesFirstCoalesce(spark) {
    val types = s.schema.fields.map(f => f.name -> f.dataType).toMap
    val keyDf = src.select(keys.map(k => col(k).cast(types(k)).as(k)): _*)
    // key rows the driver holds are deduplicated there, under the
    // normalization the delete-key mask compares with
    val out = StoreWrite.local(keyDf).map(_.distinctKeys).toLeft(keyDf.distinct())
    // underscore prefix = Hadoop/Spark hidden-path convention: generic
    // listings (readStream's recursive file stream, an ad-hoc
    // spark.read.parquet over the data root) skip delete files
    // automatically, while morRead's explicit-path reads still see them
    val dir = "_del-" + UUID.randomUUID().toString.take(14)
    val abs = s"$location/data/$dir"
    // same write step as writeData, so the same harvest-validation
    // net: a stray file here would PHANTOM-DELETE rows (every key tuple
    // in the dir masks), strictly worse than stray data rows
    val keySchema = StructType(s.schema.fields.filter(f => keys.contains(f.name)))
    val (_, harvested) = writeDir(out, abs, Nil, keySchema, s.properties, needRows = false)
    ManifestEntry(dir, None, harvested.head._2._1, StampAtCommit)
  }

  /** MERGE INTO ... merge-on-read: commit the source batch as a NEW
    * data dir plus an equality-delete file of the source keys — no data
    * file is rewritten. The delete's sequence number (this commit's
    * stamp from the monotonic counter) masks matching rows in every
    * OLDER entry; the batch's own rows share the sequence and survive. This is the heavy-update CDC
    * shape at 100 TB: each micro-batch writes O(batch) where COW
    * rewrites O(touched partitions); reads pay one anti-join until
    * [[rewritePositionDeleteFiles]] folds the delete files away. */
  def mergeIntoMoR(source: DataFrame, keys: Seq[String]): Snapshot = {
    val s = requireExists()
    requireMorKeys(s, keys)
    val (_, dataEntries) = writeData(prepared(source, s), s.partitionCols, s.properties)
    val delEntry = writeDeleteFile(source, keys, s)
    // ADDITIVE (new data dirs + one delete file, nothing rewritten):
    // lost races rebuild on the fresh parent and retry like append —
    // the per-commit sequence numbers keep the merge serialized
    // after the racer, whatever the racer wrote. MoR keys re-validated
    // against the FRESH parent: a racing first MoR write may have fixed
    // different keys, and our delete file would not carry them
    val (retries, waitMs) = retryConfig(s)
    serialized(log.commit("merge-mor", retries, waitMs,
      deleteEntriesFn = p => p.map(_.deleteEntries).getOrElse(Nil) :+ delEntry)(p => {
      requireMorKeys(p.get, keys)
      (p.get.schema, p.get.partitionCols, p.get.entries ++ dataEntries,
        p.get.properties + (MorKeysProp -> keys.mkString(",")),
        Map("added-entries" -> dataEntries.size.toString, "delete-files" -> "1"))
    }))
  }

  /** DELETE ... merge-on-read: just the equality-delete file — a pure
    * metadata + O(batch) commit, nothing rewritten. */
  def deleteWhereExistsMoR(deletes: DataFrame, keys: Seq[String]): Snapshot = {
    val s = requireExists()
    requireMorKeys(s, keys)
    val delEntry = writeDeleteFile(deletes, keys, s)
    // additive like mergeIntoMoR: only a delete file lands, so lost
    // races rebuild on the fresh parent (keys re-validated) and retry
    val (retries, waitMs) = retryConfig(s)
    serialized(log.commit("delete-mor", retries, waitMs,
      deleteEntriesFn = p => p.map(_.deleteEntries).getOrElse(Nil) :+ delEntry)(p => {
      requireMorKeys(p.get, keys)
      (p.get.schema, p.get.partitionCols, p.get.entries,
        p.get.properties + (MorKeysProp -> keys.mkString(",")),
        Map("delete-files" -> "1"))
    }))
  }

  /** Partition `entries` into (reachable, unreachable) w.r.t. the
    * snapshot's outstanding delete files: a delete can mask a row of an
    * entry only when the sequence ordering allows it AND no manifest
    * key-range proves disjointness on any key (an equality delete must
    * match ALL keys) AND no key-column bloom sidecar proves every
    * delete key absent (see [[deleteReach]]); conservative reachable on
    * missing stats/sidecars. The schema type map and key list are
    * hoisted once — the predicate runs O(entries × deletes) times per
    * planning pass. Shared by the read path and the compactor. */
  private def splitByDeleteReach(
      s: Snapshot, entries: Seq[ManifestEntry]): (Seq[ManifestEntry], Seq[ManifestEntry]) =
    entries.partition(deleteReach(s, s.deleteEntries))

  /** Predicate: can any of `dels` mask a row of this entry? Types and
    * keys hoisted once — the test runs O(entries × deletes) times per
    * planning pass. Shared by [[splitByDeleteReach]] (all outstanding
    * deletes) and [[removedChanges]] (the new-in-range subset).
    *
    * Two stages per (entry, delete) pair, both conservative:
    *
    *  1. KEY-RANGE: manifest stats prove disjointness on some key —
    *     free, and sufficient while batches stay key-clustered.
    *  2. BLOOM (sidecar-carrying entries only): once a compaction folds
    *     key-clustered generations into wide hash-mixed files, every
    *     entry's range overlaps every delete and stage 1 keeps the
    *     WHOLE table maskable until the next position-delete rewrite —
    *     post-fold reads paid the anti-join table-wide. When the entry
    *     carries a `write.bloom.columns` sidecar for a key column and
    *     the (micro-batch-sized, cap-bounded, cached — delete files are
    *     write-once) delete key values are ALL provably absent from it,
    *     no delete tuple can match any row of the entry and it reads
    *     PLAIN. A key column containing a null proves nothing for that
    *     delete (a null-keyed tuple `<=>`-matches null rows no filter
    *     can witness); cap overflow or an unreadable file keeps the
    *     entry maskable. The probe keys come from the driver-held
    *     tuples the read masks with ([[deleteKeys]]). Ordinary tables
    *     (no sidecars) never load a delete file here. */
  private def deleteReach(
      s: Snapshot, dels: Seq[ManifestEntry]): ManifestEntry => Boolean = {
    val types = s.schema.fields.map(f => f.name -> f.dataType).toMap
    val keys = morKeys(s)
    // the probe keys are the tuples the driver holds for the mask, so
    // the one rule of what it holds (every key type comparable by the
    // mask) also gates this stage
    val bloomable =
      if (!keys.forall(k => types.get(k).exists(DeleteKeyMask.supported))) Nil
      else keys.filter(k => types.get(k).exists(BloomSkipping.supportedType))
    def bloomDisjointUncached(e: ManifestEntry, d: ManifestEntry,
        cols: Seq[String]): Boolean = {
      // LOAD FAILURES THROW through the verdict cache (so nothing
      // sticks — the BoundedCache loud-re-load rule) and the caller
      // degrades to "maskable" for THIS pass only: both the delete-key
      // load and a sidecar the entry CLAIMS (k ∈ e.blooms) that
      // fails to read are transient "proof unavailable", not computed
      // verdicts — caching either would pin the entry maskable (paying
      // the mask on every read) until LRU eviction even after the
      // file becomes readable again. Cap-overflow / null-key verdicts
      // ARE real computations over a write-once file and do cache.
      val held = deleteKeys(Seq(d), keySchema(s, keys)).head
      cols.exists(k => probeKeys(held, keys.size, keys.indexOf(k)).exists { vs =>
        val p = bloomPath(e, k).toString
        val bf = LakeTable.bloomCache.getOrLoad(p)(loadBloom(p)).getOrElse(
          throw new java.io.IOException(s"bloom sidecar unreadable: $p"))
        vs.forall(v => !BloomSkipping.mightContain(bf, v))
      })
    }
    def bloomDisjoint(e: ManifestEntry, d: ManifestEntry): Boolean = {
      val cols = bloomable.filter(e.blooms.contains)
      // the verdict is a pure function of two WRITE-ONCE files (the
      // entry's sidecars, the delete's keys), so it caches across
      // planning passes: the winning (disjoint) case must prove every
      // delete key absent — up to the cap × columns probes per pair —
      // and a hot MoR table plans splitByDeleteReach on EVERY read
      cols.nonEmpty && {
        try LakeTable.reachVerdictCache.getOrElseUpdate((
          s"$location/blooms/${e.dir}/${e.partition.getOrElse("")}",
          s"$location/data/${d.dir}", cols.mkString(",")))(
          bloomDisjointUncached(e, d, cols))
        catch { case scala.util.control.NonFatal(_) => false }
      }
    }
    e => dels.exists(d =>
      e.seq < d.seq && keys.forall { k =>
        (e.stats.get(k), d.stats.get(k)) match {
          case (Some((emn, emx)), Some((dmn, dmx))) =>
            !StatsPruning.rangesDisjointStr(types(k), emn, emx, dmn, dmx)
          case _ => true
        }
      } && !bloomDisjoint(e, d))
  }

  /** The key types of this table's equality-delete files, in key order. */
  private def keySchema(s: Snapshot, keys: Seq[String]): StructType =
    StructType(keys.map(s.schema(_)))

  /** Each equality-delete file's distinct key tuples under `schema`,
    * held by the driver (cache-through, no Spark job; the uncached files
    * load under one reader); None past [[LakeTable.MaxDeleteReachKeys]]
    * tuples. A read failure THROWS and caches nothing. */
  private def deleteKeys(dels: Seq[ManifestEntry], schema: StructType): Seq[Option[DeleteKeys]] = {
    val cached = dels.map { d =>
      val id = s"$location/data/${d.dir} ${schema.catalogString} ${spark.sparkContext.applicationId}"
      (d, id, LakeTable.deleteKeyCache.get(id))
    }
    val cold = cached.collect { case (d, id, None) =>
      id -> listDataFilesByLeaf(new Path(s"$location/data/${d.dir}")).flatMap(_._2)
    }
    val loaded = cold.map(_._1).zip(
      DeleteKeyMask.load(spark, cold, schema, LakeTable.MaxDeleteReachKeys)).toMap
    loaded.foreach { case (id, k) => LakeTable.deleteKeyCache.put(id, k) }
    cached.map { case (_, id, hit) => hit.getOrElse(loaded(id)) }
  }

  /** Column `i`'s distinct values of held key tuples as sidecar probe
    * keys; None — proves nothing — past the cap, or when the column
    * holds a null or a value that fails normalization. */
  private def probeKeys(held: Option[DeleteKeys], n: Int, i: Int)
      : Option[IndexedSeq[BloomSkipping.Key]] =
    held.flatMap { k =>
      val ks = DeleteKeyMask.component(k, n, i).map(BloomSkipping.keyOf).toIndexedSeq
      if (ks.forall(_.isDefined)) Some(ks.map(_.get).distinct) else None
    }

  /** Every outstanding delete file's held key tuples, by dir — None
    * when the driver cannot hold them: a key type the mask cannot
    * compare, a file past the cap, tuples summed past the cap, or a
    * load failure. Then the read falls back to the anti-join. */
  private def heldDeleteKeys(s: Snapshot, keys: Seq[String]): Option[Map[String, DeleteKeys]] = {
    val schema = keySchema(s, keys)
    if (!schema.forall(f => DeleteKeyMask.supported(f.dataType))) None
    else try {
      val held = deleteKeys(s.deleteEntries, schema)
      if (held.exists(_.isEmpty) ||
          held.flatten.map(_.size.toLong).sum > LakeTable.MaxDeleteReachKeys) None
      else Some(s.deleteEntries.map(_.dir).zip(held.flatten).toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (maskable, total) data-entry counts of the current snapshot under
    * [[splitByDeleteReach]] — planning introspection for specs/probes. */
  private[graft] def morMaskableCounts: (Int, Int) = {
    val s = requireExists()
    if (s.deleteEntries.isEmpty) (0, s.entries.size)
    else {
      val (maskable, _) = splitByDeleteReach(s, s.entries)
      (maskable.size, s.entries.size)
    }
  }

  /** The key tuples of `dels` (equality-delete files) as one DataFrame
    * of `__dk_*` columns + the deleting commit's `__xseq`. */
  private def deleteKeyRows(s: Snapshot, dels: Seq[ManifestEntry], keys: Seq[String]): DataFrame =
    dels.map { e =>
      spark.read.schema(keySchema(s, keys)).parquet(s"$location/data/${e.dir}")
        .select(keys.map(k => col(k).as(s"__dk_$k")) :+ lit(e.seq).as("__xseq"): _*)
    }.reduce(_ unionByName _)

  /** `entries` read with their sequence number as `__dseq`, and the
    * condition under which a [[deleteKeyRows]] row masks one of them. */
  private def seqTaggedRows(s: Snapshot, entries: Seq[ManifestEntry],
      keys: Seq[String]): (DataFrame, Column) = {
    val data = entries.groupBy(_.dir).toSeq.map { case (dir, es) =>
      // one dir = one commit = one sequence number, so head.seq speaks
      // for the group; the layout dispatch is readDir's (per entry)
      readDir(s, dir, es).withColumn("__dseq", lit(es.head.seq))
    }.reduce(_ unionByName _)
    (data, keys.map(k => col(k) <=> col(s"__dk_$k")).reduce(_ && _) &&
      col("__dseq") < col("__xseq"))
  }

  /** Read `entries` with the snapshot's outstanding equality-delete
    * files applied: a data row is dropped when a delete entry with a
    * strictly higher sequence number carries its key tuple. Entries no
    * delete can reach — newer than every delete, or key-range-disjoint
    * from all of them by manifest stats — are read PLAIN; only the
    * maskable slice is masked, so on a 100 TB table a delete file
    * confined to recent keys taxes the recent entries, not the table.
    *
    * The mask is the driver-held key tuples of the deletes newer than
    * each entry ([[DeleteKeyMask]], Iceberg's in-task `DeleteFilter`
    * key set): one filter per distinct set of newer deletes, no join,
    * so a point lookup is one Spark job. Past what the driver holds
    * ([[heldDeleteKeys]]) the maskable slice pays an anti-join against
    * the union of delete files instead. */
  private def morRead(s: Snapshot, entries: Seq[ManifestEntry]): DataFrame = {
    if (s.deleteEntries.isEmpty || entries.isEmpty) return readEntries(s, entries)
    val keys = morKeys(s)
    require(keys.nonEmpty,
      s"table $name has delete files but no $MorKeysProp property")
    val (maskable, fresh) = splitByDeleteReach(s, entries)
    if (maskable.isEmpty) return readEntries(s, entries)
    val masked = heldDeleteKeys(s, keys) match {
      case Some(held) =>
        maskable.groupBy(e => s.deleteEntries.filter(_.seq > e.seq)).toSeq
          .sortBy(-_._1.size).map { case (dels, es) =>
            readEntries(s, es).filter(
              DeleteKeyMask.column(keys.map(col), dels.map(d => held(d.dir))))
          }.reduce(_ unionByName _)
      case None =>
        val (data, cond) = seqTaggedRows(s, maskable, keys)
        data.join(deleteKeyRows(s, s.deleteEntries, keys), cond, "left_anti")
          .select(s.schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    if (fresh.isEmpty) masked else masked.unionByName(readEntries(s, fresh))
  }

  /** `rewrite_position_delete_files` analog
    * (`maintenance.py:189-246`), taken to its physical conclusion:
    * FOLD the outstanding equality-delete files into the data they
    * mask, then clear them. Only data entries a delete could actually
    * touch are rewritten — an entry is skipped when its sequence is not
    * below every applicable delete's, or when the manifest key-range
    * stats prove disjointness — so the cost tracks the masked slice of
    * the table, not the table. Returns
    * (deleteFilesRemoved, dataEntriesRewritten). */
  def rewritePositionDeleteFiles(): (Int, Int) = {
    val s = requireExists()
    if (s.deleteEntries.isEmpty) return (0, 0)
    val (affected, untouched) = splitByDeleteReach(s, s.entries)
    val newEntries =
      if (affected.isEmpty) Nil
      else writeData(prepared(morRead(s, affected), s), s.partitionCols, s.properties)._2
    log.commit("rewrite-position-deletes", requireParentVersion = Some(s.version),
      deleteEntriesFn = _ => Nil)(_ =>
      (s.schema, s.partitionCols, untouched ++ newEntries, s.properties,
        Map(
          "removed-delete-files" -> s.deleteEntries.size.toString,
          "rewritten-entries" -> affected.size.toString)))
    (s.deleteEntries.size, affected.size)
  }

  /** COW rewrite of exactly the entries holding rows the source can
    * MATCH (MERGE updates / DELETE keys), via two pruning tiers:
    *
    *  1. LAYOUT fast path (zero extra passes) — only when provably
    *     sound: every layout column (partition cols, or the bucket
    *     column) is a merge key present in the source. Then a matched
    *     row's layout value necessarily equals its source row's, so
    *     matches cannot hide outside the touched leaves. When layout
    *     cols are NOT all keys, a source may MOVE a row across
    *     partitions (update the partition column of a matched key) and
    *     a layout prune would leave the stale copy behind — that shape
    *     routes to tier 2.
    *  2. KEY-RANGE prune (unpartitioned tables): entries provably
    *     range-disjoint from the source's key span hold no matches;
    *     with no layout to move across this alone is sound, and the
    *     merge stays zero-extra-scan (one small agg over the source).
    *  3. MATCHES SCAN (Iceberg's COW approach; laid-out tables whose
    *     layout cols are not all keys): key-range candidates, then ONE
    *     key-projected scan of them semi-joined against the distinct
    *     source keys; the files holding matches name the exact entries
    *     to rewrite. Sound under partition-moving sources,
    *     partition-spec evolution (legacy-layout entries are just
    *     candidates like any other), and missing stats (unprunable ⇒
    *     scanned). Costs one column-pruned scan of the candidate slice
    *     — on an append-ordered table with key-clustered batches, the
    *     candidates ARE the recent entries.
    *
    * Every tier rewrites with the CURRENT spec, so touching a
    * legacy-layout entry migrates it.
    *
    * `source` must be DETERMINISTIC across re-evaluation: every prune
    * tier runs its own action over it (layout-value collect, key-range
    * agg, bloom-key collect, matches scan) and the rewrite closure
    * evaluates it once more — a source whose rows change between
    * actions can leave matches unpruned-for but also unrewritten. All
    * engine callers (merge/delete/upsert) pass deterministic frames;
    * a caller holding a non-deterministic source must localCheckpoint
    * it first. */
  private def rewriteMatching(
      source: DataFrame,
      keys: Seq[String],
      op: String,
      // property updates that must ride THIS commit (e.g. the rollup
      // refresh watermark — separate data and property commits would
      // double-apply the delta if a crash landed between them)
      extraProps: Map[String, String] = Map.empty)(
      rewrite: (DataFrame, DataFrame) => DataFrame): Snapshot =
      StoreConf.bytesFirstCoalesce(spark) {
    val s = requireExists()
    val soundLayoutPrune = bucketSpec(s) match {
      case Some(spec) =>
        keys.contains(spec._1) && source.columns.contains(spec._1)
      case None => s.partitionCols.nonEmpty &&
        s.partitionCols.forall(c => keys.contains(c) && source.columns.contains(c))
    }
    val (affected, untouched, mode) =
      if (isTinyRewrite(s)) {
        // TINY-TABLE SHORT-CIRCUIT (r14, the Rollup.refresh prune-skip
        // pattern): every prune tier below pays at least one driver-side
        // Spark action just to DECIDE what to skip (tier 1 collects the
        // source's distinct layout values, tier 2 min/max-aggregates its
        // key ranges, stage 2 runs a matches scan) — on a handful of
        // entries holding a few MB the decision costs more than
        // rewriting them all. Lifecycle-dense tables (rollup dsts,
        // watermark ledgers) pay those probe actions on EVERY
        // micro-batch merge. Entry count alone is NOT a safe gate — a
        // compacted 100 TB table also has few entries after
        // rewriteDataFiles collapses the manifest — so the gate also
        // size-probes the candidate dirs driver-side (≤ a handful of
        // fs listings, still far cheaper than one Spark action).
        (s.entries, Seq.empty[ManifestEntry], "tiny")
      } else if (soundLayoutPrune) {
        // tier 1: prune by the source's layout values
        val pruneSource = bucketSpec(s) match {
          case Some(spec) => withDerivedBucket(source, spec)
          case None => source
        }
        val schemaByName = s.schema.fields.map(f => f.name -> f.dataType).toMap
        val touched: Set[String] = pruneSource
          .select(s.partitionCols.map(c =>
            if (c == BucketCol) col(c) else col(c).cast(schemaByName(c))): _*)
          .distinct()
          .collect()
          .map { r =>
            s.partitionCols.zipWithIndex.map { case (c, i) =>
              val v = r.get(i)
              ExternalCatalogUtils.getPartitionPathString(c, if (v == null) null else v.toString)
            }.mkString("/")
          }
          .toSet
        // the layout prune only speaks for entries written under the
        // CURRENT spec; legacy-layout entries (pre-evolution) are
        // always rewritten — which also migrates them
        val (specEntries, legacy) = s.entries.partition(e =>
          entrySpecCols(e) == s.partitionCols)
        val (hit, miss) = specEntries.partition(e => e.partition.exists(touched))
        (hit ++ legacy, miss, "layout")
      } else {
        // tier 2, stage 1: candidates = entries NOT provably key-range
        // disjoint from the source batch (one small agg over the source)
        val keyTypes = keys.flatMap(k =>
          s.schema.fields.find(_.name == k).map(f => k -> f.dataType)).toMap
        val rangedKeys = keys.filter(k =>
          keyTypes.get(k).exists(StatsPruning.supported) && source.columns.contains(k))
        val sourceRanges: Map[String, (Any, Any)] =
          if (rangedKeys.isEmpty) Map.empty
          else {
            val aggs = rangedKeys.flatMap(k =>
              Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
            val row = source.agg(aggs.head, aggs.tail: _*).head()
            rangedKeys.flatMap { k =>
              val (lo, hi) = (row.getAs[Any](s"__mn_$k"), row.getAs[Any](s"__mx_$k"))
              if (lo == null || hi == null) None else Some(k -> (lo, hi))
            }.toMap
          }
        val (rangeDisjoint, candidates0) = s.entries.partition(e =>
          sourceRanges.exists { case (k, (lo, hi)) =>
            e.stats.get(k).exists { case (mnS, mxS) =>
              StatsPruning.rangesDisjoint(keyTypes(k), mnS, mxS, lo, hi)
            }
          })
        // stage 1.5: BLOOM refinement — only when a candidate actually
        // carries a sidecar for a key column (index-style tables opt in
        // via write.bloom.columns; everything else skips the extra
        // collect). This is the retraction shape the range prune cannot
        // serve: after a compaction folds key-clustered generations
        // into wide hash-mixed files, every entry's key RANGE overlaps
        // any delete batch, but the per-file filters still prove which
        // files hold the doomed keys. The source key set is collected
        // bounded (cap = [[LakeTable.MaxRewriteBloomKeys]]; above it,
        // or with null keys — which `<=>`-match null-keyed target rows
        // no filter can witness — the refinement conservatively keeps
        // all candidates).
        val bloomKeys = keys.filter(k => source.columns.contains(k) &&
          candidates0.exists(_.blooms.contains(k)))
        val candidates =
          if (bloomKeys.isEmpty) candidates0
          else {
            val rows = source.select(bloomKeys.map(col): _*).distinct()
              .limit(LakeTable.MaxRewriteBloomKeys + 1).collect()
            if (rows.length > LakeTable.MaxRewriteBloomKeys ||
                rows.exists(r => bloomKeys.indices.exists(r.isNullAt)))
              candidates0
            else {
              val inCond = bloomKeys.zipWithIndex.map { case (k, i) =>
                col(k).isInCollection(rows.map(_.get(i)).distinct.toIndexedSeq)
              }.reduce(_ && _)
              prunedAmong(s, inCond, candidates0)
            }
          }
        val bloomDropped = candidates0.diff(candidates)
        if (s.partitionCols.isEmpty) {
          // UNPARTITIONED: the range prune alone is already sound —
          // there is no layout a matched row could "move" across, and
          // range-disjoint entries provably hold no matching keys — so
          // skip the matches scan (its refinement would cost a scan per
          // merge to save at most some same-range dirs)
          (candidates, rangeDisjoint ++ bloomDropped, "key-range")
        } else {
          // stage 2: the matches scan — key-projected, broadcast
          // semi-join against the distinct source keys; matched leaf
          // DIRECTORIES (entry-count bounded) name the exact affected
          // entries. Masked (MoR-deleted) rows may over-match — an
          // extra rewrite, never a wrong result.
          //
          // input_file_name() returns the URI RENDERING of the path
          // (percent-encoded: a literal space is %20, the '%' of a
          // Hive-escaped partition value is %25), while manifest
          // dir/partition strings are the PHYSICAL names — so decode
          // one URI layer on the driver before comparing, and keep the
          // raw form too as a fallback for undecodable paths. Matching
          // is suffix-anchored on "/data/<dir>[/partition]" — the
          // 18-char random dir segment makes a false suffix match
          // practically impossible and keeps a '/data/' segment inside
          // the table LOCATION itself from confusing the extraction.
          val matchedDirs: Set[String] =
            if (candidates.isEmpty) Set.empty
            else {
              val srcKeys = source
                .select(keys.map(k => col(k).as(s"__sk_$k")): _*).distinct()
              val cond = keys.map(k => col(k) <=> col(s"__sk_$k")).reduce(_ && _)
              readEntries(s, candidates)
                .withColumn("__fdir",
                  regexp_extract(input_file_name(), "^(.*)/[^/]+$", 1))
                .join(broadcast(srcKeys), cond, "left_semi")
                .select("__fdir").distinct()
                .collect().map(_.getString(0))
                .flatMap { d =>
                  val decoded =
                    try Some(new java.net.URI(d).getPath)
                    catch { case _: Exception => None }
                  decoded.toSeq :+ d
                }.toSet
            }
          val (hit, miss) = candidates.partition { e =>
            val rel = s"/data/${e.partition.fold(e.dir)(p => s"${e.dir}/$p")}"
            matchedDirs.exists(_.endsWith(rel))
          }
          (hit, rangeDisjoint ++ bloomDropped ++ miss, "matches-scan")
        }
      }
    // MoR deletes (if any) fold into the rewritten slice here — its
    // new sequence number lifts it above every outstanding delete
    val out = rewrite(morRead(s, affected), source)
    val (_, newEntries) = writeData(prepared(out, s), s.partitionCols, s.properties)
    log.commit(op, requireParentVersion = Some(s.version))(_ =>
      (s.schema, s.partitionCols, untouched ++ newEntries, s.properties ++ extraProps,
        Map(
          "prune-mode" -> mode,
          "rewritten-entries" -> affected.size.toString,
          "untouched-entries" -> untouched.size.toString)))
  }

  /** Whether the whole table is small enough that a matching rewrite
    * should skip the prune dispatch: few manifest entries AND their
    * data dirs total at most the `rewrite.tiny.max-bytes` table
    * property (default [[LakeTable.TinyRewriteMaxBytes]]; 0 disables
    * the short-circuit — the prune-contract specs pin the at-scale
    * dispatch through it). The byte probe is driver-side metadata (one
    * listStatus per entry dir, bounded by the entry cap); an
    * unlistable dir disqualifies — unknown size must never be treated
    * as tiny. */
  private def isTinyRewrite(s: Snapshot): Boolean = {
    // a malformed property value must not turn every subsequent write
    // into a hard outage — fall back to the default and warn once
    val cap = s.properties.get(LakeTable.TinyRewriteMaxBytesProp) match {
      case Some(v) => scala.util.Try(v.toLong).getOrElse {
        logger.warn(s"unparseable ${LakeTable.TinyRewriteMaxBytesProp}='$v'" +
          s" on $name; using default ${LakeTable.TinyRewriteMaxBytes}")
        LakeTable.TinyRewriteMaxBytes
      }
      case None => LakeTable.TinyRewriteMaxBytes
    }
    cap > 0L && s.entries.size <= LakeTable.MinEntriesForRewritePrune &&
      dataUnder(s, cap)
  }

  /** Whether `s`'s data files total at most `capBytes` — the generic
    * tiny-table byte probe ([[isTinyRewrite]]'s body, reusable by
    * index-probe dispatches). Driver-side metadata only (one
    * listStatus per entry dir — callers bound the entry count);
    * an unlistable dir disqualifies: unknown size is never tiny. */
  private[graft] def dataUnder(s: Snapshot, capBytes: Long): Boolean = {
    var total = 0L
    s.entries.forall { e =>
      try {
        total += fs.listStatus(new Path(e.dataPath(location)))
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
        total <= capBytes
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Cast `c` to `to` only when the batch's type differs beyond
    * nullability — Spark refuses e.g. `array<float>` (nullable
    * elements, the shape every parquet read-back has) →
    * `array<float>` (non-null elements, the shape a Seq-built batch
    * has), so an equal-up-to-nullability type must pass through
    * uncast. `catalogString` is the nullability-blind rendering. */
  private def castTo(c: Column, from: Option[DataType], to: DataType): Column =
    if (from.exists(_.catalogString == to.catalogString)) c else c.cast(to)

  private def conform(df: DataFrame, s: Snapshot): DataFrame = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(s.schema.fields.map(f =>
      castTo(col(f.name), actual.get(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** Hash-bucket layout spec, carried in table properties. */
  private def bucketSpec(s: Snapshot): Option[(String, Int)] =
    for (c <- s.properties.get("bucket.column");
         n <- s.properties.get("bucket.count")) yield (c, n.toInt)

  /** Deterministic bucket id (Murmur3, stable across sessions). */
  private def withDerivedBucket(df: DataFrame, spec: (String, Int)): DataFrame =
    df.withColumn(BucketCol, pmod(hash(col(spec._1)), lit(spec._2)))

  /** Conform to the stored schema and re-derive the hidden bucket
    * partition column when the table is bucket-laid-out. */
  private def prepared(df: DataFrame, s: Snapshot): DataFrame = {
    val c = conform(df, s)
    bucketSpec(s).map(withDerivedBucket(c, _)).getOrElse(c)
  }

  private def requireExists(): Snapshot =
    currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $name does not exist"))

  // -------------------------------------------------------------------
  // metadata tables (.history / .snapshots — tests/05.iceberg_info.ipynb)
  // -------------------------------------------------------------------

  def history: DataFrame = {
    import spark.implicits._
    val all = log.all
    all.map(s => (s.version, new java.sql.Timestamp(s.timestampMs),
        s.parentVersion.getOrElse(-1L), s.version == all.last.version))
      .toDF("version", "made_current_at", "parent_id", "is_current")
  }

  /** Operations of the snapshots in `(sinceV, untilV]` — driver-side
    * metadata only, NO Spark job. Incremental maintenance
    * ([[graft.operators.Rollup]]) probes the commit kinds of a version
    * range on every refresh; routing that through [[snapshotsDF]] would
    * cost a local collect job per refresh, which dominates wall time in
    * lifecycle-dense pipelines (many small commits, tiny data). */
  def operationsBetween(sinceV: Long, untilV: Long): Seq[String] =
    log.all
      .filter(s => s.version > sinceV && s.version <= untilV)
      .map(_.operation)

  def snapshotsDF: DataFrame = {
    import spark.implicits._
    log.all
      .map(s => (s.version, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.entries.size.toLong, s.summary.map { case (k, v) => s"$k=$v" }.mkString(",")))
      .toDF("version", "committed_at", "operation", "entry_count", "summary")
  }

  /** `.manifests` metadata table analog: one row per segment file the
    * current snapshot references — (path, entry count, file length,
    * min/max data sequence across the segment's entries). Shows the
    * manifest-tree shape the same way Iceberg's table does: how many
    * segments a scan plans over, and how the fold policy is keeping
    * fanout bounded. Empty for pre-segment inline snapshots. */
  def manifestsDF: DataFrame = {
    import spark.implicits._
    val s = requireExists()
    s.segments.map { r =>
      val es = log.loadSegment(r)
      val p = new Path(log.segmentDir, r.file)
      (p.toString, r.count.toLong, fs.getFileStatus(p).getLen,
        if (es.isEmpty) 0L else es.map(_.seq).min,
        if (es.isEmpty) 0L else es.map(_.seq).max)
    }.toDF("path", "entry_count", "length", "min_sequence", "max_sequence")
  }

  /** DESCRIBE TABLE EXTENDED analog: column rows (name, type, comment
    * from the synced properties) followed by table metadata rows. */
  def describeExtended: DataFrame = {
    import spark.implicits._
    val s = requireExists()
    val cols = s.schema.fields.toSeq.map { f =>
      (f.name, f.dataType.simpleString,
        s.properties.getOrElse(s"comment.col.${f.name}", ""))
    }
    val meta = Seq(
      ("# Detailed Table Information", "", ""),
      ("Name", name, ""),
      ("Location", location, ""),
      ("Provider", "lake-parquet", ""),
      ("Comment", s.properties.getOrElse("comment", ""), ""),
      ("Partition Columns", s.partitionCols.mkString(", "), ""),
      ("Current Version", s.version.toString, ""))
    (cols ++ meta).toDF("col_name", "data_type", "comment")
  }

  /** `.files`/`.manifests` analog: every file the CURRENT snapshot
    * references, with its partition, size, and Iceberg-style `content`
    * id (0 = data, 2 = merge-on-read equality deletes). */
  def filesDF: DataFrame = {
    import spark.implicits._
    val s = requireExists()
    def list(es: Seq[ManifestEntry], content: Int) = es.flatMap(e =>
      parquetFiles(new Path(e.dataPath(location))).map(f =>
        (f.getPath.toString, e.partition.getOrElse(""), f.getLen, content)))
    (list(s.entries, 0) ++ list(s.deleteEntries, 2))
      .toDF("file_path", "partition", "file_size_bytes", "content")
  }

  /** SHOW PARTITIONS analog: distinct partition paths of the current
    * snapshot (empty for unpartitioned tables). */
  def partitions: Seq[String] = {
    val s = requireExists()
    s.entries.flatMap(_.partition).distinct.sorted
  }

  /** `.refs` metadata table analog (Iceberg's refs table): one row per
    * named reference — `main`, every branch, every tag — with its type
    * and the snapshot version it points at. The operational "what is
    * pinned where" view that expiry decisions read. A branch directory
    * whose first snapshot is still unclaimed (a crashed createBranch,
    * a manual cleanup) reports version -1 instead of failing the whole
    * listing — the half-created ref is VISIBLE, not a landmine. */
  def refsDF: DataFrame = {
    import spark.implicits._
    val main = ("main", "BRANCH", requireExists().version)
    val branches = listBranches.map(b =>
      (b, "BRANCH", branch(b).currentSnapshot.map(_.version).getOrElse(-1L)))
    val tagRows = tags.toSeq.sortBy(_._1).map { case (t, v) => (t, "TAG", v) }
    (main +: (branches ++ tagRows)).toDF("name", "type", "version")
  }

  // -------------------------------------------------------------------
  // refs: tags + branches (Iceberg named references / write-audit-publish)
  // -------------------------------------------------------------------

  /** Named tags: immutable pointers to committed versions (Iceberg
    * `ALTER TABLE ... CREATE TAG`). Tagged versions survive
    * `expireSnapshots` until the tag is dropped. */
  def tags: Map[String, Long] = log.tags

  def createTag(tag: String, version: Option[Long] = None): Unit = synchronized {
    val v = version.getOrElse(requireExists().version)
    try log.read(v)
    catch { case e: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(s"cannot tag $name v$v: no such snapshot", e)
    }
    log.updateTags(_ + (tag -> v))
  }

  def dropTag(tag: String): Unit = synchronized { log.updateTags(_ - tag) }

  /** Read the table AS OF the tagged snapshot (`VERSION AS OF 'tag'`). */
  def readTag(tag: String): DataFrame =
    readVersion(tags.getOrElse(tag,
      throw new IllegalArgumentException(s"no tag '$tag' on $name")))

  /** View of branch `b`: its own snapshot lineage, SHARING the table's
    * immutable data dirs — every LakeTable operation (append, merge,
    * compaction, time travel) works on the branch without copying data,
    * exactly like Iceberg branches. Create with [[createBranch]];
    * publish with [[fastForward]]. */
  def branch(b: String): LakeTable = {
    require(b.matches("[A-Za-z0-9_-]+"), s"invalid branch name: $b")
    new LakeTable(spark, location, s"$name@$b", Some(log.branch(b)))
  }

  /** Fork branch `b` at the current version: the branch head starts as a
    * copy of the current snapshot (same version number — the fork
    * point), and subsequent branch commits advance only the branch. The
    * write-audit-publish staging pattern: write to the branch, audit it,
    * then [[fastForward]] main. */
  def createBranch(b: String): LakeTable = synchronized {
    val head = requireExists()
    val bt = branch(b)
    require(!bt.exists, s"branch $b already exists on $name")
    bt.log.fork(head, Map("forked-from" -> name, "fork-version" -> head.version.toString))
    bt
  }

  /** Fork point of this BRANCH handle, durable against branch-side
    * snapshot expiry. Branches created before the fork record existed
    * fall back to the oldest retained snapshot's fork-version summary. */
  private def forkVersion: Long = log.forkVersion.getOrElse {
    val oldest = log.all.headOption.getOrElse(
      throw new IllegalStateException(s"branch $name does not exist"))
    oldest.summary.get("fork-version").map(_.toLong).getOrElse(oldest.version)
  }

  def listBranches: Seq[String] = log.branches

  /** Publish branch `b`: commit its head state to main as one "publish"
    * snapshot (Iceberg `fast_forward`). Requires main to still be at the
    * branch's fork point — if main advanced, the branch must be re-based
    * (re-forked) first; rejecting here is what makes audit-then-publish
    * safe. Metadata-only: the branch's data dirs are already in place. */
  def fastForward(b: String): Snapshot = synchronized {
    val bt = branch(b)
    val bHead = bt.requireExists()
    // the DURABLE fork point, not bt.log.all.head: after a
    // branch-side expireSnapshots the oldest retained snapshot is an
    // arbitrary branch version, and comparing main against it would
    // spuriously block (or, on a version-number coincidence, silently
    // overwrite main commits made after the real fork)
    val forkV = bt.forkVersion
    val main = requireExists()
    require(main.version == forkV,
      s"cannot fast-forward $name to branch $b: main advanced to " +
        s"v${main.version} past the fork point v$forkV")
    if (bHead.version == forkV) main
    // the fork-point gate above and the claim are not atomic — pin the
    // commit to the checked version so a racer landing in the window
    // surfaces as a conflict instead of being silently overwritten
    // branch seqs can exceed main's counter; the commit's
    // lastSequenceNumber takes the max over imported entries, so a
    // later main-side delete still sequences strictly above every
    // published row — and the published version stays exactly forkV+1
    // (contiguous), keeping the claim-file serialization intact
    else log.commit("publish", requireParentVersion = Some(forkV),
      deleteEntriesFn = _ => bHead.deleteEntries,
      extraReuseRefs = bHead.segments)(_ =>
      (bHead.schema, bHead.partitionCols, bHead.entries, bHead.properties,
        Map("branch" -> b, "branch-version" -> bHead.version.toString)))
  }

  /** Cherry-pick branch `b`'s APPEND-ONLY work onto main even after
    * main has ADVANCED past the fork — Iceberg's `cherrypick_snapshot`,
    * the WAP escape hatch for the shape [[fastForward]]'s fork-point
    * gate refuses. Appends commute with whatever landed on main in the
    * meantime, so importing just the branch-added entries onto the
    * current main head is sound; rewrites (merge / delete / compaction
    * / spec changes) do NOT commute and are rejected — that shape needs
    * a re-fork and re-audit.
    *
    * Metadata-only: the branch's data dirs are already under the shared
    * `<location>/data`. Imported entries are RE-STAMPED with the
    * publishing commit's fresh sequence number (Iceberg assigns the
    * cherry-picked snapshot a new sequence too): the rows arrive "now",
    * so no pre-existing main-side equality-delete file — whose
    * sequence is necessarily lower — can mask them. */
  def cherryPick(b: String): Snapshot = synchronized {
    val bt = branch(b)
    val bHead = bt.requireExists()
    val forkV = bt.forkVersion
    val lineage = bt.log.all.filter(_.version >= forkV).sortBy(_.version)
    // CONTIGUOUS retention required, not just the fork itself: with the
    // fork pinned (e.g. tagged) while expiry dropped an intermediate
    // snapshot, a rewrite commit could hide in the gap — its rewritten
    // entries would import as "additions" and duplicate rows main still
    // holds. A gap is indistinguishable from that, so refuse.
    require(lineage.map(_.version) == (forkV to bHead.version),
      s"cannot cherry-pick $b: snapshots between the fork point v$forkV " +
        s"and the head v${bHead.version} were expired — the commit kinds " +
        "in the gap cannot be audited; re-fork and re-audit")
    val appendOps = Set("fork", "append", "append-evolve")
    val bad = lineage.filterNot(s => appendOps(s.operation))
    require(bad.isEmpty,
      s"cannot cherry-pick $b: non-append commit(s) since fork (" +
        bad.map(s => s"v${s.version}:${s.operation}").mkString(", ") +
        ") — rewrites do not commute with main's commits; re-fork and re-audit")
    val main = requireExists()
    require(bHead.schema.catalogString == main.schema.catalogString,
      s"cannot cherry-pick $b: branch schema diverged from main's")
    val forkKeys = lineage.head.entries.map(e => (e.dir, e.partition)).toSet
    val added = bHead.entries.filterNot(e => forkKeys((e.dir, e.partition)))
      .map(_.copy(seq = StampAtCommit))
    if (added.isEmpty) main
    else log.commit("cherry-pick", requireParentVersion = Some(main.version),
      extraReuseRefs = bHead.segments)(p =>
      (main.schema, main.partitionCols, p.get.entries ++ added, main.properties,
        Map("branch" -> b, "branch-version" -> bHead.version.toString,
          "imported-entries" -> added.size.toString)))
  }

  /** Delete branch `b`'s metadata. Unpublished data dirs it alone
    * referenced become orphans, collected by [[removeOrphanFiles]]. */
  def dropBranch(b: String): Unit = synchronized { log.dropBranch(b) }

  /** Data dirs that `own` (the snapshots this handle keeps) or any
    * snapshot of any OTHER lineage in the ref tree references — pinned
    * against expiry/orphan-collection by this handle. Other lineages are
    * found from the ROOT, not this handle: a branch handle deleting from
    * the shared data root must never collect dirs that main (or a
    * sibling branch) still references. */
  private def referencedDirs(own: Seq[Snapshot]): Set[String] =
    (own ++ log.lineages.filter(_.dir != log.dir).flatMap(_.all))
      .flatMap(s => (s.entries ++ s.deleteEntries).map(_.dir)).toSet

  /** Delete the data dirs `drop` selects, with their bloom sidecars. */
  private def dropDataDirs(drop: FileStatus => Boolean): Int = {
    val dataRoot = new Path(s"$location/data")
    val victims = if (fs.exists(dataRoot)) fs.listStatus(dataRoot).toSeq.filter(drop) else Nil
    victims.foreach { st => fs.delete(st.getPath, true); deleteBloomDir(st.getPath.getName) }
    victims.size
  }

  // -------------------------------------------------------------------
  // maintenance (CALL-procedure analogs, maintenance.py semantics)
  // -------------------------------------------------------------------

  /** Drop all snapshot metadata except the newest `keepLast`, any TAGGED
    * versions, and (Iceberg `expire_snapshots(older_than => …)` parity)
    * snapshots younger than `olderThanMs`; then drop data dirs no
    * retained snapshot (and no branch) references. Returns #expired. */
  def expireSnapshots(keepLast: Int = 1, olderThanMs: Long = Long.MaxValue): Int = synchronized {
    val all = log.all
    val tagged = tags.values.toSet
    val keepVersions = all.takeRight(keepLast).map(_.version).toSet ++ tagged ++
      all.filter(_.timestampMs >= olderThanMs).map(_.version)
    val (keep, expire) = all.partition(s => keepVersions(s.version))
    if (expire.isEmpty) 0
    else {
      val referenced = referencedDirs(keep)
      expire.foreach(s => log.delete(s.version))
      dropDataDirs(st => !referenced(st.getPath.getName))
      // segment files only the expired snapshots referenced are now
      // unreachable — sweep them behind the commit-window grace
      val grace = keep.lastOption.flatMap(_.properties.get("manifest.gc-grace-ms"))
        .map(_.toLong).getOrElse(SegmentGcGraceMs)
      log.sweepSegments(System.currentTimeMillis() - grace)
      expire.size
    }
  }

  /** Bin-pack compaction: rewrite current data into ~`targetFileBytes`
    * files (`rewrite_data_files` analog). Returns (rewritten, added)
    * file counts like the Iceberg procedure's result row. */
  def rewriteDataFiles(targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val s = requireExists()
    val before = dataFileCount(s)
    val bytes = dataByteSize(s)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val compacted = prepared(read.repartition(n), s)
    // the compactor sizes its own files — the ingest sort-order must
    // not re-shuffle the repartition(n) layout it just chose
    val (_, entries) = writeData(compacted, s.partitionCols,
      s.properties - "write.sort-order")
    log.commit("rewrite-data-files", requireParentVersion = Some(s.version),
      deleteEntriesFn = _ => Nil)(_ =>
      (s.schema, s.partitionCols, entries, s.properties,
        Map("rewritten-files" -> before.toString)))
    (before, dataFileCount(currentSnapshot.get))
  }

  /** Sort-clustered compaction (`rewrite_data_files(strategy => 'sort')`
    * analog, the Z-order/sort-order optimization pass): rewrite the
    * table as range-partitioned, internally sorted slices on `sortCols`,
    * each committed as its OWN manifest entry with tight footer min/max.
    * Append-churned entries carry full-range stats (a value predicate
    * prunes nothing); after clustering, entry ranges are near-disjoint
    * and `readWhere` on the sort key plans only the overlapping slices.
    *
    * Scale shape: one range-partitioner shuffle + per-slice sort — the
    * cost of a global sort, run once per maintenance window; the staged
    * shuffle output is cached so each slice's write job re-reads the
    * exchange, not the table. Returns (filesBefore, filesAfter). */
  def rewriteSortedDataFiles(
      sortCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    rewriteClustered(sortCols.map(col), targetFileBytes,
      "rewrite-data-files-sort", Map("sort-order" -> sortCols.mkString(",")))
  }

  /** Z-ORDER compaction (`rewrite_data_files(strategy => 'sort',
    * sort_order => 'zorder(a, b)')` analog): rewrite the table clustered
    * on the INTERLEAVED bits of the (range-normalized) cluster columns.
    * A lexicographic sort gives tight entry ranges only on its leading
    * column; the z-curve preserves locality in EVERY clustered dimension
    * at once, so after the rewrite a range predicate on ANY of the
    * columns prunes entries from the manifest stats — the
    * multi-dimensional analog of [[rewriteSortedDataFiles]].
    *
    * Normalization is one min/max agg per column (driver-side constants
    * folded into the codegen'd z-value expression); the rewrite itself
    * is the same single range shuffle + concurrent slice writes as the
    * linear sort. */
  def rewriteZOrderedDataFiles(
      zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(zCols.size >= 2, "z-ordering needs at least two columns")
    val s = requireExists()
    val before = dataFileCount(s)
    zOrderExpr(read, zCols) match {
      // empty table (or an all-null column): bounds are null and the
      // curve is undefined; no-op like an empty compaction
      case None => (before, before)
      case Some(zExpr) =>
        rewriteClustered(Seq(zExpr), targetFileBytes,
          "rewrite-data-files-zorder", Map("zorder-by" -> zCols.mkString(",")))
    }
  }

  /** Interleaved-bit z-value over `zCols`, ranked within `df`'s own
    * min/max bounds (one agg job over `df`). None when the curve is
    * undefined — empty input or an all-null dimension. */
  private def zOrderExpr(df: DataFrame, zCols: Seq[String]): Option[Column] = {
    val aggExprs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    if (zCols.indices.exists(i => bounds.isNullAt(2 * i))) return None
    // up to 16 bits per dimension, shrunk so every interleaved position
    // stays below bit 63 — Java shift amounts wrap mod 64, so a 4+-column
    // curve at full width would silently alias high bits onto low ones
    val bitsPerDim = math.min(16, 62 / zCols.size)
    val buckets = 1L << bitsPerDim
    // rank in [0, 2^bits) by linear range normalization, then
    // bit-interleave across dimensions; null values take rank 0
    // explicitly (least() would SKIP the null and hand them the max
    // rank, scattering null rows into the max corner's stats) — so
    // nulls cluster with the minimum corner
    Some(zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      val span = if (hi > lo) hi - lo else 1.0
      val rank = when(col(c).isNull, lit(0L)).otherwise(
        least(lit(buckets - 1),
          floor((col(c).cast("double") - lit(lo)) / lit(span) * buckets.toDouble))
          .cast("long"))
      (0 until bitsPerDim).map(b =>
        shiftleft(shiftright(rank, b).bitwiseAND(lit(1L)),
          b * zCols.size + i).cast("long"))
        .reduce((a, b2) => a.bitwiseOR(b2))
    }.reduce((a, b2) => a.bitwiseOR(b2)))
  }

  /** Shared clustering rewrite: one range-partitioner shuffle on
    * `clusterExprs`, per-slice sort, each slice committed as its own
    * manifest entry with tight footer stats. */
  private def rewriteClustered(
      clusterExprs: Seq[Column],
      targetFileBytes: Long,
      operation: String,
      summaryExtra: Map[String, String]): (Int, Int) = {
    val s = requireExists()
    val before = dataFileCount(s)
    val bytes = dataByteSize(s)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val staged = prepared(read, s)
      .repartitionByRange(n, clusterExprs: _*)
      .sortWithinPartitions(clusterExprs: _*)
      .withColumn("__shard", org.apache.spark.sql.functions.spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val shards = staged.select("__shard").distinct()
        .collect().map(_.getInt(0)).sorted
      // per-slice writes are independent jobs over the cached exchange —
      // run them concurrently (bounded pool) instead of one-at-a-time;
      // entry order stays deterministic (Future.sequence preserves it)
      val entries = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec = RewriteEc
        // job-group/description/pool are THREAD-LOCAL SparkContext
        // properties: the pool threads submitting the per-slice jobs
        // don't inherit the caller's, so without re-applying them inside
        // the closure every rewrite stage is attributed to NO group (it
        // bled into Bench's "_warmup" bucket and the FAIR-pool
        // assignment of a hosting stream thread was dropped). null is a
        // valid value — setLocalProperty(k, null) clears.
        val sc = spark.sparkContext
        val callerProps = Seq("spark.jobGroup.id", "spark.job.description",
          "spark.scheduler.pool").map(k => k -> sc.getLocalProperty(k))
        Await.result(
          Future.sequence(shards.toSeq.map(sh => Future {
            callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            // clustered rewrites bring their OWN ordering (z-curve /
            // sort slices) — the ingest sort-order property must not
            // re-shuffle the shard it just range-partitioned
            writeData(staged.filter(col("__shard") === sh).drop("__shard"),
              s.partitionCols, s.properties - "write.sort-order")._2
          })),
          Duration.Inf).flatten
      }
      log.commit(operation, requireParentVersion = Some(s.version),
        deleteEntriesFn = _ => Nil)(_ =>
        (s.schema, s.partitionCols, entries, s.properties,
          Map("rewritten-files" -> before.toString) ++ summaryExtra))
      (before, dataFileCount(currentSnapshot.get))
    } finally staged.unpersist(false)
  }

  /** Delete unreferenced data dirs older than `olderThanMs` wall-clock
    * (`remove_orphan_files` analog). Unreferenced manifest segments
    * older than the same cutoff are swept too (lost commits leave
    * them); the returned count is data dirs only. */
  def removeOrphanFiles(olderThanMs: Long): Int = synchronized {
    val referenced = referencedDirs(log.all)
    log.sweepSegments(olderThanMs)
    dropDataDirs(st => !referenced(st.getPath.getName) && st.getModificationTime < olderThanMs)
  }

  // -------------------------------------------------------------------
  // table statistics (ANALYZE TABLE / Iceberg Puffin analog)
  // -------------------------------------------------------------------

  /** Types the DataSketches HLL aggregate accepts. */
  private def hllSupported(t: DataType): Boolean = t match {
    case IntegerType | LongType | BinaryType => true
    case _: StringType => true
    case _ => false
  }

  /** ANALYZE: ONE distributed pass over the current snapshot computes
    * the exact row count plus an HLL sketch and NDV estimate per
    * requested (HLL-capable) column, and stores them in
    * `stats/v<version>.stats.json` — the planner input Iceberg keeps in
    * Puffin files. At 100 TB this is the cost of one column-pruned
    * aggregate scan, run per maintenance window, and every subsequent
    * join-side / broadcast decision reads the tiny stats file instead
    * of scanning anything. Older stats files are derivable and are
    * replaced. */
  def analyze(cols: Seq[String]): TableStats = {
    val s = requireExists()
    val supported = cols.filter(c =>
      s.schema.fields.exists(f => f.name == c && hllSupported(f.dataType)))
    require(supported.nonEmpty, s"no HLL-capable columns among $cols")
    val aggs = count(lit(1)).as("__n") +: supported.flatMap(c => Seq(
      hll_sketch_agg(col(c)).as(s"__sk_$c"),
      hll_sketch_estimate(hll_sketch_agg(col(c))).as(s"__ndv_$c")))
    val row = read.agg(aggs.head, aggs.tail: _*).head()
    log.writeStats(TableStats(
      s.version,
      row.getAs[Long]("__n"),
      supported.map(c => c -> row.getAs[Long](s"__ndv_$c")).toMap,
      supported.map(c => c -> row.getAs[Array[Byte]](s"__sk_$c")).toMap))
  }

  /** Latest stored stats at or below the current version, if any. */
  def stats: Option[TableStats] = log.headVersion.flatMap(log.stats)

  /** Estimated distinct count of `colName` from the stored stats. */
  def ndv(colName: String): Option[Long] = stats.flatMap(_.ndv.get(colName))

  /** Refresh stats to the current version. When every commit since the
    * stats snapshot is PURE APPEND, the refresh sketches only the
    * increment and UNIONS it into the stored sketches — O(increment),
    * the production cadence for append-mostly lake tables. Any
    * row-rewriting commit in between (merge, delete, rollback,
    * compaction is fine but merge-mor masks rows) forces a full
    * re-analyze: HLL cannot subtract. No-op at the stats version. */
  def refreshStats(): TableStats = {
    val st = stats.getOrElse(
      throw new IllegalStateException(s"no stats for $name — run analyze() first"))
    val cur = requireExists()
    if (cur.version == st.version) return st
    val opsSince =
      log.versions.filter(_ > st.version).map(v => log.read(v).operation)
    val cols = st.sketches.keys.toSeq.sorted
    if (!opsSince.forall(Set("append", "append-evolve"))) return analyze(cols)
    val inc = changes(st.version)
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => hll_sketch_agg(col(c)).as(s"__sk_$c"))
    val row = inc.agg(aggs.head, aggs.tail: _*).head()
    if (row.getAs[Long]("__n") == 0L)
      return log.writeStats(st.copy(version = cur.version))
    // union stored + increment sketches: one local 1-row evaluation
    val merged = spark.range(1).select(cols.flatMap { c =>
      val u = hll_union(lit(st.sketches(c)), lit(row.getAs[Array[Byte]](s"__sk_$c")))
      Seq(u.as(s"__sk_$c"), hll_sketch_estimate(u).as(s"__ndv_$c"))
    }: _*).head()
    log.writeStats(TableStats(
      cur.version,
      st.rowCount + row.getAs[Long]("__n"),
      cols.map(c => c -> merged.getAs[Long](s"__ndv_$c")).toMap,
      cols.map(c => c -> merged.getAs[Array[Byte]](s"__sk_$c")).toMap))
  }

  /** Parquet files under `p`, recursively; none once `p` is gone. */
  private def parquetFiles(p: Path): Seq[FileStatus] =
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) buf += f }
      buf.toSeq
    }

  private def dataFiles(s: Snapshot): Seq[FileStatus] =
    s.entries.map(_.dir).distinct.flatMap(dir => parquetFiles(new Path(s"$location/data/$dir")))

  private def dataFileCount(s: Snapshot): Int = dataFiles(s).size
  private def dataByteSize(s: Snapshot): Long = dataFiles(s).map(_.getLen).sum
}

class CommitConflictException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

object LakeTable {
  // one commit lock per table lineage in this JVM, keyed by its
  // qualified meta dir (see [[LakeTable.serialized]])
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Default for `write.stats.distributed-min-files` (see
    * [[LakeTable.statsDistMinFiles]]): below it the driver's footer
    * opens beat a Spark job's launch floor; at/above it the job wins
    * and — the real point — keeps a 10³–10⁴-file backfill's harvest
    * off the driver entirely (Iceberg collects the same stats in its
    * writer tasks; the post-listing job is the Spark-native
    * equivalent). Measured (`Probe <sf> stats`, local[32],
    * min-of-3): driver/distributed wall 0.12/0.19 s at 8 files,
    * 0.38/0.22 at 32, 0.68/0.16 at 64, 7.75/0.76 at 1024 — local
    * break-even ≈16 files, and local-FS opens (~ms) UNDERSTATE the
    * distributed win on an object store where every driver-side open
    * is a round-trip. 32 keeps streaming micro-commits (a handful of
    * files) off the job-launch floor. */
  private[graft] val DefaultStatsDistMinFiles = 32

  /** Tables at or below this many manifest entries are CANDIDATES for
    * skipping the rewrite prune dispatch (and its per-merge driver-side
    * probe actions) — deciding what to skip among a handful of entries
    * costs more than rewriting them all. The merge sibling of
    * [[graft.operators.Rollup.MinEntriesForTouchedPrune]]. Guarded by a
    * size probe ([[LakeTable.TinyRewriteMaxBytes]]): entry count alone
    * would misclassify a compacted huge table. */
  private[graft] val MinEntriesForRewritePrune = 8

  /** Data-size ceiling for the tiny-rewrite short-circuit: rewriting
    * this much outright costs about what one prune probe action does.
    * Per-table override: the [[TinyRewriteMaxBytesProp]] property
    * (`"0"` disables the short-circuit entirely). */
  private[graft] val TinyRewriteMaxBytes = 64L << 20
  private[graft] val TinyRewriteMaxBytesProp = "rewrite.tiny.max-bytes"

  /** Cap on the distinct source key tuples a matching rewrite will
    * collect for its bloom refinement (stage 1.5): the collect is a
    * driver action and the downstream walk tests keys × candidate
    * entries — both must stay bounded. Above the cap the refinement is
    * skipped (candidates conservatively kept), which is also the right
    * plan: a source touching >64k distinct keys rewrites most files
    * anyway. Matches [[graft.operators.LshIndex.DefaultMaxProbeKeys]]. */
  private[graft] val MaxRewriteBloomKeys = 1 << 16

  /** Driver-side LRU cache of bloom sidecar FILTERS, keyed by absolute
    * path and shared across table handles (handles are recreated per
    * `catalog.table(...)` call — the loaded filters are what must
    * survive). Sidecar paths are write-once: every commit writes its
    * sidecars under its own fresh data dir, so a cached filter can
    * never go stale; filters of deleted dirs simply age out. Byte-
    * budgeted eviction (access order): a long-running stream probes
    * its index every micro-batch, and re-reading each surviving
    * entry's sidecar from the FS per probe would make read planning
    * IO-bound at exactly the entry counts where pruning matters.
    * Loaded through `getOrLoad`, IO outside the lock (concurrent probes
    * load distinct paths in parallel); a miss (unreadable or absent
    * sidecar) is never cached — it must stay a loud re-probe, not a
    * sticky verdict. */
  private val bloomCache =
    new graft.core.BoundedCache[String, org.apache.spark.util.sketch.BloomFilter](
      256L << 20, bf => math.max(64L, bf.bitSize() / 8))

  /** Distinct-tuple cap on the delete keys the driver holds: a read
    * whose outstanding delete files sum past it masks by anti-join, and
    * past it a file's keys prove nothing to the delete-reach bloom
    * refinement (the entry stays maskable) — bounds the driver-side
    * load and the per-entry probe walk, same budget as
    * [[MaxRewriteBloomKeys]]. The mask beats the join up to it: on a
    * 2M-row long-keyed table (local[4], two delete files, medians of 9
    * alternating runs) a full scan took 320/302/326 ms masked vs
    * 444/452/419 ms joined at 2.6k/16k/65k held tuples over 48 tasks,
    * and a point lookup 212/209/214 vs 257/261/255 ms; over 4 tasks the
    * gap is wider. */
  private[graft] val MaxDeleteReachKeys = 1 << 16

  /** Driver-held key tuples of equality-delete files, keyed by absolute
    * data path, key types and application (delete files are
    * write-once; a type promotion re-reads a file under its new types;
    * a new SparkContext cannot serve the old one's broadcasts).
    * Weighed by tuple count; a file past [[MaxDeleteReachKeys]] holds
    * None at weight 1.
    * Loaded cache-through by the MoR read and the delete-reach bloom
    * stage, so each outstanding delete is read once per JVM, not once
    * per query; loads run outside the lock. */
  private val deleteKeyCache = new graft.core.BoundedCache[String, Option[DeleteKeys]](
    2L * MaxDeleteReachKeys, _.fold(1L)(k => math.max(1L, k.size.toLong)))

  /** Delete-reach bloom VERDICTS, keyed by (entry sidecar dir, delete
    * data path, probed columns) — all three name write-once content, so
    * a verdict never goes stale. Bounds the per-read probe walk: the
    * disjoint (winning) verdict costs up to cap × columns bloom probes
    * to establish, and a hot MoR table re-plans reach on every read.
    * Booleans — a generous entry cap costs nothing. A compute that
    * throws (delete-key OR sidecar load failure — both transient
    * "proof unavailable", not verdicts) caches nothing. */
  private val reachVerdictCache =
    new graft.core.BoundedCache[(String, String, String), Boolean](1 << 16, _ => 1L)

  /** Table property naming the equality-delete key columns of a
    * merge-on-read table (comma-joined, fixed at the first MoR write). */
  val MorKeysProp = "mor.delete-keys"

  /** Age below which an unreferenced segment file is NOT swept —
    * covers the window between a writer materializing its segments and
    * claiming the snapshot that references them (override with
    * `manifest.gc-grace-ms`). */
  private val SegmentGcGraceMs = 10 * 60 * 1000L

  /** Bounded pool for concurrent per-slice rewrite jobs (daemon threads
    * so an abandoned session still exits). */
  private val RewriteEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "lake-rewrite")
        t.setDaemon(true)
        t
      }))

  /** Hidden partition column carrying the hash-bucket id. */
  val BucketCol = "__bucket"

  /** Parity with the reference's RTAS tableProperties
    * (`iceberg.py:68-96`) — inert metadata here, but carried so a
    * catalog listing shows the same contract. */
  val DefaultProperties: Map[String, String] = Map(
    "format-version" -> "2",
    "write.spark.accept-any-schema" -> "false")
}

/** Warehouse-level catalog: `schema.table` → LakeTable directories
  * (`CREATE DATABASE ... LOCATION` / `tableExists` / `SHOW TABLES IN`
  * analogs, `watermark.py:36-39`, `iceberg_maintenance.py:31-44`). */
class LakeCatalog(val spark: SparkSession, val warehouse: String) {

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def createDatabase(schema: String): Unit = {
    fs.mkdirs(new Path(s"$warehouse/$schema")); ()
  }

  def table(fqn: String): LakeTable = {
    val parts = fqn.split('.')
    require(parts.length == 2, s"table name must be schema.table: $fqn")
    new LakeTable(spark, s"$warehouse/${parts(0)}/${parts(1)}", fqn)
  }

  def tableExists(fqn: String): Boolean = table(fqn).exists

  def listTables(schema: String): Seq[String] = {
    val p = new Path(s"$warehouse/$schema")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => table(s"$schema.$t").exists)
      .sorted
  }

  def dropTable(fqn: String): Unit = {
    val parts = fqn.split('.')
    fs.delete(new Path(s"$warehouse/${parts(0)}/${parts(1)}"), true); ()
  }

  /** ALTER TABLE ... RENAME TO (`scripts/migrate_v2_naming.sql:32-47`,
    * the ops_bronze → di_ops schema migration — cross-database renames
    * included): a metadata move of the table directory (data + metadata log +
    * every branch/tag ref) under the target schema. No data is copied —
    * the closest a path-addressed store comes to Glue's
    * rename-keeps-the-S3-files behavior. The target must not exist;
    * handles previously obtained for the old name go stale (reads
    * through them fail), matching a catalog rename's semantics. */
  def renameTable(from: String, to: String): Unit = {
    val f = from.split('.'); val t = to.split('.')
    require(f.length == 2 && t.length == 2, s"table names must be schema.table: $from, $to")
    require(table(from).exists, s"no such table $from")
    val dst = new Path(s"$warehouse/${t(0)}/${t(1)}")
    require(!fs.exists(dst), s"table $to already exists")
    createDatabase(t(0))
    require(fs.rename(new Path(s"$warehouse/${f(0)}/${f(1)}"), dst),
      s"rename $from -> $to failed")
  }

  /** DROP DATABASE (`scripts/migrate_v2_naming.sql:68-70`, the final
    * step of the migration runbook — dropping the emptied V1 schemas).
    * RESTRICT semantics, matching the runbook's no-CASCADE statements —
    * and stricter than "no live tables": ANY child blocks the drop. A
    * child DIRECTORY without a claimed snapshot may be a table whose
    * first commit is still in flight (data written, version file not
    * yet claimed); a stray plain FILE is content someone placed in the
    * schema dir that a recursive delete would eat silently — RESTRICT
    * means the operator moves it first. */
  def dropDatabase(schema: String): Unit = {
    val p = new Path(s"$warehouse/$schema")
    if (!fs.exists(p)) return
    val remaining = fs.listStatus(p).toSeq
      .map(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
    require(remaining.isEmpty,
      s"database $schema is not empty (children, possibly in-flight " +
        s"tables or stray files: ${remaining.mkString(", ")})")
    fs.delete(p, true); ()
  }
}
