package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.LakeCatalog

/** Persistent MinHash-LSH near-duplicate index over the LakeTable store
  * — build once, probe every micro-batch, append the batch after it
  * clears. The text analog of [[IvfIndex]], and the production shape of
  * corpus-scale near-dup screening: `incrementalNearDuplicates` (d47)
  * re-tokenizes and re-sketches the ENTIRE history on every batch,
  * which at 100 TB means a full-corpus pass per micro-batch; with the
  * index, history-side signatures are computed exactly once at ingest
  * and each batch's cost is O(batch + candidate pairs).
  *
  * Tables (per index `name`):
  *  - `<name>_bands`: (band, doc_id) — the inverted index; a probe is a
  *    band-equality join, bucket-capped on both sides;
  *  - `<name>_toks`: (doc_id, toks) — distinct token sets for the exact
  *    Jaccard verify of candidate pairs (only candidates are joined
  *    back, never the corpus).
  *
  * LSH parameters are pinned as table properties at build time and
  * reused by probe/append — mixing signatures from different parameter
  * sets would silently miss pairs, so the index refuses to drift.
  *
  * `maxBucket` capping: the INDEX side applies the cap per ingest batch
  * (build or append) — a bucket oversized within any single generation
  * is boilerplate and its rows are dropped at write time, matching the
  * per-side capping the one-shot operators use. The probe side caps the
  * incoming batch's own buckets the same way.
  */
object LshIndex {

  private val ParamKeys =
    Seq("lsh.shingle", "lsh.k", "lsh.bands", "lsh.max-bucket")

  /** (staged tokens, banded ids, distinct token sets) for one batch —
    * staged and banded are PERSISTED by the helpers; callers release
    * both once their writes/joins have consumed them. */
  private def bandsFor(
      docs: DataFrame,
      shingleSize: Int, k: Int, bands: Int, maxBucket: Int,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val staged = Dedup.tokenStage(docs, textCol, None)
    val banded = Dedup.bandedIds(staged, shingleSize, k, bands, maxBucket, None)
      .select("band", "doc_id")
    val toks = staged
      .select(col("doc_id"), array_distinct(col("__toks")).as("toks"))
    (staged, banded, toks)
  }

  /** Tokenize + sketch the corpus ONCE and persist the inverted index.
    * Idempotent (createOrReplace). */
  def build(
      cat: LakeCatalog,
      db: String,
      name: String,
      corpus: DataFrame,
      shingleSize: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 1000,
      textCol: String = "text",
      pruneMinBytes: Long = ProbePruneMinBytes): Unit = {
    val (staged, banded, toks) = bandsFor(corpus, shingleSize, k, bands, maxBucket, textCol)
    val props = Map(
      "lsh.shingle" -> shingleSize.toString,
      "lsh.k" -> k.toString,
      "lsh.bands" -> bands.toString,
      "lsh.max-bucket" -> maxBucket.toString)
    // _toks commits FIRST: the two tables are separate commits, and a
    // crash between them must leave "token sets without bands" (docs
    // merely not yet indexed) — never band rows whose documents have no
    // token sets, which query's inner join would silently drop as
    // candidate pairs (missed near-duplicates). That order only covers
    // fresh builds and appends; a crashed REBUILD over an existing
    // index instead leaves NEW toks with OLD bands — so both commits
    // carry a shared build-generation id and params() refuses to serve
    // a skewed index (the recovery is re-running build).
    val gen = java.util.UUID.randomUUID().toString
    // Bloom sidecars on the probe keys: band values are hash-uniform,
    // so every data file spans ~the whole key range and min/max stats
    // prune NOTHING for a probe — the per-file bloom is what lets a
    // probe's IN-list (see querySketched) drop index files at planning
    // time. Same for candidate doc_ids against the token-set table.
    // _bands blooms BOTH keys: `band` serves probes, `doc_id` serves
    // retraction ([[remove]]'s key-pruned delete) — after a compaction
    // folds the per-batch generations (whose doc_id RANGES happened to
    // prune) into wide hash-mixed files, the doc_id bloom is the only
    // thing confining a removal's rewrite to the files that actually
    // hold the removed documents. Sidecars are KB-sized; the second
    // column rides the same build job.
    // Filters are sized for MICRO-BATCH appends (the generation count
    // is dominated by them — ~24 KB each instead of the 240 KB
    // default): the one bootstrap generation's filter ends up
    // overloaded (high fpp → conservatively kept), which is harmless —
    // it holds the whole initial corpus and probes almost always need
    // it anyway. `pruneMinBytes` is ONE floor for the whole feature:
    // under it, probes take the single-job bypass AND commits skip the
    // sidecar-build job (filters nothing would read — measured ~0.3 s
    // of pure insurance per micro-batch append at bench scale); past
    // it, both sides activate together.
    // Every commit to these tables is a wide SHUFFLED frame of small
    // rows (band keys / token sets land from shuffle.partitions
    // reducers), so an undistributed write leaves one tiny file per
    // reducer per append — at cluster partition counts that is 10³
    // small files per micro-batch. The rebalance write mode sizes
    // output files by AQE's advisory target at any scale (r21: it also
    // keeps a local micro-append at 1 file instead of 32, under the
    // distributed footer-harvest threshold).
    val bloomProps = Map(
      "write.bloom.expected-items" -> "20000",
      "write.bloom.min-table-bytes" -> pruneMinBytes.toString,
      "write.distribution-mode" -> "rebalance",
      ProbePruneMinBytesProp -> pruneMinBytes.toString)
    cat.table(s"$db.${name}_toks").createOrReplace(toks,
      tableProperties = bloomProps +
        (GenProp -> gen) + ("write.bloom.columns" -> "doc_id"))
    cat.table(s"$db.${name}_bands").createOrReplace(banded,
      tableProperties = props ++ bloomProps +
        (GenProp -> gen) + ("write.bloom.columns" -> "band,doc_id"))
    banded.unpersist(false); staged.unpersist(false)
    ()
  }

  /** Shared build-generation id stamped on BOTH tables' build commits
    * (rebuild-crash skew detection — see [[build]]). */
  private[graft] val GenProp = "lsh.build-gen"

  /** Sketch one batch under the index's PINNED parameters — the shared
    * front half of [[query]] and [[appendBatch]], exposed so a caller
    * doing probe-then-append on the SAME batch (the streaming screen,
    * [[graft.streaming.IndexedDocStreams.screenBatch]]) tokenizes and
    * minhashes it ONCE instead of once per half. Returns (staged,
    * banded, toks); staged and banded are persisted — the caller MUST
    * unpersist both after its writes/joins have consumed them. */
  private[graft] def sketchFor(
      cat: LakeCatalog,
      db: String,
      name: String,
      docs: DataFrame,
      textCol: String = "text"): (DataFrame, DataFrame, DataFrame) = {
    val (sh, k, b, mb) = params(cat, db, name)
    bandsFor(docs, sh, k, b, mb, textCol)
  }

  private def params(cat: LakeCatalog, db: String, name: String): (Int, Int, Int, Int) = {
    val props = cat.table(s"$db.${name}_bands").properties
    ParamKeys.find(!props.contains(_)).foreach(k =>
      throw new IllegalStateException(s"index $name missing property $k — rebuild"))
    val toksGen = cat.table(s"$db.${name}_toks").properties.get(GenProp)
    val bandsGen = props.get(GenProp)
    if (toksGen != bandsGen)
      throw new IllegalStateException(
        s"index $name generation skew (toks=$toksGen, bands=$bandsGen): an " +
          "interrupted rebuild left band rows referencing replaced token " +
          "sets — re-run build before serving probes or appends")
    (props("lsh.shingle").toInt, props("lsh.k").toInt,
      props("lsh.bands").toInt, props("lsh.max-bucket").toInt)
  }

  /** Incremental ADD under the index's frozen parameters: sketch ONLY
    * the new docs and append — O(batch), no history re-read. */
  def append(
      cat: LakeCatalog,
      db: String,
      name: String,
      newDocs: DataFrame,
      textCol: String = "text"): Unit = {
    val (sh, k, b, mb) = params(cat, db, name)
    val (staged, banded, toks) = bandsFor(newDocs, sh, k, b, mb, textCol)
    // same commit order as build: toks first (see build)
    cat.table(s"$db.${name}_toks").append(toks)
    cat.table(s"$db.${name}_bands").append(banded)
    banded.unpersist(false); staged.unpersist(false)
    ()
  }

  /** Last-applied micro-batch id, recorded PER TABLE on its own append
    * commit (streaming-sink replay guard — see [[appendBatch]]). */
  private[graft] val BatchProp = "lsh.last-batch"

  /** Idempotent per-micro-batch ADD — the streaming-ingest shape
    * ([[graft.streaming.IndexedDocStreams]]): each index table records
    * the last applied batch id in its own commit properties, and a
    * replayed batch skips per table. The two commits keep build/append's
    * toks-first order, so a crash between them leaves only "token sets
    * without bands" (docs not yet indexed, repaired by the replay) —
    * and the replay appends ONLY the missing bands, never duplicate
    * token sets. Returns false when the batch had fully applied.
    * Single sequential writer assumed (a streaming query's foreachBatch
    * contract): batch ids must arrive monotonically — the guard is a
    * high-water mark, not a set. */
  def appendBatch(
      cat: LakeCatalog,
      db: String,
      name: String,
      newDocs: DataFrame,
      batchId: Long,
      textCol: String = "text"): Boolean = {
    val toksT = cat.table(s"$db.${name}_toks")
    val bandsT = cat.table(s"$db.${name}_bands")
    def applied(t: graft.store.LakeTable): Boolean =
      t.properties.get(BatchProp).exists(_.toLong >= batchId)
    if (applied(bandsT)) return false
    val (staged, banded, toks) = sketchFor(cat, db, name, newDocs, textCol)
    try appendSketched(cat, db, name, banded, toks, batchId)
    finally { banded.unpersist(false); staged.unpersist(false); () }
  }

  /** [[appendBatch]] over an ALREADY-SKETCHED batch (from [[sketchFor]]
    * — same index, same parameters; the probe-then-append callers).
    * Caller keeps ownership of the sketch caches. */
  private[graft] def appendSketched(
      cat: LakeCatalog,
      db: String,
      name: String,
      banded: DataFrame,
      toks: DataFrame,
      batchId: Long): Boolean = {
    val toksT = cat.table(s"$db.${name}_toks")
    val bandsT = cat.table(s"$db.${name}_bands")
    def applied(t: graft.store.LakeTable): Boolean =
      t.properties.get(BatchProp).exists(_.toLong >= batchId)
    if (applied(bandsT)) return false
    val prop = Map(BatchProp -> batchId.toString)
    if (!applied(toksT)) toksT.append(toks, prop)
    bandsT.append(banded, prop)
    true
  }

  /** Remove documents from the index — the retraction / right-to-be-
    * forgotten path: one key-pruned delete per table (`deleteMatching`
    * dispatches COW or merge-on-read per the tables'
    * `write.delete.mode`). Band rows and token sets are both keyed by
    * doc_id, so removal is exact: a removed document can never appear
    * in a later probe's pairs, either as a candidate (no band rows) or
    * in the verify (no token set). Bands-FIRST, the reverse of
    * build/append's toks-first order, for the same reason: a crash
    * between the two deletes must leave "token sets without bands"
    * (unindexed, invisible to probes), never band rows whose token
    * sets are gone — the verify join would silently drop those
    * candidate pairs while the bands kept generating them. */
  def remove(
      cat: LakeCatalog,
      db: String,
      name: String,
      docIds: DataFrame): Unit = {
    val ids = docIds.select("doc_id")
    cat.table(s"$db.${name}_bands").deleteMatching(ids, Seq("doc_id"))
    cat.table(s"$db.${name}_toks").deleteMatching(ids, Seq("doc_id"))
    ()
  }

  /** Fold the index's accumulated micro-batch generations: one plain
    * compaction per table (the store's `rewriteDataFiles`). A streamed
    * index gains one manifest entry per append commit — probes walk
    * them driver-side, and pruning granularity IS the entry — and any
    * generation written under the sidecar floor carries no filters.
    * Compaction re-lands all rows in few large files, rebuilding
    * sidecars through the same floor-gated write path (a folded table
    * past `write.bloom.min-table-bytes` gets them even if every source
    * generation was under it — the backfill path the floor design
    * relies on). Contents are moved, never changed: probe results,
    * the build-generation pin, and the `lsh.last-batch` replay
    * high-water mark all survive (properties ride the rewrite commit).
    * Run it off the ingest path on a maintenance cadence, like the
    * store's compaction. Returns ((toksBefore, toksAfter),
    * (bandsBefore, bandsAfter)) file counts. */
  def compact(
      cat: LakeCatalog,
      db: String,
      name: String,
      targetFileBytes: Long = 128L * 1024 * 1024): ((Int, Int), (Int, Int)) = {
    // same order as build/append (toks first): a crash between the two
    // rewrites leaves one table compacted and the other not — contents
    // identical either way, so probes stay correct and the generation
    // pin never skews
    val t = cat.table(s"$db.${name}_toks").rewriteDataFiles(targetFileBytes)
    val b = cat.table(s"$db.${name}_bands").rewriteDataFiles(targetFileBytes)
    (t, b)
  }

  /** Probe: near-dup pairs (incoming doc_a × indexed doc_b) with exact
    * Jaccard ≥ threshold. One band-equality join generates candidates
    * (ids only), then ONLY candidates join their token sets back.
    *
    * ID contract: probe doc_ids must be DISJOINT from indexed ids —
    * except for a crash-replay of the identical batch (the one case
    * the index contract produces, handled exactly). A probe that
    * reuses an indexed id with DIFFERENT text would be verified
    * against its own token set instead of the indexed document's. */
  def query(
      cat: LakeCatalog,
      db: String,
      name: String,
      incoming: DataFrame,
      threshold: Double = 0.5,
      textCol: String = "text",
      maxProbeKeys: Int = DefaultMaxProbeKeys): DataFrame = {
    val (inStaged, inBands, inToks) = sketchFor(cat, db, name, incoming, textCol)
    Dedup.releasing(
      querySketched(cat, db, name, inBands, inToks, threshold, maxProbeKeys),
      inStaged, inBands)
  }

  /** Probe IN-lists above this cardinality fall back to the unpruned
    * full-index scan: the key collect is a driver-side action, and the
    * bloom walk downstream tests keys × surviving entries on the
    * driver — both must stay bounded. 64k keys keeps the worst-case
    * walk at ~64k tests per PRUNED entry (a kept entry short-circuits
    * on its first hit) while still covering any sane micro-batch
    * (≈16k docs at 4 bands); only a huge one-shot backfill batch
    * trips it, and for that the full scan IS the right plan. */
  private[graft] val DefaultMaxProbeKeys: Int = 1 << 16

  /** Indexes whose band AND token tables are each under this many data
    * bytes take the single-job unpruned probe plan: the pruned probe
    * pays ~3 extra driver actions (key collects + the candidate
    * checkpoint) plus sidecar loads per micro-batch — measured ~0.6 s
    * at local[32], a pure win only once the full-index scan costs
    * more. The `rewrite.tiny.max-bytes` dispatch pattern, as a
    * bands-table property; "0" disables the bypass (the prune-contract
    * specs pin the at-scale path through it). */
  private[graft] val ProbePruneMinBytesProp = "lsh.probe.prune-min-bytes"
  private[graft] val ProbePruneMinBytes: Long = 64L << 20
  private val TinyProbeMaxEntries = 64

  /** (table location, snapshot IDENTITY, cap) → tiny? — the byte probe
    * is O(entries) driver FS metadata and a stream probes every batch;
    * snapshots are immutable so a verdict is cacheable forever. The cap
    * is part of the key: the floor property lives on the BANDS table,
    * so changing it bumps only that table's version — the toks verdict
    * must not survive under a stale cap. Snapshot identity is (version,
    * first entry dir): version alone is NOT unique across a
    * drop-and-rebuild at the same warehouse path (versions restart at
    * 1), while data dirs are fresh UUIDs per write — the dir
    * disambiguates the rebuilt index from its predecessor. Entries are
    * a few dozen bytes each, but the map still LRU-evicts past a
    * generous cap so a long-lived session over many rebuilt indexes
    * cannot grow it unboundedly.
    *
    * A bounded LRU (evicting one eldest entry past the cap) instead of
    * a wipe-everything reset — a full clear would force every active
    * stream to re-probe its tables' sizes on the next batch. The size
    * probe (fs listings) runs OUTSIDE the lock, per the
    * [[graft.core.BoundedCache]] load rule; two racing probes of the
    * same key both compute and one wins — the verdict is a pure
    * function of the immutable (snapshot, cap) key, so the race is
    * benign. */
  private val tinyCache =
    new graft.core.BoundedCache[(String, Long, String, Long), Boolean](8192, _ => 1L)

  private def tinyIndex(
      bandsT: graft.store.LakeTable, toksT: graft.store.LakeTable): Boolean = {
    val cap = bandsT.properties.get(ProbePruneMinBytesProp) match {
      case Some(v) => scala.util.Try(v.toLong).getOrElse(ProbePruneMinBytes)
      case None => ProbePruneMinBytes
    }
    cap > 0L && Seq(bandsT, toksT).forall(t => t.currentSnapshot.exists(s =>
      s.entries.size <= TinyProbeMaxEntries &&
        tinyCache.getOrElseUpdate(
          (t.location, s.version, s.entries.headOption.fold("-")(_.dir), cap))(
          t.dataUnder(s, cap))))
  }

  /** Planning stats of the most recent probe in this JVM — probe/test
    * introspection (streams are single-writer; concurrent probes would
    * interleave this, so it is diagnostics, never control flow).
    * `tinyBypass` = the index was under the size floor and took the
    * single-job unpruned plan; counts are -1 where not applicable. */
  final case class ProbeStats(
      bandKeys: Int, bandEntriesPlanned: Int, bandEntriesTotal: Int,
      candidateIds: Int, toksEntriesPlanned: Int, toksEntriesTotal: Int,
      bandFallback: Boolean, toksFallback: Boolean, tinyBypass: Boolean)
  @volatile private[graft] var lastProbeStats: Option[ProbeStats] = None

  /** Distinct values of `c` when there are at most `cap` of them —
    * None above the cap (the caller falls back to an unpruned scan). */
  private def boundedDistinct(df: DataFrame, c: String, cap: Int): Option[Seq[Any]] = {
    val rows = df.select(c).distinct().limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows.toSeq.map(_.get(0)))
  }

  /** [[query]] over an ALREADY-SKETCHED batch (from [[sketchFor]]).
    *
    * Probe-pruned index reads — the 100 TB shape: the batch's band set
    * (bounded by batch × bands) pushes into the band table's
    * [[graft.store.LakeTable.readWhere]] as an IN list, so the per-file
    * bloom sidecars drop every index file holding none of the probed
    * bands BEFORE it is opened; the surviving candidate ids then prune
    * the token-set read the same way. Without this, every micro-batch
    * re-scanned the FULL inverted index and the FULL token-set table —
    * per-probe cost tracked the corpus, not the batch. Either key set
    * exceeding `maxProbeKeys` falls back to the old full-scan plan,
    * and an index under the [[ProbePruneMinBytesProp]] size floor
    * bypasses the whole machinery (tiny scans beat the probe's extra
    * driver actions — the tiny-rewrite dispatch pattern).
    *
    * The candidate-pair frame is materialized eagerly here (a local
    * checkpoint — ids only, bounded by the bucket caps) both to pin the
    * pre-append snapshot by VALUE and because the candidate-id collect
    * needs it; the returned verify join is lazy and must be consumed
    * while the caller still owns the sketch caches. */
  private[graft] def querySketched(
      cat: LakeCatalog,
      db: String,
      name: String,
      inBands: DataFrame,
      inToks: DataFrame,
      threshold: Double,
      maxProbeKeys: Int = DefaultMaxProbeKeys): DataFrame = {
    val bandsT = cat.table(s"$db.${name}_bands")
    val toksT = cat.table(s"$db.${name}_toks")
    // index-side token sets MINUS the probe batch's own ids: in the
    // crash-replay window (toks-first commit order — the batch's token
    // sets landed, its bands did not, the stream re-executes the batch)
    // the committed copy of a batch doc's token set would otherwise
    // ride NEXT TO the in-batch copy and duplicate every verify row of
    // that doc. The batch's sketch is deterministic, so dropping the
    // committed copy is exact; the anti join broadcasts batch-sized ids
    // — free at any index size. The pair generation below also drops
    // doc_a == doc_b rows, so a caller that violates the probe-id /
    // indexed-id disjointness contract (replaying an already-indexed id)
    // can mis-verify that id against its in-batch token set, but never
    // emits a degenerate (x, x, 1.0) self-pair.
    def idxToksOnly(idx: DataFrame): DataFrame =
      idx.join(broadcast(inToks.select("doc_id")), Seq("doc_id"), "left_anti")
    if (tinyIndex(bandsT, toksT)) {
      // under the size floor the full scan is cheaper than the pruned
      // probe's extra driver actions — the original one-job lazy plan
      lastProbeStats = Some(ProbeStats(-1, -1, -1, -1, -1, -1,
        bandFallback = true, toksFallback = true, tinyBypass = true))
      val pairs = inBands.select(col("band"), col("doc_id").as("doc_a"))
        .join(bandsT.read.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      return Dedup.jaccardOnPairs(pairs, inToks.unionByName(idxToksOnly(toksT.read)), threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }
    val probeBands = boundedDistinct(inBands, "band", maxProbeKeys)
    val (pairsPlan, bandPlanned, bandTotal) = probeBands match {
      case Some(ks) if ks.isEmpty =>
        // every doc fell under the shingle floor: nothing can pair
        (inBands.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")).limit(0), 0, 0)
      case other =>
        val (idxBands, planned, total) = other match {
          case Some(ks) => bandsT.readWhereCounted(col("band").isInCollection(ks))
          case None =>
            val full = bandsT.read
            (full, -1, -1)
        }
        val p = inBands.select(col("band"), col("doc_id").as("doc_a"))
          .join(idxBands.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
          .filter(col("doc_a") =!= col("doc_b"))
          .select("doc_a", "doc_b")
          .distinct()
        (p, planned, total)
    }
    val pairs = pairsPlan.localCheckpoint(true)
    val cands = boundedDistinct(pairs, "doc_b", maxProbeKeys)
    val (docToks, toksPlanned, toksTotal) = cands match {
      case Some(ids) if ids.isEmpty => (inToks, 0, 0)
      case Some(ids) =>
        val (idxToks, planned, total) =
          toksT.readWhereCounted(col("doc_id").isInCollection(ids))
        (inToks.unionByName(idxToksOnly(idxToks)), planned, total)
      case None => (inToks.unionByName(idxToksOnly(toksT.read)), -1, -1)
    }
    lastProbeStats = Some(ProbeStats(
      probeBands.map(_.size).getOrElse(-1), bandPlanned, bandTotal,
      cands.map(_.size).getOrElse(-1), toksPlanned, toksTotal,
      bandFallback = probeBands.isEmpty, toksFallback = cands.isEmpty,
      tinyBypass = false))
    Dedup.jaccardOnPairs(pairs, docToks, threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }
}
