package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.store.LakeCatalog

/** Persistent IVF index over the LakeTable store: build once, query many.
  *
  * `build` trains the coarse quantizer (per-label centroids over a
  * SAMPLE-BOUNDED training set — at scale a k-means loop over the same
  * aggregation), assigns every corpus vector to its nearest cell
  * map-side (exact flat argmax up to [[IvfIndex.DefaultFlatMaxCells]]
  * cells, the hierarchical two-level assign above — the fix for the
  * N×nlist flat-assign scale term), and persists BOTH as tables:
  *
  *  - `<name>_centroids`: nlist rows — tiny, broadcast at query time;
  *  - `<name>_cells`: the corpus PARTITIONED BY cell, so probing is a
  *    partition-pruned scan — a query touches nprobe cells' files and
  *    never the other (nlist − nprobe)/nlist of the corpus. This is the
  *    on-disk analog of an IVF inverted list, and the file-skipping is
  *    what makes repeated querying cheap at 100 TB (e04 re-derives the
  *    whole index per query instead).
  *
  * Query planning collects the probed cell ids to the driver (bounded by
  * min(queries×nprobe, nlist) — index metadata, like Iceberg manifest
  * planning) so the cells scan carries a LITERAL partition filter that
  * prunes at file-listing time.
  */
object IvfIndex {

  /** Assignment dispatch floor, pinned on the centroids table at build
    * time: at or under this many cells, corpus vectors assign by the
    * EXACT flat argmax (one broadcast crossJoin — N×nlist distances);
    * above it, the hierarchical two-level assign runs (N×~2√nlist).
    * The flat regime is the oracle-checked one; the hierarchical
    * algorithm is itself deterministic and spec-pinned (equal to flat
    * on separated clusters, recall-bounded on mixed data). */
  private[graft] val FlatMaxCellsProp = "ivf.assign.flat-max-cells"
  private[graft] val DefaultFlatMaxCells = 64

  /** Super-groups each vector probes during hierarchical assign: 1
    * would mis-assign every vector near a group boundary; more probes
    * restore more of the flat argmax at N×(√nlist + p·√nlist) cost —
    * the standard multi-probe trade, and at p ≥ √nlist the result IS
    * the flat argmax on any data (every group probed). Pinned on the
    * centroids table at build time (like the dispatch floor) so
    * append/rebalance keep the build's assignment quality. Default 3:
    * the ladder's top-5 recall vs a flat-assigned twin on adversarial
    * near-duplicate mixed data measured 0.925 → 0.975 at the x10 rung
    * and 0.750 → 0.821 at x100 (nlist=1000, ~30 groups) going from 2
    * to 3 probes, with no measurable build-wall cost at either rung —
    * assign work stays N×~4√nlist, far off the N×nlist flat cliff. */
  private[graft] val GroupProbesProp = "ivf.assign.group-probes"
  // width 4 on r18 ladder evidence (recall vs the flat twin on
  // adversarial near-dup data, builds within run-to-run wall noise):
  // x10 0.975→0.980, x100 0.821→0.875 over width 3 — the same
  // measured recall-up-wall-flat pattern that moved 2→3 in r17.
  // Assign work stays N×~(1+p)√nlist, far off the N×nlist flat cliff.
  private[graft] val DefaultAssignGroupProbes = 4

  /** Coarse-quantizer training-sample cap: past this many corpus rows,
    * training reads a deterministic 1-in-⌈N/cap⌉ hash sample of the
    * corpus instead of all of it. Per-cell means converge long before
    * 100k samples spread over any sane nlist, and the cap bounds the
    * training aggregation's input no matter how large the corpus —
    * the "sampled k-means training" every production IVF builder runs.
    * Under the cap (every oracle-gate dataset) the sample IS the
    * corpus, bit-for-bit. */
  private[graft] val DefaultTrainCap = 100000L

  private def nearestCells(vectors: DataFrame, cents: DataFrame, n: Int,
      idAs: String, vecAs: String): DataFrame = {
    val byCos = Window.partitionBy(idAs).orderBy(desc("cos_c"), col("label"))
    vectors
      .crossJoin(broadcast(cents))
      .withColumn("cos_c", cosine(col(vecAs), col("centroid")))
      .withColumn("rn", row_number().over(byCos))
      .filter(col("rn") <= n)
      .select(col("label").as("cell"), col(idAs), col(vecAs))
  }

  /** Per-group element-wise mean of centroid vectors — ONE delegation
    * to [[Similarity.labelCentroidVectors]] so the 6dp rounding
    * discipline (cross-row double-sum order must not leak into
    * comparisons) lives in exactly one place. Input and output are
    * nlist-and-smaller frames; everything here is broadcast metadata,
    * never corpus-sized. */
  private def groupMeans(centsWithGrp: DataFrame, grpCol: String): DataFrame =
    Similarity.labelCentroidVectors(
      centsWithGrp.select(col(grpCol).as("label"), col("centroid").as("embedding")))
      .select(col("label").as("grp"), col("centroid").as("gcent"))

  /** HIERARCHICAL (two-level) nearest-cell assignment — the flat-IVF
    * scale fix: the flat argmax is N×nlist distance evaluations, which
    * at the standard nlist≈√N sizing is N^1.5 — the one superlinear
    * term in the index lifecycle (the r15 ladder measured it: ×100
    * work per corpus decade). Instead:
    *
    *  1. the nlist centroids are clustered into √nlist SUPER-GROUPS
    *     (deterministic label-hash seeding + one Lloyd step — all
    *     nlist-sized metadata work);
    *  2. each vector finds its `groupProbes` nearest super-groups
    *     ([[GroupProbesProp]], default [[DefaultAssignGroupProbes]] —
    *     N×√nlist distances, broadcast map-side);
    *  3. the exact argmax runs over ONLY those groups' member cells
    *     (N×~p·√nlist distances).
    *
    * Total N×~(1+p)√nlist — at the default p the per-decade work ratio
    * drops from ×100 to ×~31 at nlist∝N, ×~18 at nlist∝√N (the √nlist
    * term dominates both). Deterministic end-to-end
    * (hash seeding, 6dp-rounded means, label tie-breaks); approximate
    * only in that a vector whose true nearest cell lives outside its
    * probed groups lands in its best probed cell instead — the
    * assignment-quality trade every two-level coarse quantizer
    * (IMI-style) makes, and assignment quality is IVF recall, not
    * correctness. On well-separated clusters the result EQUALS the
    * flat argmax (spec-pinned).
    *
    * The vector-side stages are partial AGGREGATES, not windows: a
    * `row_number over (partition by vec_id)` rank would shuffle every
    * scored (vector, candidate) row — N×~3√nlist rows, each dragging
    * its embedding through the exchange — just to keep the best few.
    * The bounded top-k aggregate ([[graft.expressions.TopKByScore]],
    * group probe) and a `min(struct(-cos, label))` argmax (cell pick)
    * both reduce map-side, so ONE exchange carries ~N combined rows;
    * the second aggregate reuses the first's hash(vec_id) partitioning
    * and shuffles nothing. Orderings reproduce the window ranks
    * exactly: top-k keeps (score desc, id asc) and the lexicographic
    * struct-min is (cos desc, label asc) — same tie-breaks as
    * [[nearestCells]]. (Sole divergence: a zero-norm vector's NaN
    * cosine ranks FIRST under a desc window but loses a struct-min —
    * no trained centroid or sane embedding is zero-norm, and either
    * way is an arbitrary cell for a direction-free vector.) */
  /** The centroid→super-group map [[twoLevelAssign]] probes through:
    * deterministic label-hash seeding into √nlist groups, then one
    * Lloyd step (hash seeding alone would scatter spatial neighbors
    * across groups). All nlist-sized metadata work; the windows here
    * never see corpus rows. Exposed to the scale probe so ladder runs
    * can audit group-size balance — a dominant super-group would
    * quietly degrade the two-level assign back toward flat cost. */
  private[graft] def centroidGroups(cents: DataFrame, nlist: Long): DataFrame = {
    val g = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val seeds = groupMeans(
      cents.withColumn("grp0", pmod(xxhash64(col("label")), lit(g.toLong))), "grp0")
    val byG = (idCol: String) =>
      Window.partitionBy(idCol).orderBy(desc("gcos"), col("grp"))
    cents
      .crossJoin(broadcast(seeds))
      .withColumn("gcos", cosine(col("centroid"), col("gcent")))
      .withColumn("rn", row_number().over(byG("label")))
      .filter(col("rn") === 1)
      .select(col("grp"), col("label"), col("centroid"))
  }

  /** Sorted member counts of the super-groups (ladder balance audit). */
  private[graft] def assignGroupSizes(cents: DataFrame): Seq[Long] = {
    val nlist = cents.count()
    centroidGroups(cents, nlist).groupBy("grp").count()
      .collect().map(_.getLong(1)).toSeq.sorted
  }

  private[graft] def twoLevelAssign(
      vectors: DataFrame, cents: DataFrame, nlist: Long,
      groupProbes: Int = DefaultAssignGroupProbes): DataFrame = {
    val centsG = centroidGroups(cents, nlist)
    val gcents = groupMeans(centsG.withColumn("grp0", col("grp")), "grp0")
    val probed = vectors
      .crossJoin(broadcast(gcents))
      .withColumn("gcos", cosine(col("embedding"), col("gcent")))
      .groupBy("vec_id")
      .agg(
        topKByScore(col("gcos"), col("grp"), groupProbes).as("top"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), explode(col("top.id")).as("grp"))
    probed
      .join(broadcast(centsG), Seq("grp"))
      .withColumn("cos_c", cosine(col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(
        min(struct((-col("cos_c")).as("nc"), col("label").as("l"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("best.l").as("cell"), col("vec_id"), col("embedding"))
  }

  /** Work floor for the hierarchical dispatch: below this many flat
    * distance evaluations (vectors × cells) the exact argmax is cheaper
    * than the two-level pipeline's ~half-dozen extra metadata jobs —
    * the micro-batch-append shape (hundreds of vectors against
    * thousands of cells is ~10^5 evals, far under any job floor). The
    * same measured-break-even pattern as the LSH probe's size floor. */
  private[graft] val FlatMaxAssignWork = 1L << 22

  /** Corpus-side cell assignment with the two-sided dispatch: the exact
    * flat argmax at or under `flatMaxCells` cells OR under the
    * [[FlatMaxAssignWork]] work floor (vectors × cells — small batches
    * stay flat even against a large quantizer); [[twoLevelAssign]]
    * above both. `vectors` must carry (vec_id, embedding); `vecCount`
    * is the caller's row count for the work floor — BY NAME, so the
    * count job only runs once the cell floor is already exceeded (the
    * oracle-scale and micro-index paths never pay it). */
  private def assignCells(
      vectors: DataFrame, cents: DataFrame, flatMaxCells: Int,
      vecCount: => Long,
      groupProbes: Int = DefaultAssignGroupProbes): DataFrame = {
    val nlist = cents.count()
    // NULL embeddings are dropped UNIFORMLY, before the dispatch: a
    // null vector has no direction — no probe can ever match it, and
    // every cell is equally (non-)near. Without this filter the two
    // paths diverged silently: the aggregate-based twoLevelAssign
    // eliminated nulls (TopKByScore skips null scores → empty array →
    // explode drops the row) while the flat window path parked them in
    // an arbitrary cell — so whether a null-embedding vector appeared
    // in the cells table depended on the SIZE dispatch. The dispatch-
    // equivalence spec pins both paths dropping identically.
    val vecs = vectors.filter(col("embedding").isNotNull)
    // flatMaxCells == 0 is the explicit "always hierarchical" override
    // (the prune-contract spec hook) — it bypasses the work floor too.
    // The work floor compares by DIVISION: vecCount * nlist can overflow
    // Long at extreme sizes and would then select the flat path exactly
    // where it is most catastrophic.
    if (nlist <= flatMaxCells ||
        (flatMaxCells > 0 && vecCount <= FlatMaxAssignWork / math.max(1L, nlist)))
      nearestCells(vecs, cents, n = 1, idAs = "vec_id", vecAs = "embedding")
    else twoLevelAssign(vecs, cents, nlist, groupProbes)
  }

  private def flatMaxCellsOf(cat: LakeCatalog, db: String, name: String): Int =
    cat.table(s"$db.${name}_centroids").properties.get(FlatMaxCellsProp)
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(DefaultFlatMaxCells)

  private def groupProbesOf(cat: LakeCatalog, db: String, name: String): Int =
    cat.table(s"$db.${name}_centroids").properties.get(GroupProbesProp)
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(DefaultAssignGroupProbes)

  /** Size floor for the cells table's vec_id bloom sidecars — the
    * retraction prune: cell PARTITION pruning confines a removal only
    * until a compaction folds each cell into one wide entry whose key
    * range spans everything; past that, the per-leaf vec_id filters
    * are what keep a removal's matches scan and rewrite confined to
    * the cells that actually hold the removed vectors (the LSH
    * `_bands` doc_id-bloom story, cell-partitioned). Under the floor
    * commits skip the sidecar job — tiny indexes never consult them. */
  private[graft] val BloomMinTableBytes = 64L << 20

  /** Train + assign + persist. Idempotent (createOrReplace).
    *
    * Training is SAMPLE-BOUNDED (see [[DefaultTrainCap]]): one count
    * job sizes the corpus, and past the cap the per-label centroid
    * aggregation reads a deterministic `pmod(xxhash64(vec_id), m)==0`
    * sample — O(cap) training input at any corpus size. A label so
    * rare the sample misses it entirely gets no cell (its vectors
    * assign to their nearest surviving centroid) — the standard
    * empty-cluster outcome, gone at the next retrain. Assignment
    * dispatches per [[FlatMaxCellsProp]] and probes [[GroupProbesProp]]
    * super-groups when hierarchical — both pinned on the centroids
    * table by this build so append/rebalance reuse the same algorithm
    * at the same quality. */
  def build(
      cat: LakeCatalog,
      db: String,
      name: String,
      corpus: DataFrame,
      flatMaxCells: Int = DefaultFlatMaxCells,
      trainCap: Long = DefaultTrainCap,
      bloomMinBytes: Long = BloomMinTableBytes,
      groupProbes: Int = DefaultAssignGroupProbes): Unit = {
    val n = corpus.count()
    val trainSet =
      if (n <= trainCap) corpus
      else {
        val m = math.ceil(n.toDouble / trainCap).toLong
        corpus.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
      }
    val cents = Similarity.labelCentroidVectors(trainSet)
    cat.table(s"$db.${name}_centroids").createOrReplace(cents,
      tableProperties = Map(
        FlatMaxCellsProp -> flatMaxCells.toString,
        GroupProbesProp -> groupProbes.toString))
    val assigned = assignCells(
      corpus.select(col("vec_id"), col("embedding")),
      cat.table(s"$db.${name}_centroids").read, flatMaxCells, vecCount = n,
      groupProbes = groupProbes)
    cat.table(s"$db.${name}_cells")
      .createOrReplace(assigned, partitionBy = Seq("cell"),
        tableProperties = Map(
          "write.bloom.columns" -> "vec_id",
          "write.bloom.min-table-bytes" -> bloomMinBytes.toString))
    ()
  }

  /** Incremental ADD: assign new vectors to the EXISTING (frozen) coarse
    * quantizer and APPEND them to the partitioned cells table — the
    * standard IVF maintenance path: no retrain, no rebuild, and the
    * store-level append never rewrites untouched cells' files. Recall
    * drifts only as the data distribution drifts, which is when a
    * periodic `build` re-trains (the compaction analog). */
  def append(cat: LakeCatalog, db: String, name: String, newVectors: DataFrame): Unit = {
    val cents = cat.table(s"$db.${name}_centroids").read
    val batch = newVectors.select(col("vec_id"), col("embedding"))
    val assigned = assignCells(batch, cents,
      flatMaxCellsOf(cat, db, name), vecCount = batch.count(),
      groupProbes = groupProbesOf(cat, db, name))
    cat.table(s"$db.${name}_cells").append(assigned)
    ()
  }

  /** Last-applied micro-batch id, recorded on the cells table's own
    * append commit (streaming-sink replay guard — [[appendBatch]]). */
  private[graft] val BatchProp = "ivf.last-batch"

  /** Idempotent per-micro-batch ADD — the streaming-ingest shape
    * ([[graft.streaming.IndexedVecStreams]]): [[append]] under the
    * frozen quantizer, with the last applied batch id riding the SAME
    * cells-table commit, so a replayed foreachBatch is a no-op. The
    * index is one table (centroids are never touched by an add), so
    * the guard IS the transaction. Returns false on a replay.
    * Single sequential writer assumed (a streaming query's foreachBatch
    * contract): batch ids must arrive monotonically — the guard is a
    * high-water mark, not a set. */
  def appendBatch(
      cat: LakeCatalog,
      db: String,
      name: String,
      newVectors: DataFrame,
      batchId: Long): Boolean = {
    val cells = cat.table(s"$db.${name}_cells")
    if (cells.properties.get(BatchProp).exists(_.toLong >= batchId)) return false
    val cents = cat.table(s"$db.${name}_centroids").read
    val batch = newVectors.select(col("vec_id"), col("embedding"))
    val assigned = assignCells(batch, cents,
      flatMaxCellsOf(cat, db, name), vecCount = batch.count(),
      groupProbes = groupProbesOf(cat, db, name))
    cells.append(assigned, Map(BatchProp -> batchId.toString))
    true
  }

  /** Remove vectors from the index — the retraction path: one
    * key-pruned delete on the cells table (`deleteMatching` dispatches
    * COW or merge-on-read per `write.delete.mode`). The centroids
    * table is untouched (the frozen quantizer is statistics, not
    * content — the next `rebalance`/`build` re-trains without the
    * removed vectors). Exact: a removed vector can never surface as a
    * neighbor, and the rewrite stays confined to the cells that
    * actually held it — by key-range stats while appends keep leaves
    * key-clustered, and by the per-leaf vec_id bloom sidecars
    * ([[BloomMinTableBytes]]) once a compaction has folded each cell
    * into one wide, range-useless entry. */
  def remove(
      cat: LakeCatalog,
      db: String,
      name: String,
      vecIds: DataFrame): Unit = {
    cat.table(s"$db.${name}_cells")
      .deleteMatching(vecIds.select("vec_id"), Seq("vec_id"))
    ()
  }

  /** Fold the cells table's accumulated append generations: one plain
    * compaction (the store's `rewriteDataFiles`, layout-preserving —
    * the table stays cell-partitioned). Every streamed append commits
    * one manifest entry PER TOUCHED CELL LEAF (up to batch-size
    * entries per micro-batch — the `Probe <sf> ivf` ladder measures
    * this), and probes walk entries driver-side, so an unfolded index
    * eventually pays O(appends × touched-leaves) planning per query.
    * Contents are moved, never changed: probe results, the replay
    * high-water mark, and the centroids table (untouched) all
    * survive. Run off the ingest path on a maintenance cadence —
    * `rebalance`'s cheaper sibling for when the quantizer has NOT
    * drifted. Returns (filesBefore, filesAfter). */
  def compact(
      cat: LakeCatalog,
      db: String,
      name: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    cat.table(s"$db.${name}_cells").rewriteDataFiles(targetFileBytes)

  /** Centroid re-balance after appends — the periodic maintenance step
    * production IVF engines run when the data distribution has drifted
    * from the quantizer (appends keep their frozen-centroid cell
    * assignments forever; recall decays as the corpus moves).
    *
    *  1. re-train: each cell's centroid becomes the mean of the vectors
    *     CURRENTLY assigned to it (one k-means step over the full cells
    *     table — a scan + fixed-size agg, the cheapest sound re-train);
    *  2. re-assign: every vector's nearest cell under the NEW centroids
    *     is computed map-side (broadcast nlist×dim table, like build);
    *  3. move ONLY the vectors whose cell changed: a key-pruned
    *     copy-on-write delete out of their old cell partitions plus an
    *     append into the new ones. Unmoved vectors' files are never
    *     rewritten, so the commit cost tracks the number of MOVED
    *     vectors (`Probe <sf> ivf` pins this), not the index size.
    *
    * Returns the number of vectors moved. The moved set is persisted
    * across its two consumers (the delete's key join and the append)
    * so the reassignment argmax runs once.
    */
  def rebalance(cat: LakeCatalog, db: String, name: String): Long = {
    val cells = cat.table(s"$db.${name}_cells")
    val flatMaxCells = flatMaxCellsOf(cat, db, name)
    val groupProbes = groupProbesOf(cat, db, name)
    val current = cells.read.select("cell", "vec_id", "embedding")
    // same one-true aggregation as build's training (6dp discipline)
    val newCents = Similarity.labelCentroidVectors(
      current.select(col("cell").as("label"), col("embedding")))
    // the replace re-pins the assignment dispatch floor and probe width
    // — the algorithm must not silently change across a re-train
    cat.table(s"$db.${name}_centroids").createOrReplace(newCents,
      tableProperties = Map(
        FlatMaxCellsProp -> flatMaxCells.toString,
        GroupProbesProp -> groupProbes.toString))
    val reassigned = assignCells(
      current.select(col("vec_id"), col("embedding")),
      cat.table(s"$db.${name}_centroids").read, flatMaxCells,
      vecCount = current.count(), groupProbes = groupProbes)
    val moved = reassigned
      .join(current.select(col("vec_id"), col("cell").as("old_cell")), Seq("vec_id"))
      .filter(col("cell") =!= col("old_cell"))
      .select("cell", "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = moved.count() // materialize before mutating the table
      // ONE atomic commit: a partition-moving MERGE deletes each moved
      // vector from its old cell and lands it in the new one together —
      // a delete+append pair would leave the index missing every moved
      // vector if the writer died between the two commits
      if (n > 0) cells.mergeInto(moved, Seq("vec_id"))
      n
    } finally { moved.unpersist(); () }
  }

  /** ANN top-k against the persisted index. Query-side cell probing
    * stays the exact flat argmax at any nlist: it costs batch×nlist
    * (the BATCH is small — this is the one place the corpus size never
    * enters), and probe selection drives recall directly, so it gets
    * the exact ranking even when corpus-side assignment dispatched
    * hierarchical. */
  def query(
      cat: LakeCatalog,
      db: String,
      name: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val cents = cat.table(s"$db.${name}_centroids").read
    // eager local checkpoint: the assignment feeds BOTH the probed-cell
    // collect and the broadcast join — without it the batch×nlist
    // distance pass runs twice; the checkpointed payload is only
    // (cell, query_id, qv) × nprobe, bounded by the query batch
    val probes = nearestCells(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      cents, n = nprobe, idAs = "query_id", vecAs = "qv")
      .localCheckpoint(true)
    // literal IN over the partition column, through readWhere: the
    // manifest's degenerate [v,v] partition ranges drop non-probed
    // cells' entries at PLANNING time (plan size tracks nprobe, not the
    // index's cell count), and the scan's directory pruning then skips
    // their files — versus read+filter, which planned every entry and
    // relied on the file source alone
    val probedCells = probes.select("cell").distinct().collect().map(_.get(0))
    val cellRows = cat.table(s"$db.${name}_cells")
      .readWhere(col("cell").isin(probedCells.toIndexedSeq: _*))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("vec_id"))
    cellRows
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cos", cosine(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }
}
