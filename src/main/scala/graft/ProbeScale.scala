package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Probe.{noop, timed, Ctx}
import graft.operators.{Curation, Dedup, IvfIndex, LshIndex, Rollup, Similarity}
import graft.store.{LakeTable, StoreTiming}
import graft.streaming.IndexedDocStreams

/** Corpus and index scale ladders of [[Probe]]: empirical evidence that
  * the plans scale superlinearly-safely as the corpus or the indexed
  * history grows — candidate generation stays bounded (band buckets,
  * cells, bloom-pruned entries, not all-pairs), shuffles carry
  * ids/hashes (not text), and wall-clock grows ~linearly or stays flat. */
private[graft] object ProbeScale {

  /** `scale [mult]`: the flagship dedup, ANN, store, rollup, bloom and
    * LSH-index shapes on a `mult`× corpus (default 10). */
  def scale(c: Ctx): Unit = {
    val mult = c.args.int("mult", 10)
    val n = c.docs.count()
    val (big, nBig) = c.corpus(mult)(c.docReplica)
    println(s"PROBE corpus: $nBig docs ($n x $mult)")

    // one timing helper for the whole probe: generic body, row-count
    // suffix when the timed work returns one
    def probe[A](name: String)(body: => A): A = {
      val (a, s) = timed(body)
      val suffix = a match { case n: Long => s"  ($n rows)"; case _ => "" }
      println(f"PROBE $name%-24s $s%8.2f s$suffix")
      a
    }
    def count(name: String)(df: => DataFrame): Unit = { probe(name)(df.count()); () }
    count("exact_groups")(Dedup.exactGroups(big))
    count("lsh_near_dup")(Dedup.lshNearDuplicates(big, maxBucket = 1000))
    count("dup_ngram_coverage")(Dedup.dupNgramCoverage(big))
    // d54: the actionable form of the coverage score — non-owner
    // occurrences of corpus-duplicated spans removed, text rebuilt.
    // Replicas share zero tokens, so duplicated-span density is
    // constant as the corpus grows: wall must track ~the corpus (one
    // token-stage pass + hash-keyed shuffles), never all-pairs.
    count("substring_dedup (d54)")(Dedup.exactSubstringDedup(big))
    count("simhash_near_dup")(Dedup.simhashNearDuplicates(big))

    // ANN probes (the e04/e07/e19 IVF family): corpus replicated with
    // id offsets — per-cell population grows `mult`×, and the claim
    // under test is that candidate generation stays cell-bounded (query
    // cost ~linear in corpus, never all-pairs) while index build is a
    // one-shuffle assignment. Queries stay FIXED (25 vectors) so probe
    // wall-clock isolates corpus growth.
    val (embBig, nVecs) = c.corpus(mult)(c.embReplica(_, distinct = false))
    val queries = c.embeddings.filter(col("vec_id") < 25)
    println(s"PROBE embeddings: $nVecs vectors x ${queries.count()} queries")

    count("ivf_knn_derive (e04)")(
      Similarity.ivfKnn(queries, embBig, k = 5, nprobe = 3))
    val cat = c.freshCatalog(s"ivf_$mult")
    count("ivf_index_build (e07)") {
      IvfIndex.build(cat, "probe", "ann", embBig)
      cat.table("probe.ann_cells").read
    }
    count("ivf_index_query (e07)")(
      IvfIndex.query(cat, "probe", "ann", queries, k = 5, nprobe = 3))
    count("ivf_index_append (e19)") {
      // one replica's worth of fresh vectors against the frozen quantizer
      IvfIndex.append(cat, "probe", "ann", c.embReplica(mult, distinct = false))
      cat.table("probe.ann_cells").read
    }
    count("ivf_query_after_append")(
      IvfIndex.query(cat, "probe", "ann", queries, k = 5, nprobe = 3))
    count("ivf_rebalance (e22)") {
      // re-train centroids from current assignments, move only the
      // vectors whose cell changed — cost must track MOVED vectors
      val moved = IvfIndex.rebalance(cat, "probe", "ann")
      println(s"    [rebalance moved $moved vectors]")
      cat.table("probe.ann_cells").read
    }

    // Store probe: copy-on-write vs merge-on-read MERGE on a `mult`×
    // table, same 1%-of-base micro-batch. The claim under test is the
    // MoR write contract: COW merge cost tracks the table slice it
    // rewrites, MoR commit cost tracks only the batch — the gap is what
    // a heavy-update CDC table buys at 100 TB. Compaction then pays the
    // folded cost once, off the ingest path.
    val storeCat = c.freshCatalog(s"store_$mult")
    val docTable = big.select(col("doc_id"), col("source"), col("n_chars"))
    val batch = docTable.filter(col("doc_id") % 100 === 7)
      .withColumn("n_chars", col("n_chars") + 1)
    val cow = storeCat.table("probe.docs_cow")
    cow.createOrReplace(docTable)
    probe("cow_merge")(cow.mergeInto(batch, Seq("doc_id")))
    val mor = storeCat.table("probe.docs_mor")
    mor.createOrReplace(docTable)
    probe("mor_merge")(mor.mergeIntoMoR(batch, Seq("doc_id")))
    probe("mor_masked_read")(noop(mor.read))
    probe("mor_compaction")(mor.rewritePositionDeleteFiles())

    // Stats-pruned MoR read: ingest as `mult` ranged appends (one entry
    // per append, disjoint doc_id ranges), then delete keys confined to
    // the NEWEST range. morRead's manifest-stats pruning must confine
    // the anti-join to that one entry — every older entry reads plain —
    // so the masked read costs ~a plain scan regardless of how many
    // delete-free entries the table holds (the 100 TB shape: deletes
    // land in recent partitions, history stays untaxed).
    def docReplica(i: Int) = c.docReplica(i)
      .select(col("doc_id"), col("source"), col("n_chars"))
    def ranged(name: String, replica: Int => DataFrame): LakeTable = {
      val t = storeCat.table(name)
      t.createOrReplace(replica(0))
      (1 until mult).foreach(i => t.append(replica(i)))
      t
    }
    val rangedT = ranged("probe.docs_ranged", docReplica)
    probe("ranged_plain_read")(noop(rangedT.read))
    probe("mor_ranged_delete")(rangedT.deleteWhereExistsMoR(
      docReplica(mult - 1).filter(col("doc_id") % 100 === 7).select("doc_id"),
      Seq("doc_id")))
    probe("mor_pruned_read")(noop(rangedT.read))

    // Incremental rollup maintenance (c30/c33 machinery) on the ranged
    // table's shape: bootstrap aggregates the whole corpus once; then a
    // FIXED-size append folds in O(increment), and a FIXED-size MoR
    // delete folds as a negative delta whose removedChanges scan is
    // confined by manifest stats to the one entry the delete keys can
    // reach. Both refreshes must stay ~flat as `mult` grows while the
    // bootstrap scales with the corpus — the maintenance-vs-rebuild gap
    // every 100 TB ledger rollup lives on.
    val ruSrc = ranged("probe.docs_rusrc", docReplica)
    val ruDst = storeCat.table("probe.docs_rollup")
    def refresh() = Rollup.refresh(ruSrc, ruDst, Seq("source"), Seq("n_chars"))
    probe("rollup_bootstrap")(refresh())
    probe("rollup_append_fold") {
      ruSrc.append(docReplica(0)
        .filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(2_000_000_000L)))
      refresh()
    }
    probe("rollup_mor_fold") {
      ruSrc.deleteWhereExistsMoR(
        docReplica(0).filter(col("doc_id") < 500).select("doc_id"),
        Seq("doc_id"))
      refresh()
    }

    // MoR-extrema rollup (c35/c40 machinery): MAX is non-invertible
    // under deletes, so the refresh re-aggregates the touched groups
    // from the SOURCE — the touched-key pruning must confine that scan
    // to entries whose stats can contain the touched groups. Source =
    // `mult` ranged appends with a range-aligned group column (one
    // `grp` value per entry); delete keys confined to the NEWEST range
    // ⇒ the re-agg plans ~1 entry no matter how many ranges the table
    // holds (the 100 TB shape: churn lands in recent partitions, the
    // extrema re-agg never re-reads cold history).
    def grpReplica(i: Int) = docReplica(i).withColumn("grp", lit(i))
    val exSrc = ranged("probe.docs_exsrc", grpReplica)
    val exDst = storeCat.table("probe.docs_exrollup")
    def exRefresh() = Rollup.refresh(exSrc, exDst, Seq("grp"), Seq("n_chars"),
      maxCols = Seq("n_chars"))
    probe("extrema_bootstrap")(exRefresh())
    probe("extrema_mor_fold") {
      exSrc.deleteWhereExistsMoR(
        grpReplica(mult - 1).filter(col("doc_id") % 100 === 7).select("doc_id"),
        Seq("doc_id"))
      exRefresh()
    }
    // plan-level evidence, same predicate shape the refresh inlined
    val planned = exSrc.prunedEntries(exSrc.currentSnapshot.get,
      col("grp").isInCollection(Seq(mult - 1))).size
    println(s"    [extrema re-agg plans $planned of >=$mult entries]")

    // Bloom-sidecar point lookup: `bloomK` INTERLEAVED appends (every
    // entry spans the full doc_id range, so min/max stats prune
    // nothing), then a single-key readWhere. With write.bloom.columns
    // the lookup plans ~1 entry after KB-sized sidecar reads; the
    // control table without blooms must open every entry. The gap is
    // the 100 TB PK-lookup story: sidecar IO is per-probed-entry,
    // data IO per-match — neither grows with the table.
    val bloomK = 8
    val bloomed = storeCat.table("probe.docs_bloomed")
    val plainT = storeCat.table("probe.docs_plain")
    def slice(i: Int) = docTable.filter(col("doc_id") % bloomK === i)
    probe("bloom_ingest") {
      bloomed.createOrReplace(slice(0), tableProperties = Map(
        "write.bloom.columns" -> "doc_id"))
      (1 until bloomK).foreach(i => bloomed.append(slice(i)))
    }
    plainT.createOrReplace(slice(0))
    (1 until bloomK).foreach(i => plainT.append(slice(i)))
    val probeKey = 4243L // lives in exactly one slice
    val bloomPlanned = bloomed
      .prunedEntries(bloomed.currentSnapshot.get, col("doc_id") === probeKey).size
    val plainPlanned = plainT
      .prunedEntries(plainT.currentSnapshot.get, col("doc_id") === probeKey).size
    println(s"    [bloom plans $bloomPlanned / $bloomK entries; control plans $plainPlanned]")
    probe("bloom_point_lookup")(bloomed.readWhere(col("doc_id") === probeKey).count())
    probe("plain_point_lookup")(plainT.readWhere(col("doc_id") === probeKey).count())

    // Persistent LSH index (d51) vs one-shot incremental near-dup
    // (d47) on a FIXED ~500-doc probe batch: the index sketches history
    // once at build, so probe cost must stay ~flat as history grows;
    // the one-shot operator re-tokenizes and re-sketches ALL history
    // per batch and grows with the corpus — the gap is the per-micro-
    // batch cost a 100 TB near-dup screen pays without the index.
    val probeBatch = recentDocs(c, 2_000_000_000L)
    probe("lsh_index_build")(LshIndex.build(storeCat, "probe", "nd", big))
    probe("lsh_index_probe")(
      LshIndex.query(storeCat, "probe", "nd", probeBatch).count())
    probe("lsh_oneshot_probe")(
      Dedup.incrementalNearDuplicates(probeBatch, big).count())
  }

  /** The first ~500 base documents re-keyed from `offset`: a fixed probe
    * or micro-batch whose ids clear EVERY replica range (replica i shifts
    * by i*10M, topping out at 990M + base ids at the x100 rung), or the
    * jaccard token-union would merge two documents under one id. */
  private def recentDocs(c: Ctx, offset: Long, below: Long = 500L): DataFrame =
    c.docs.filter(col("doc_id") < below)
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))

  private def probePlan: String = LshIndex.lastProbeStats.map(st =>
    if (st.tinyBypass) "tiny-bypass"
    else s"pruned bands ${st.bandEntriesPlanned}/${st.bandEntriesTotal}" +
      s" toks ${st.toksEntriesPlanned}/${st.toksEntriesTotal}").getOrElse("?")

  /** `zipf [mult]`: Zipf-skew rung for the d22/d24/d44 count shapes (r21
    * verdict: the count-window rewrites put a Zipf-hot key through a
    * WindowExec partition AQE cannot split — prove or fix before claiming
    * 100 TB). Builds a synthetic corpus whose token frequencies follow
    * ~1/rank (rank = ⌊V^u⌋ with u hash-uniform — the classic inverse-CDF
    * draw for Zipf s=1: the hottest token owns ~1/ln V of ALL token
    * occurrences, ~6% at V=50k), times the skew-sensitive kernel both
    * ways at 1× and `mult`× — the COUNT WINDOW over the key vs the
    * staged groupBy+count join producing the identical integer — and
    * prints the max/median task skew of each run's worst stage (the
    * single-straggler shape wall-clock alone can hide at small rungs),
    * plus the real operators (d22/d24/d44) for the end-to-end read. */
  def zipf(c: Ctx): Unit = {
    val sc = c.spark.sparkContext
    var runs = 0
    def skewed(label: String)(body: => Unit): Double = {
      runs += 1 // a group per run: `zipf 1` repeats the x1 labels
      val group = s"$label#$runs"
      sc.setJobGroup(group, label)
      val (_, wall) = try timed(body) finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      val worst = c.tasks.stages(group).map(_._3).sortBy(-_.maxTaskMs).headOption.map { st =>
        val med = st.medianTaskMs
        f"worst stage: tasks=${st.tasks} max ${st.maxTaskMs / 1e3}%.2f s median ${med / 1e3}%.2f s " +
          f"skew ${st.maxTaskMs.toDouble / math.max(1L, med)}%.1f"
      }.getOrElse("no stages")
      println(f"PROBE zipf $label%-22s $wall%8.2f s  ($worst)")
      wall
    }
    c.rungs("zipf", "data", Seq(1, c.args.int("mult", 10))) { mult =>
      val nDocs = 20000L * mult
      val toksPerDoc = 200
      val vocab = 50000
      // u = hash(doc,pos)/2^32 uniform in [0,1); rank = floor(V^u)
      val (docs, total) = c.persisted(c.spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(toksPerDoc)),
          p => concat(lit("w"), floor(pow(lit(vocab.toDouble),
            pmod(xxhash64(col("id"), p), lit(1L << 32)).cast("double")
              / lit((1L << 32).toDouble))).cast("long")))).as("text")))
      println(s"PROBE zipf corpus x$mult: $total docs x $toksPerDoc tokens, V=$vocab")
      val toks = c.cached(docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term")))
      val hot = toks.groupBy("term").count().orderBy(desc("count")).limit(1).collect()(0)
      println(s"PROBE zipf hot token x$mult: ${hot.get(0)} owns ${hot.getLong(1)} of ${total * toksPerDoc}")
      val walls = Seq(
        // A: the r21 shape — count window over the hot-keyed partition
        "window" -> skewed(s"ctf window     x$mult")(noop(
          toks.withColumn("ctf", count(lit(1)).over(Window.partitionBy("term")))
            .groupBy("doc_id").agg(sum("ctf").as("s")))),
        // B: the fallback shape — groupBy+count joined back (identical
        // integer per row; AQE may broadcast or skew-split at will)
        "group+join" -> skewed(s"ctf group+join x$mult")(noop(
          toks.join(toks.groupBy("term").agg(count(lit(1)).as("ctf")), Seq("term"))
            .groupBy("doc_id").agg(sum("ctf").as("s")))),
        // the real operators end-to-end on the same skewed corpus
        "d24" -> skewed(s"d24 unigram    x$mult")(noop(Curation.unigramLogLoss(docs))),
        "d22" -> skewed(s"d22 tfidf      x$mult")(noop(Curation.topTfidfTermPerDoc(docs))),
        "d44" -> skewed(s"d44 bigram     x$mult")(noop(Curation.bigramLogLoss(docs))))
      toks.unpersist()
      docs.unpersist()
      walls
    }
  }

  /** `flagship`: three-point decade ladder on the d35 flagship (the full
    * training-manifest composition) at 1× / 10× / 100× the sf corpus. */
  def flagship(c: Ctx): Unit =
    c.rungs("d35", "data") { mult =>
      val (corpus, docs) = c.corpus(mult)(c.docReplica)
      val (rows, wall) = timed(LlmQueries.trainingManifest(corpus).count())
      println(f"PROBE d35_manifest x$mult%-4d $wall%8.2f s  ($docs docs -> $rows rows)")
      corpus.unpersist()
      Seq("wall" -> wall)
    }

  /** `ivf`: three-point decade ladder on the PERSISTENT IVF INDEX's probe
    * (the e07/s19 steady state): build the index over a 1×/10×/100×
    * vector corpus and probe it with the SAME fixed ~200-query batch.
    * `nlist` scales WITH the corpus (replica-unique labels — the IVF
    * sizing rule: cells grow with N so per-cell size stays bounded; a
    * fixed nlist over 100× vectors would just make every cell 100×
    * heavier and the probe linear). The 100 TB claim under test:
    * per-probe cost = batch-vs-centroid assignment (broadcast,
    * map-side) + nprobe PRUNED cell partitions of ~constant size — flat
    * in corpus size. Append is O(batch) under the frozen quantizer. */
  def ivf(c: Ctx): Unit = {
    val probeBatch = c.cached(c.embeddings.filter(col("vec_id") < 200)
      .select((col("vec_id") + lit(2_000_000_000L)).as("vec_id"), col("embedding")))
    def replica(i: Int) = c.embReplica(i, distinct = true)
    c.rungs("ivf", "corpus") { mult =>
      val (corpus, vecs) = c.corpus(mult)(replica)
      val cat = c.freshCatalog(s"ivf_$mult")
      val (_, buildWall) = timed(IvfIndex.build(cat, "probe", "ann", corpus))
      corpus.unpersist()
      val nlist = cat.table("probe.ann_centroids").read.count()
      val (rows, probeWall) = timed(
        IvfIndex.query(cat, "probe", "ann", probeBatch, k = 5, nprobe = 3).count())
      // phase-attributed append: the wide-batch append touches ~min(batch,
      // nlist) cell leaves — one entry each — and the phase split below
      // shows where its wall goes (parquet write vs footer harvest vs
      // commit) at each rung
      StoreTiming.enable()
      StoreTiming.reset()
      val (_, appendWall) = timed(IvfIndex.appendBatch(cat, "probe", "ann", probeBatch, 1L))
      val phases = StoreTiming.report().take(5)
        .map { case (p, n, sec) => f"$p $sec%.2f s×$n" }.mkString("  ")
      println(s"PROBE ivf append phases x$mult: $phases")
      // rebalance rung: full re-train + reassign over the whole index —
      // the maintenance pass whose N×nlist flat-assign term the
      // hierarchical dispatch exists to kill; moved count is printed so
      // the commit side (O(moved)) is visible separately from the
      // reassign compute
      val (movedN, rebalWall) = timed(IvfIndex.rebalance(cat, "probe", "ann"))
      println(f"PROBE ivf_index x$mult%-4d build $buildWall%8.2f s  probe $probeWall%8.2f s  " +
        f"append $appendWall%8.2f s  rebalance $rebalWall%8.2f s ($movedN moved)  " +
        f"($vecs vecs, $nlist cells, $rows neighbor rows)")
      // quality audit at the x10 AND x100 rungs: the same corpus
      // indexed through the EXACT flat assign (dispatch floor lifted),
      // probed with the same batch — neighbor-set recall of the
      // hierarchical index against the flat one measures, on MIXED
      // ladder data (not the spec's separated clusters), what the
      // two-level approximation actually costs, and x100 is where the
      // hierarchical path matters most (x1's 10 cells stay flat). The
      // super-group balance print alongside it guards the cost claim:
      // hash seeding + one Lloyd step can leave skewed groups, and a
      // dominant group degrades the assign back toward flat.
      if (mult == 10 || mult == 100) {
        val sizes = IvfIndex.assignGroupSizes(cat.table("probe.ann_centroids").read)
        println(f"PROBE ivf super-group balance x$mult: " +
          f"groups ${sizes.size}  max ${sizes.last}  " +
          f"median ${sizes(sizes.size / 2)}  " +
          f"skew ${sizes.last.toDouble / math.max(1L, sizes(sizes.size / 2))}%.1f")
        // fresh indexes over the same corpus ("ann" was appended to and
        // rebalanced above, no longer comparable); one flat-assigned
        // reference, one hierarchical twin per probe width under audit
        val (corpus2, _) = c.corpus(mult)(replica)
        IvfIndex.build(cat, "probe", "annflat", corpus2, flatMaxCells = Int.MaxValue)
        // the audit brackets the default (now 4) one width either side,
        // so the NEXT bump stays a MEASURED decision (the 2→3→4
        // pattern: adopt only if recall rises at zero build-wall cost)
        // — per-width build walls printed
        val probesAudit = Seq(3, 4, 5)
        val hierWalls = probesAudit.map { p =>
          p -> timed(IvfIndex.build(cat, "probe", s"annhier$p", corpus2,
            flatMaxCells = 0, groupProbes = p))._2
        }.toMap
        corpus2.unpersist()
        val f = IvfIndex.query(cat, "probe", "annflat", probeBatch, k = 5, nprobe = 3)
          .select("query_id", "neighbor_id")
        val total = f.count()
        probesAudit.foreach { p =>
          val h = IvfIndex.query(cat, "probe", s"annhier$p", probeBatch, k = 5, nprobe = 3)
            .select("query_id", "neighbor_id")
          val common = h.join(f, Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"PROBE ivf two-level vs flat assign x$mult (groupProbes=$p): " +
            f"top-5 recall ${common.toDouble / total}%.3f ($common/$total neighbor slots)  " +
            f"build ${hierWalls(p)}%.2f s")
        }
      }
      Seq("build" -> buildWall, "probe" -> probeWall, "rebalance" -> rebalWall)
    }
  }

  /** `lsh`: three-point decade ladder on the PERSISTENT LSH INDEX's probe
    * (the d51/s18 steady state): build the index over a 1×/10×/100×
    * history, then probe it with the SAME fixed ~500-doc batch. The
    * 100 TB claim under test is that probe cost is flat in history size
    * (one band join against the index + candidate-only Jaccard —
    * candidates are bucket-bounded, so a bigger history only adds band
    * rows the probe's keys never touch); build cost may grow ~linearly
    * (it sketches the history once, amortized over every later probe). */
  def lsh(c: Ctx): Unit = {
    val probeBatch = c.cached(recentDocs(c, 2_000_000_000L))
    c.rungs("lsh probe", "history") { mult =>
      val (history, docs) = c.corpus(mult)(c.docReplica)
      val cat = c.freshCatalog(s"lsh_$mult")
      val (_, buildWall) = timed(LshIndex.build(cat, "probe", "nd", history))
      history.unpersist()
      val (pairs, probeWall) = timed(LshIndex.query(cat, "probe", "nd", probeBatch).count())
      val plan = probePlan
      // second probe with the tiny-bypass floor disabled: times the
      // at-scale PRUNED plan on the same index (IN-list pushdown +
      // sidecar file skipping), so the rung reports both dispatches
      cat.table("probe.nd_bands").setProperties(
        Map(LshIndex.ProbePruneMinBytesProp -> "0"))
      val (pairsP, prunedWall) = timed(LshIndex.query(cat, "probe", "nd", probeBatch).count())
      require(pairsP == pairs, s"pruned probe diverged: $pairsP vs $pairs")
      println(f"PROBE lsh_index x$mult%-4d build $buildWall%8.2f s  probe $probeWall%8.2f s  pruned-probe $prunedWall%8.2f s  ($docs docs, $pairs pairs, plan=$plan, pruned=$probePlan)")
      Seq("wall" -> probeWall)
    }
  }

  /** `lshfrag`: fragmentation probe for the index-maintenance claim:
    * stream 100 tiny append generations into one LSH index (100 commits →
    * ~200 manifest entries + ~200 data files per table), time the fixed
    * probe against the FRAGMENTED index, compact, time it again. The
    * delta is the per-probe fragmentation tax — entry walking, file
    * opens, per-file footer reads — that interval compaction
    * (`compactEveryBatches`) exists to bound; on an object store the
    * per-file open is ~10-100× this local-FS cost. */
  def lshFrag(c: Ctx): Unit = {
    val cat = c.freshCatalog("lshfrag")
    LshIndex.build(cat, "probe", "nd", c.docs.filter(col("doc_id") < 100))
    val (_, appendWall) = timed((1 to 100).foreach { k =>
      LshIndex.appendBatch(cat, "probe", "nd",
        c.docs.filter(col("doc_id") >= k * 100L && col("doc_id") < (k + 1) * 100L),
        k.toLong)
    })
    val probeBatch = recentDocs(c, 2_000_000_000L)
    def timeProbe(): (Long, Double) = timed(LshIndex.query(cat, "probe", "nd", probeBatch).count())
    def entries = cat.table("probe.nd_bands").currentSnapshot.get.entries.size
    val eFrag = entries
    val (fragPairs, fragWall) = timeProbe()
    val (_, fragWall2) = timeProbe() // second shot: warm plans, FS cache
    val (_, compactWall) = timed(LshIndex.compact(cat, "probe", "nd"))
    val eFolded = entries
    val (foldPairs, foldWall) = timeProbe()
    val (_, foldWall2) = timeProbe()
    require(foldPairs == fragPairs, s"compaction changed results: $foldPairs vs $fragPairs")
    println(f"PROBE lsh_frag 101 commits (append wall $appendWall%.1f s): " +
      f"probe@$eFrag-entries $fragWall%.2f/$fragWall2%.2f s -> compact $compactWall%.2f s " +
      f"-> probe@$eFolded-entries $foldWall%.2f/$foldWall2%.2f s  ($fragPairs pairs both)")
  }

  /** `retract`: decade ladder on the RETRACTION path
    * (right-to-be-forgotten): at 1×/10×/100× indexed history, fold the
    * history (compact), land one fixed ~500-doc recent batch, then
    * `remove` half of it and time the deletes. The 100 TB claim under
    * test: retraction cost tracks the entries that HOLD the removed
    * documents, not the index — the folded history's wide entries are
    * dropped at planning time by their doc_id bloom sidecars (r16:
    * `_bands` blooms BOTH keys), so removing recent docs rewrites ~the
    * recent generation at every rung. A second remove of ids the index
    * no longer holds isolates the pure planning cost (zero rewrite).
    * Fragmented-state retraction cost is `lshfrag`'s subject; this
    * ladder pins the POST-FOLD state the r15 verdict called out. */
  def retract(c: Ctx): Unit = {
    val recent = c.cached(recentDocs(c, 2_000_000_000L))
    c.rungs("retract", "history") { mult =>
      val (history, docs) = c.corpus(mult)(c.docReplica)
      val cat = c.freshCatalog(s"retract_$mult")
      // prune machinery live at any size: sidecars from the first
      // commit, tiny-rewrite short-circuit off
      LshIndex.build(cat, "probe", "nd", history, pruneMinBytes = 0L)
      Seq("probe.nd_bands", "probe.nd_toks").foreach(t =>
        cat.table(t).setProperties(Map(LakeTable.TinyRewriteMaxBytesProp -> "0")))
      LshIndex.compact(cat, "probe", "nd")
      history.unpersist()
      LshIndex.appendBatch(cat, "probe", "nd", recent, 1L)
      val bandsT = cat.table("probe.nd_bands")
      def summary(k: String) = bandsT.currentSnapshot.get.summary(k).toInt
      val entriesTotal = bandsT.currentSnapshot.get.entries.size
      val evens = recent.filter(col("doc_id") % 2 === 0).select("doc_id")
      val (_, removeWall) = timed(LshIndex.remove(cat, "probe", "nd", evens))
      val (rewritten, untouched) = (summary("rewritten-entries"), summary("untouched-entries"))
      // replayed retraction of the SAME ids (idempotent GDPR replay):
      // the ids are INSIDE every entry's key range now, so only the
      // doc_id blooms can prove them gone — planning-only, zero rewrite
      val (_, absentWall) = timed(LshIndex.remove(cat, "probe", "nd", evens))
      val absentRewritten = summary("rewritten-entries")
      // the retracted docs are invisible to a follow-up probe
      val pairs = LshIndex.query(cat, "probe", "nd", recentDocs(c, 2_100_000_000L, below = 100L))
      require(pairs.filter(col("doc_b") % 2 === 0 && col("doc_b") >= 2_000_000_000L)
        .isEmpty, "removed docs resurfaced in a probe")
      println(f"PROBE lsh_retract x$mult%-4d remove $removeWall%8.2f s " +
        f"(bands rewrote $rewritten/$entriesTotal, untouched $untouched)  " +
        f"replay-remove $absentWall%8.2f s (rewrote $absentRewritten)  ($docs docs)")
      Seq("remove" -> removeWall, "replay" -> absentWall)
    }
  }

  /** `mor`: three-point decade ladder on the MoR READ path's delete
    * reach: a hash-mixed table (partition = doc_id mod 8 — every entry's
    * key RANGE spans the whole keyspace, the post-compaction shape)
    * takes a fresh equality delete confined to ONE partition's keys, and
    * the probe measures what the read pays, with a bloom-sidecar'd table
    * against a sidecar-less twin. The 100 TB claim under test: range
    * stats prove nothing here, so without sidecars EVERY entry pays the
    * masking anti-join until the next position-delete rewrite (and that
    * rewrite rewrites everything); with them, the maskable slice — and
    * the fold — is exactly the entries that hold doomed keys. */
  def mor(c: Ctx): Unit = {
    val doomed = c.cached(c.docs
      .filter(col("doc_id") < 800 && pmod(col("doc_id"), lit(8L)) === 3L).select("doc_id"))
    val nDoomed = doomed.count()
    // the WIDE rung (x100 with a ~1 KB high-entropy payload per row —
    // ~0.5 GB of payload; the x10 width was still job-floor-bound):
    // at catalog-row widths the masked read's anti-join delta is noise
    // (~tens of ms), because the narrow columns decode for ~free — the
    // payload makes the scan the cost, so the bloom release (7/8 of the
    // data reading PLAIN instead of through the anti-join) shows in
    // seconds, the number a 100 TB design review asks for. 32 chained
    // md5 hexes ≈ 1 KB that parquet cannot compress away.
    val payload = concat_ws("", (0 until 32).map(i =>
      md5(concat(col("doc_id").cast("string"), lit(i.toString)))): _*)
    Seq((1, false), (10, false), (100, false), (100, true)).foreach { case (mult, wide) =>
      val narrow = (0 until mult).map(c.docReplica).reduce(_ unionByName _)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          pmod(col("doc_id"), lit(8L)).as("grp"))
      val (rows, n) = c.persisted(if (wide) narrow.withColumn("payload", payload) else narrow)
      val name = s"mor_$mult${if (wide) "w" else ""}"
      val cat = c.freshCatalog(name)
      // bytes under one table's data root — the fold's REWRITTEN bytes
      // (dir growth across the fold: a rewrite lands new dirs, expiry
      // hasn't swept the old) are the hardware-independent number the
      // wall cannot show at NVMe-parallel sizes: the plain twin
      // rewrites the whole table, the sidecar'd twin the doomed slice
      def dataBytes(tbl: String): Long = {
        val p = new org.apache.hadoop.fs.Path(s"${c.tmp(name)}/probe/$tbl/data")
        p.getFileSystem(c.spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      val Seq(b, p) = Seq("m_bloom", "m_plain").map { tblName =>
        val blooms = tblName == "m_bloom"
        val t = cat.table(s"probe.$tblName")
        t.createOrReplace(rows, partitionBy = Seq("grp"),
          tableProperties =
            if (blooms) Map(
              "write.bloom.columns" -> "doc_id",
              "write.bloom.min-table-bytes" -> "0")
            else Map.empty)
        // fold to exactly one wide entry per partition (the shape a
        // compaction leaves behind)
        t.rewriteDataFiles()
        t.deleteWhereExistsMoR(doomed, Seq("doc_id"))
        val (maskable, total) = t.morMaskableCounts
        // first read pays the one-off delete-key collect + sidecar
        // loads; the repeat read plans from the verdict/key caches —
        // the steady state of a hot MoR table. The wide rung's scan
        // must DECODE the payload (a count() would prune it and hide
        // the whole point); sum(length) forces the column through.
        def scan(): Long =
          if (wide) t.read.agg(count(lit(1)), sum(length(col("payload")))).head().getLong(0)
          else t.read.count()
        val (cnt, readWall) = timed(scan())
        val (_, rereadWall) = timed(scan())
        val bytesBefore = dataBytes(tblName)
        val ((_, rewritten), foldWall) = timed(t.rewritePositionDeleteFiles())
        val foldMB = (dataBytes(tblName) - bytesBefore) / 1e6
        require(cnt == n - nDoomed, s"MoR read lost rows: $cnt")
        (maskable, total, readWall, rereadWall, rewritten, foldWall, foldMB)
      }: @unchecked
      rows.unpersist()
      println(f"PROBE mor_read${if (wide) "_WIDE" else ""} x$mult%-4d bloom: maskable ${b._1}/${b._2} " +
        f"read ${b._3}%6.2f/${b._4}%.2f s  fold-rewrote ${b._5} (${b._7}%.0f MB) in ${b._6}%6.2f s   " +
        f"plain: maskable ${p._1}/${p._2} read ${p._3}%6.2f/${p._4}%.2f s  " +
        f"fold-rewrote ${p._5} (${p._7}%.0f MB) in ${p._6}%6.2f s  ($n rows)")
    }
    doomed.unpersist()
  }

  /** `stream`: decade ladder on the s18 STREAMING steady state: index a
    * 1×/10×/100× history, then run THREE sequential ~500-doc
    * micro-batches through [[graft.streaming.IndexedDocStreams
    * .screenBatch]] — the FULL per-batch path (sketch once → probe the
    * index → dynamic-overwrite the pairs partition → append the batch's
    * signatures). The 100 TB claim under test: per-micro-batch wall is
    * flat in indexed-history size, because the probe is band-bucket-
    * bounded and the append is O(batch). Batch 1 at each rung also
    * absorbs the first-touch plan compile; batch 3 is the steady state
    * compared across rungs. Micro-batch k is the same ~500 base docs
    * (true near-dups of replica 0 AND of every previously appended
    * batch — constant pair work per batch index, so rung-to-rung wall
    * ratios isolate history size), ids clear of every replica range and
    * of each other. */
  def stream(c: Ctx): Unit =
    c.rungs("s18 steady-batch", "history") { mult =>
      val (history, docs) = c.corpus(mult)(c.docReplica)
      val cat = c.freshCatalog(s"stream_$mult")
      val outDir = c.tmp(s"stream_out_$mult")
      val (_, buildWall) = timed(LshIndex.build(cat, "probe", "nd", history))
      history.unpersist()
      val batchWalls = (1 to 3).map { k =>
        timed(IndexedDocStreams.screenBatch(cat, "probe", "nd",
          recentDocs(c, 2_000_000_000L + k * 1_000_000L), k.toLong, outDir))._2
      }
      val pairs = c.spark.read.parquet(outDir).count()
      println(f"PROBE s18_screen x$mult%-4d build $buildWall%8.2f s  " +
        f"batches ${batchWalls.map(w => f"$w%.2f").mkString("/")} s  ($docs docs, $pairs pairs, plan=$probePlan)")
      Seq("wall" -> batchWalls.last)
    }

  /** `e22bracket [reps]`: interleaved A/B of the e22 lifecycle at
    * `ivf.assign.group-probes` 3 vs 4 — the harness that closed the r18
    * verdict's one `weak` item (the p=4 default was adopted on ladder
    * BUILD walls while the bench head times build → append → rebalance
    * → query). Probe width is set EXPLICITLY at build (the property
    * pins, so append and rebalance inherit it); p values are
    * INTERLEAVED rep by rep so a host phase shift hits both arms
    * equally; rep 1 carries plan compile (the bench head's shape), reps
    * 2+ are steady state. Verdict (r19, two brackets on different host
    * phases): steady totals overlap completely, rebalance moved the same
    * vectors at both widths — the knob is exonerated, host phase +
    * first-run plan compile explain the bench residual. */
  def e22Bracket(c: Ctx): Unit = {
    val emb = c.cached(SparkEntry.table(c.spark, c.sfDir, "embeddings"))

    def lifecycle(p: Int, rep: Int): Map[String, Double] = {
      val name = s"e22brkt_p${p}_r$rep"
      val cat = c.freshCatalog(name, "lake")
      val (_, tb) = timed(IvfIndex.build(cat, "lake", "annrb",
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 400), groupProbes = p))
      val (_, ta) = timed(IvfIndex.append(cat, "lake", "annrb",
        emb.filter(col("vec_id") >= 400)))
      val (moved, tr) = timed(IvfIndex.rebalance(cat, "lake", "annrb"))
      val (_, tq) = timed(noop(IvfIndex
        .query(cat, "lake", "annrb", emb.filter(col("vec_id") < 5), k = 5, nprobe = 3)
        .orderBy("query_id", "rank")))
      c.wipe(c.tmp(name))
      Map("build" -> tb, "append" -> ta, "rebalance" -> tr, "query" -> tq,
        "total" -> (tb + ta + tr + tq), "moved" -> moved.toDouble)
    }

    def r2(d: Double) = math.rint(d * 100) / 100
    val rows = for (rep <- 1 to c.args.int("reps", 3); p <- Seq(3, 4)) yield {
      val m = lifecycle(p, rep)
      println(s"""{"probe":"e22-bracket","rep":$rep,"p":$p,""" +
        s""""build":${r2(m("build"))},"append":${r2(m("append"))},""" +
        s""""rebalance":${r2(m("rebalance"))},"query":${r2(m("query"))},""" +
        s""""total":${r2(m("total"))},"moved":${m("moved").toLong}}""")
      (p, rep, m)
    }
    val steady = rows.filter(_._2 > 1)
    def med(xs: Seq[Double]) = {
      val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    Seq(3, 4).foreach { p =>
      val t = steady.collect { case (`p`, _, m) => m("total") }
      val a = steady.collect { case (`p`, _, m) => m("rebalance") + m("append") }
      println(s"""{"probe":"e22-bracket-summary","p":$p,""" +
        s""""steady_total_med":${r2(med(t))},"steady_assign_med":${r2(med(a))}}""")
    }
  }

  /** `ivfbuild [mult]`: phase-attributed IVF BUILD wall at ladder scale
    * (the `ivf` ladder only phase-instruments the append): `mult`
    * (default 100) perturbed replicas, nlist scaled as in the ladder,
    * cells table partitioned by cell with bloom sidecars. Used to
    * adjudicate ladder build-wall outliers — r19's 170 s x100 reading
    * decomposed to 16.9 s standalone (14.7 s parquet-write, 0.08 s
    * post-write listing), i.e. host/context, not code. */
  def ivfBuild(c: Ctx): Unit = {
    val mult = c.args.int("mult", 100)
    val (corpus, n) = c.corpus(mult)(c.embReplica(_, distinct = true))
    println(s"corpus rows: $n")
    val cat = c.freshCatalog(s"ivfbuild_$mult")
    StoreTiming.enable()
    StoreTiming.reset()
    val (_, wall) = timed(IvfIndex.build(cat, "probe", "ann", corpus))
    println(f"PROBE ivf_build x$mult wall $wall%.2f s")
    StoreTiming.report().foreach { case (p, n, sec) =>
      println(f"  PHASE $p%-28s calls=$n%-4d total=$sec%8.2f s")
    }
  }
}
