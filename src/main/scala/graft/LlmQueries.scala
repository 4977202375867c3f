package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup, Multimodal, Similarity}

/** Beyond-parity operators for LLM training-data pipelines (dedup,
  * similarity search, text analysis, multimodal plumbing), each with a
  * DuckDB-oracle SQL twin where expressible.
  *
  * Oracle-parity design rules:
  *  - hashes via md5 hex (identical in both engines); numeric minhash ==
  *    lexicographic min over fixed-width hex prefixes;
  *  - ratios as int/int double divisions (IEEE-deterministic);
  *  - cross-row double aggregates rounded to 4dp on both sides;
  *  - LSH "randomness" from integer modular arithmetic, not RNGs.
  */
object LlmQueries {

  import SparkEntry.table

  /** documents.parquet is a single small file → one input split → one
    * task, which serializes the per-row-heavy dedup/signature work no
    * matter how many cores exist. A cheap round-robin repartition (the
    * table is ~MBs locally) restores parallelism; on a real lake the
    * input is already many files and this becomes a no-op-sized shuffle
    * relative to the downstream hash work. */
  private def documents(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "documents")
    df.repartition(s.sparkContext.defaultParallelism)
  }

  /** doc_id spine for the media kernels, spread across cores: the
    * per-row encode/decode work runs inside the scan stage of that
    * same one-file parquet (a handful of input splits locally), which
    * serializes real codec CPU exactly like the dedup case above. The
    * ids are 8 bytes each, so the round-robin exchange is noise next
    * to the kernel work; on a real lake (many input files) it stays a
    * no-op-sized safety net. `below` keeps the reference queries' row
    * caps pushed down to the scan BEFORE the exchange. */
  private def docIds(s: SparkSession, dir: String, below: Long = Long.MaxValue): DataFrame = {
    val ids = table(s, dir, "documents").select(col("doc_id"))
    val kept = if (below == Long.MaxValue) ids else ids.filter(col("doc_id") < below)
    kept.repartition(s.sparkContext.defaultParallelism)
  }

  /** Deterministic output order WITHOUT the range-sampling double run:
    * a global sort's range exchange executes its un-materialized child
    * TWICE — once end-to-end to sample the range bounds, once to
    * shuffle — and for an opaque mapPartitions media kernel that means
    * every PNG/WAV/AVI is encoded AND decoded twice (r22 `Probe stages` on
    * m04: twin 32-task stages of 12.5 s and 13.6 s task-run over the
    * same 5000 rows, one writing no shuffle output = the sampling
    * pass). Materializing the kernel output once (eager local
    * checkpoint — the Dedup.releasing pattern) lets the sampling pass
    * read stored blocks instead of re-running the codec; the stored
    * bytes are exactly what the sort must shuffle anyway, at any
    * scale. Queries whose sort input is already an aggregate don't
    * need this — the sampling pass there re-reads the agg's shuffle
    * files, not the kernel.
    *
    * The trade: `localCheckpoint` is NOT fault-tolerant. It cuts the
    * lineage and keeps the blocks only in the executors' block
    * managers, so a lost executor fails m02/m04/m05/m08/m09 instead of
    * recomputing the lost partitions. It is kept because (a) in this
    * engine's local mode the executor IS the driver JVM, so losing it
    * loses the query anyway and lineage buys nothing; (b) the reliable
    * alternatives cost more on every run: `persist` registers the frame
    * with the session's CacheManager and needs an unpersist point the
    * query cannot have (it returns the lazy sorted frame to its
    * caller), and `checkpoint` writes every kernel output to a shared
    * checkpoint dir and reads it back; (c) a failed query is re-run
    * whole — it writes nothing, so a retry is safe. On a cluster with
    * executor churn, swap it for a reliable `checkpoint`. */
  private def sortedOnce(df: DataFrame, keys: String*): DataFrame =
    df.localCheckpoint(true).orderBy(keys.map(col): _*)

  // ------------------------------------------------------------------
  // text analysis
  // ------------------------------------------------------------------

  private def d01(s: SparkSession, dir: String): DataFrame =
    // tokens staged once as a column: the three consumers below then read
    // an attribute instead of re-running the regex split per lambda element
    table(s, dir, "documents")
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("__toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (aggregate(transform(col("__toks"), t => length(t)), lit(0), _ + _)
          .cast("double") / size(col("__toks")).cast("double")).as("avg_tok_len"))
      .orderBy("doc_id")

  private def d02(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"),
        qualityScoreFromTokens(col("text"), col("__toks")).as("quality"))
      .orderBy("doc_id")

  private def d03(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"),
        langIdFromTokens(col("text"), col("__toks")).as("lang_pred"))
      .orderBy("doc_id")

  private def d04(s: SparkSession, dir: String): DataFrame =
    // the sf* documents parquet is ONE row group, and a parquet row
    // group is indivisible — however the byte-range splits fall, a
    // single task ends up computing every fingerprint (r12 bench: 4
    // tasks, one 3 s straggler ≈ the whole wall). One exchange of the
    // ~MB text spreads the CPU-bound kernel across all cores; r22 made
    // it a RANGE exchange on the output sort key instead of round-robin:
    // the deterministic projection then preserves the distribution and
    // ordering, so the final orderBy's range exchange — whose bounds
    // SAMPLING pass re-executes an un-materialized child end to end,
    // i.e. every fingerprint twice — plans away entirely (one exchange
    // on the raw scan, kernel computed once; same at any corpus size).
    table(s, dir, "documents")
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private def d13(s: SparkSession, dir: String): DataFrame =
    // rolling-hash fingerprint via the native codegen'd expression. No
    // range exchange on the raw text (d04's pattern): this kernel is cheap
    // enough that running it again for the sort's sampling pass costs
    // less than shuffling the text (measured 0.21 -> 0.48 s at 32 cores)
    table(s, dir, "documents")
      .select(col("doc_id"), rollingHash(col("text")).as("rh"))
      .orderBy("doc_id")

  private def d14(s: SparkSession, dir: String): DataFrame =
    // token budget: BPE-ish subword-ish count vs whitespace word count
    table(s, dir, "documents")
      .select(
        col("doc_id"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        tokenCount(col("text")).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  // ------------------------------------------------------------------
  // dedup
  // ------------------------------------------------------------------

  private def d05(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(documents(s, dir)).orderBy("fp")

  private def d11(s: SparkSession, dir: String): DataFrame =
    // surviving rows after exact dedup (lowest doc_id per fingerprint
    // kept) — the actual training-set filter, not just the group report
    Dedup
      .exactDedup(documents(s, dir))
      .select("doc_id", "source")
      .orderBy("doc_id")

  private def d15(s: SparkSession, dir: String): DataFrame = {
    // incremental dedup: every 5th doc is "history" (sf-independent
    // split); the rest arrive as the new batch and dedup against the
    // historical fingerprint store + within themselves
    val docs = documents(s, dir)
    val hist = Dedup.fingerprints(docs.filter(col("doc_id") % 5 === 0))
    Dedup
      .incrementalDedup(docs.filter(col("doc_id") % 5 =!= 0), hist)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  private def d50(s: SparkSession, dir: String): DataFrame = {
    // bloom-accelerated incremental dedup: history carried as a sketch,
    // probed map-side — only the might-dup fraction reaches the exact
    // anti-join (q40's runtime-filter shape applied to the dedup path);
    // result bit-identical to the plain incremental path / the oracle
    val docs = documents(s, dir)
    val hist = Dedup.fingerprints(docs.filter(col("doc_id") % 4 === 0))
    Dedup
      .bloomIncrementalDedup(docs.filter(col("doc_id") % 4 =!= 0), hist)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  private def d06(s: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashSignatures(documents(s, dir), shingleSize = 3, k = 8)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("sig"))
      .orderBy("doc_id")

  private def d07(s: SparkSession, dir: String): DataFrame =
    Dedup
      .lshNearDuplicates(documents(s, dir), shingleSize = 3, k = 8,
        bands = 4, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  private def d08(s: SparkSession, dir: String): DataFrame =
    // 8 single-row bands: ~94% candidate recall at J=0.3 (vs ~31% with
    // 4×2 bands) while staying block+band bounded
    Dedup
      .blockedJaccardPairs(documents(s, dir), "source", threshold = 0.3,
        k = 8, bands = 8)
      .orderBy("blk", "doc_a", "doc_b")

  private def d16(s: SparkSession, dir: String): DataFrame =
    // 8-row bands (k=32, b=4) center the LSH S-curve at ~0.87: full
    // recall on the J≥0.8 truth set with 36 candidates at sf0.01
    // (2-row bands admitted 161k — char-gram Jaccard between RANDOM
    // English docs is ~0.3, so shallow bands flood). maxBucket=100
    // drops giant exact-duplicate clusters: those are exact-dedup's
    // job (d05/d15), not LSH's. k=32 costs nothing extra — the sketch
    // is one fused native pass (graft_minhash_sketch).
    Dedup
      .charNgramNearDuplicates(documents(s, dir), n = 5, k = 32, bands = 4,
        threshold = 0.8, maxBucket = 100)
      .orderBy("doc_a", "doc_b")

  private def d17(s: SparkSession, dir: String): DataFrame =
    // end-to-end curation pass — the composition a training-data
    // pipeline actually runs: exact dedup (keep lowest doc_id per
    // fingerprint) → quality score ≥ 0.5 → language-ID agrees with the
    // declared lang. One window over fingerprints plus map-side scoring;
    // the survivors are the training set. Filters compare the
    // 4dp-ROUNDED quality so the oracle reproduces boundary decisions.
    Dedup
      .exactDedup(documents(s, dir))
      .withColumn("__toks", tokens(col("text")))
      .withColumn("quality", qualityScoreFromTokens(col("text"), col("__toks")))
      .withColumn("lang_pred", langIdFromTokens(col("text"), col("__toks")))
      .filter(col("quality") >= 0.5 && col("lang_pred") === col("lang"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy("doc_id")

  private def d19(s: SparkSession, dir: String): DataFrame =
    // near-dup clusters: connected components over the d07 pair graph;
    // cluster id = min reachable doc_id ("keep doc_id == cluster" is
    // the canonical-survivor filter)
    Dedup
      .nearDupClusters(Dedup.lshNearDuplicates(documents(s, dir),
        shingleSize = 3, k = 8, bands = 4, threshold = 0.5))
      .orderBy("doc_id")

  private def d18(s: SparkSession, dir: String): DataFrame =
    // sketch-estimated dedup: minhash-slot agreement prunes candidates
    // before the exact verify; both scores returned for calibration
    Dedup
      .minhashEstimatePairs(documents(s, dir), shingleSize = 3, k = 8,
        bands = 4, estThreshold = 0.25)
      .orderBy("doc_a", "doc_b")

  private def d20(s: SparkSession, dir: String): DataFrame = {
    // cross-split contamination: eval split = every 10th doc; a training
    // doc "contaminates" an eval doc when it contains ≥ half of the eval
    // doc's distinct word shingles (containment, not Jaccard — a prompt
    // embedded in a longer doc should score 1.0)
    val docs = documents(s, dir)
    Dedup
      .crossSplitContamination(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        shingleSize = 3, maxDf = 1000, threshold = 0.5)
      .orderBy("eval_doc", "train_doc")
  }

  private def d21(s: SparkSession, dir: String): DataFrame =
    // deterministic stratified downsample by language: en 10%, es 30%,
    // zh 50%, everything else 20% — md5-bucketed so the sample is
    // reproducible across runs/engines (rand() is neither)
    Curation
      .stratifiedSample(table(s, dir, "documents"), "doc_id", "lang",
        Seq("en" -> 100, "es" -> 300, "zh" -> 500), defaultPermille = 200)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  private def d22(s: SparkSession, dir: String): DataFrame =
    Curation.topTfidfTermPerDoc(documents(s, dir)).orderBy("doc_id")

  private def d23(s: SparkSession, dir: String): DataFrame =
    // distribution-based quality filter: keep the top decile by quality
    // score, with the boundary computed from a value histogram (never a
    // global corpus sort)
    Curation
      .topFractionByValue(
        table(s, dir, "documents")
          .withColumn("__toks", tokens(col("text")))
          .select(col("doc_id"),
            qualityScoreFromTokens(col("text"), col("__toks")).as("quality")),
        "quality", q = 0.9)
      .select("doc_id", "quality")
      .orderBy("doc_id")

  private def d25(s: SparkSession, dir: String): DataFrame = {
    // the actionable tail of d20: training docs surviving decontamination
    val docs = documents(s, dir)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val flagged = Dedup.crossSplitContamination(
      docs.filter(col("doc_id") % 10 === 0), train,
      shingleSize = 3, maxDf = 1000, threshold = 0.5)
    Dedup.decontaminate(train, flagged)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  private def d27(s: SparkSession, dir: String): DataFrame =
    // lexical retrieval: BM25 top-25 for a fixed query over the corpus
    Curation.bm25TopDocs(documents(s, dir),
      terms = Seq("table", "query", "spark"), k = 25)

  private def d28(s: SparkSession, dir: String): DataFrame =
    // within-doc repetition ratios (Gopher-style quality signals)
    Curation.repetitionStats(documents(s, dir)).orderBy("doc_id")

  private def d29(s: SparkSession, dir: String): DataFrame =
    // concat-and-chunk sequence packing at a 256-token budget; the global
    // token offset comes from a distributed two-phase prefix sum over
    // 16-id range shards, never one corpus-wide window
    Curation.packSequences(documents(s, dir), budget = 256, shardWidth = 16)
      .orderBy("doc_id")

  private def d30(s: SparkSession, dir: String): DataFrame =
    // per-source quality cap (RefinedWeb-style per-domain cap): keep the
    // 10 best-quality docs per source, rank over the ROUNDED score
    Curation.perSourceCap(documents(s, dir), cap = 10)
      .orderBy("source", "rnk")

  private def d31(s: SparkSession, dir: String): DataFrame =
    // vocabulary-growth curve in 2-doc buckets: new word types per
    // bucket + cumulative vocab — the data-saturation diagnostic (this
    // corpus saturates its vocab within the first few docs)
    Curation.vocabGrowth(documents(s, dir), bucketWidth = 2)
      .orderBy("bucket")

  private def d32(s: SparkSession, dir: String): DataFrame =
    // corpus-boilerplate ratio per doc: words present in ≥50% of docs
    // (threshold sits mid-cliff: common vocab ~75% df, rare ~5%)
    Curation.boilerplateRatio(documents(s, dir), dfPermille = 500)
      .orderBy("doc_id")

  private def d26(s: SparkSession, dir: String): DataFrame = {
    // JSONL metadata round-trip: documents ship as JSON lines in real
    // pipelines; build the line deterministically, then parse fields
    // back with both path extraction (get_json_object) and schema'd
    // from_json — all map-side, codegen'd
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val meta = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType)))
    table(s, dir, "documents")
      .withColumn("__json", concat(
        lit("{\"id\":"), col("doc_id"),
        lit(",\"lang\":\""), col("lang"), lit("\",\"src\":\""), col("source"),
        lit("\"}")))
      .select(
        col("doc_id"),
        get_json_object(col("__json"), "$.src").as("src"),
        from_json(col("__json"), meta).getField("id").as("id_parsed"),
        from_json(col("__json"), meta).getField("lang").as("lang_parsed"))
      .orderBy("doc_id")
  }

  private def d24(s: SparkSession, dir: String): DataFrame =
    // unigram-LM quality proxy: avg negative log-likelihood per token
    Curation.unigramLogLoss(documents(s, dir)).orderBy("doc_id")

  private def d39(s: SparkSession, dir: String): DataFrame = {
    // Zipf fit of the corpus term distribution: regression aggregates
    // (regr_slope/regr_r2) over (ln rank, ln freq) — the one-row corpus
    // health summary (natural text ≈ -1; this synthetic corpus's flat
    // 30-word head shows up as a shallow slope). Rank ties break by term
    // so both engines regress over identical points. The rank itself is
    // the SHARDED two-phase scheme (Curation.globalFreqRank) — at 100 TB
    // the junk-token long tail makes this table ~10^8-10^9 rows, and an
    // unpartitioned row_number window would funnel all of it through one
    // sort partition.
    val freq = Curation.globalFreqRank(
      documents(s, dir)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n")))
    freq.agg(
      round(expr("regr_slope(ln(n), ln(rnk))"), 4).as("zipf_slope"),
      round(expr("regr_r2(ln(n), ln(rnk))"), 4).as("r2"),
      count(lit(1)).as("n_terms"))
  }

  private def d36(s: SparkSession, dir: String): DataFrame = {
    // one BPE merge iteration over the corpus: count within-token char
    // bigrams and rank merge candidates — the inner loop of tokenizer
    // training, run as two explodes + one key agg (tokens staged as a
    // column first so the bigram lambda reads an attribute)
    val toks = table(s, dir, "documents")
      // same single-row-group straggler shape as d04: the tokenize +
      // double-explode all run inside the scan stage, so spread the
      // text round-robin first (see the d04 comment)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("__toks", tokens(col("text")))
      .select(explode(col("__toks")).as("t"))
      .filter(length(col("t")) >= 2)
    toks
      .select(explode(transform(
        sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(20)
  }

  private def d37(s: SparkSession, dir: String): DataFrame = {
    // distribution-drift monitor: per-bucket CDF gap of the doc-length
    // distribution between two splits (the Kolmogorov–Smirnov statistic
    // is this column's max). Buckets collapse the corpus to a tiny
    // frame, so the cumulative windows run over buckets, never rows.
    val b = table(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("is_a"),
        floor(col("n_chars").cast("double") / 50).cast("long").as("bucket"))
    val counts = b.groupBy("bucket").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("ca", sum("na").over(w))
      .withColumn("cb", sum("nb").over(w))
      .crossJoin(broadcast(counts.agg(
        sum("na").as("__ta"), sum("nb").as("__tb"))))
      .select(col("bucket"), col("na"), col("nb"),
        round(abs(
          col("ca").cast("double") / col("__ta").cast("double")
            - col("cb").cast("double") / col("__tb").cast("double")), 6)
          .as("cdf_gap"))
      .orderBy("bucket")
  }

  private def d38(s: SparkSession, dir: String): DataFrame = {
    // within-doc token entropy (nats): the diversity quality signal —
    // degenerate repetition scores near 0, uniform vocab scores ln(n).
    // One explode, one (doc, term) agg, one per-doc agg.
    val tf = documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("tot", sum("tf").over(Window.partitionBy("doc_id")))
    val p = col("tf").cast("double") / col("tot").cast("double")
    tf.groupBy("doc_id")
      .agg(round(lit(-1.0) * sum(p * log(p)), 4).as("entropy"))
      .orderBy("doc_id")
  }

  private def d35(s: SparkSession, dir: String): DataFrame =
    trainingManifest(documents(s, dir))

  /** The full training-data manifest over an arbitrary documents-shaped
    * corpus — every curation stage composed in one plan: exact dedup →
    * quality + language gate → eval-split decontamination → per-source
    * cap → sequence packing. Each stage is the already-verified
    * operator; the composition is what a real pipeline ships, and
    * Catalyst fuses the stages into one DAG (no materialization between
    * them except the contamination stage's released caches). Exposed so
    * `Probe <sf> flagship` can drive the identical shapes at 1×/10×/100× corpus. */
  private[graft] def trainingManifest(docs: DataFrame): DataFrame = {
    val flagged = Dedup.crossSplitContamination(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      shingleSize = 3, maxDf = 1000, threshold = 0.5)
    val surv = Dedup.exactDedup(docs)
      .filter(col("doc_id") % 10 =!= 0)
      .withColumn("__toks", tokens(col("text")))
      .withColumn("quality", qualityScoreFromTokens(col("text"), col("__toks")))
      .withColumn("lang_pred", langIdFromTokens(col("text"), col("__toks")))
      .filter(col("quality") >= 0.5 && col("lang_pred") === col("lang"))
    val clean = Dedup.decontaminate(surv, flagged)
    // every downstream stage (cap, packing, the result projection)
    // needs only (doc_id, source, quality, token count) — stage that
    // COMPACT frame once and persist it, because it has four consumers
    // (top-k agg, semi-join probe, the two packSequences phases) and
    // Catalyst re-plans the whole dedup+score+decontaminate pipeline
    // per consumer (r21: the d35 plan carried 24 parquet scans of the
    // corpus; with the cache it's one full pass + cache reads). Token
    // counts reuse the __toks column the quality gate already
    // materialized — no second regex pass over the text.
    val cleanIds = clean
      .select(col("doc_id"), col("source"), col("quality"),
        size(col("__toks")).cast("long").as("__ntok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-source cap via the bounded top-k aggregate (map-side k-heaps,
    // no source-partitioned window — a mega-source can't serialize one
    // task); the winner set is sources×15 rows → broadcast semi join
    val topIds = cleanIds
      .groupBy("source")
      .agg(graft.functions.VectorFunctions
        .topKByScore(col("quality"), col("doc_id"), 15).as("__top"))
      .select(explode(col("__top.id")).as("doc_id"))
    val capped = cleanIds.join(broadcast(topIds), Seq("doc_id"), "left_semi")
    val packed = Curation.packSequences(capped,
        budget = 256, shardWidth = 16,
        nTokensCol = Some("__ntok"), carryCols = Seq("source", "quality"))
      .select("doc_id", "source", "quality", "n_tokens", "tok_offset",
        "first_seq")
    // eager materialize (the result is manifest-sized), then release
    // the staged cache — same lifecycle the Dedup operators use
    val out = packed.localCheckpoint(true)
    cleanIds.unpersist(false)
    out.orderBy("doc_id")
  }

  private def d34(s: SparkSession, dir: String): DataFrame =
    // sketch cardinality with an oracle-ENFORCED tolerance: the HLL++
    // estimate itself is engine-specific, so the checked output is the
    // exact count plus a within-5% flag — the oracle expects TRUE, so a
    // drifting estimator fails the gate. At 100 TB the sketch is the
    // only affordable per-key distinct (fixed-size state, one pass, no
    // distinct shuffle of user ids per group).
    table(s, dir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("n_exact"),
        approx_count_distinct("user_id", 0.02).as("__n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("__n_approx") - col("n_exact")).cast("double")
          <= col("n_exact").cast("double") * 0.05).as("approx_ok"))
      .orderBy("event_type")

  private def d33(s: SparkSession, dir: String): DataFrame =
    // static data-mixing weights toward an equal-share language mixture
    Curation.mixtureWeights(table(s, dir, "documents"), "lang")
      .orderBy("lang")

  private def d09(s: SparkSession, dir: String): DataFrame =
    Dedup
      .simhashSignatures(documents(s, dir))
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")

  private def d10(s: SparkSession, dir: String): DataFrame =
    Dedup
      .simhashNearDuplicates(documents(s, dir))
      .orderBy("doc_a", "doc_b")

  // ------------------------------------------------------------------
  // similarity search
  // ------------------------------------------------------------------

  private def e01(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .bruteKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), k = 5)
      .orderBy("query_id", "rank")
  }

  private def e02(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .lshKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5, planes = 6)
      .orderBy("query_id", "rank")
  }

  private def e23(s: SparkSession, dir: String): DataFrame = {
    // 1-bit binary quantization: 16-byte sign codes scanned with
    // XOR+popcount Hamming, bounded top-k shortlist, exact cosine
    // re-rank of the shortlist only
    val emb = table(s, dir, "embeddings")
    Similarity
      .bqKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5, shortlistK = 20)
      .orderBy("query_id", "rank")
  }

  private def e03(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(table(s, dir, "embeddings"), dim = 64).orderBy("label")

  private def e04(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .ivfKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5, nprobe = 3)
      .orderBy("query_id", "rank")
  }

  private def e05(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .lshKnnMultiProbe(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5, planes = 6)
      .orderBy("query_id", "rank")
  }

  private def e06(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .bruteKnnTopKAgg(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), k = 5)
      .orderBy("query_id", "rank")
  }

  private def e08(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .rangeSearch(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        threshold = 0.3)
      .orderBy("query_id", "neighbor_id")
  }

  private def e09(s: SparkSession, dir: String): DataFrame =
    // one Lloyd k-means refinement step (assignment + centroid
    // re-compute) — the training loop of the IVF coarse quantizer
    Similarity.kmeansStep(table(s, dir, "embeddings")).orderBy("cell")

  private def e11(s: SparkSession, dir: String): DataFrame =
    // PQ codes: 8 subspaces, label-seeded codebooks, per-subspace error
    Similarity.productQuantize(table(s, dir, "embeddings"), m = 8)
      .orderBy("vec_id", "sub")

  private def e12(s: SparkSession, dir: String): DataFrame = {
    // PQ-ADC search: queries scan corpus CODES with a broadcast
    // distance lookup table (same split as e01/e02)
    val emb = table(s, dir, "embeddings")
    Similarity
      .adcKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5), k = 5)
      .orderBy("query_id", "rank")
  }

  private def e13(s: SparkSession, dir: String): DataFrame = {
    // ANN quality audit: recall@5 of PQ-ADC search vs exact cosine kNN.
    // ADC ranks by L2 over ROUNDED codebooks while the exact side ranks
    // by cosine, so recall < 1.0 is expected — that measured gap is the
    // point of the query.
    val emb = table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    Similarity
      .recallAtK(
        Similarity.adcKnn(queries, corpus, k = 5),
        Similarity.bruteKnn(queries, corpus, k = 5), k = 5)
      .orderBy("query_id")
  }

  private def e14(s: SparkSession, dir: String): DataFrame = {
    // IVF-PQ composition: coarse cells cut the candidate set, ADC over
    // codes ranks it — the plan shape of a billion-vector ANN index
    val emb = table(s, dir, "embeddings")
    Similarity
      .ivfPqKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5)
      .orderBy("query_id", "rank")
  }

  private def e10(s: SparkSession, dir: String): DataFrame =
    // scalar int8 quantization of the corpus + reconstruction audit
    Similarity.scalarQuantize(table(s, dir, "embeddings")).orderBy("vec_id")

  private def d12(s: SparkSession, dir: String): DataFrame =
    // embedding-cosine near-dup: the vector-space dedup pass (semantic
    // duplicates exact/minhash text dedup can't see)
    Similarity
      .embeddingNearDuplicates(table(s, dir, "embeddings"),
        threshold = 0.4, planes = 6, tables = 2)
      .orderBy("vec_a", "vec_b")

  // ------------------------------------------------------------------
  // multimodal plumbing
  // ------------------------------------------------------------------

  private def m05(s: SparkSession, dir: String): DataFrame =
    // REAL batch embedding: encode a real 16x16 grayscale PNG per doc,
    // decode it through javax.imageio, mean-pool 4x4 patches, project
    // through the once-per-partition integer model (MultimodalSpec
    // proves the init amortization with an accumulator); the oracle
    // reproduces the pixel function + projection in closed form, so the
    // whole encode→decode→patch→project path is hash-checked
    Multimodal
      .embedPatches(
        Multimodal.encodePng(docIds(s, dir), "doc_id", _ => (16, 16)),
        idCol = "doc_id")
      .transform(sortedOnce(_, "doc_id", "dim"))

  private def m08(s: SparkSession, dir: String): DataFrame =
    // REAL audio: encode a real RIFF/WAVE PCM16 file per doc (8 kHz /
    // 480 samples for evens, 16 kHz / 960 for odds; every third id
    // carries an extra LIST chunk so the parser must genuinely walk
    // chunks), then decode — actual chunk walk, actual little-endian
    // samples — decimate the 16 kHz files to 8 kHz, and emit per-60-
    // sample-frame summed |amplitude|. Integer-exact end to end; the
    // oracle replays the closed-form sample function, so any header,
    // endianness, rate, or offset defect diverges the hash
    Multimodal
      .audioFrames(
        Multimodal.encodeWav(docIds(s, dir, below = 500),
          "doc_id",
          sampleRate = id => if (id % 2 == 0) 8000 else 16000,
          nSamples = id => if (id % 2 == 0) 480 else 960),
        "doc_id", targetRate = 8000, frame = 60)
      .transform(sortedOnce(_, "doc_id", "frame_no"))

  /** Frame-GRADIENT fingerprint dedup, shared by the audio (m11) and
    * video (m12) perceptual screens: the sign of each consecutive
    * frame-stat delta becomes one bit (exact integer comparison —
    * engine-independent), the per-doc bit string is the fingerprint,
    * and equal fingerprints group. One partitioned window (lead) over
    * the frame stats + a fingerprint-only grouping: payloads never
    * shuffle. */
  private def gradientFingerprint(
      frames: DataFrame, statCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_no")
    frames.withColumn("next_v", lead(statCol, 1).over(w))
      .filter(col("next_v").isNotNull)
      .withColumn("bit",
        when(col("next_v") > col(statCol), lit("1")).otherwise(lit("0")))
      .groupBy("doc_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(frame_no, bit))), s -> s.bit)"),
        "").as("afp"))
      .groupBy("afp")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .filter(col("n") > 1)
      .orderBy("afp")
  }

  private def m11(s: SparkSession, dir: String): DataFrame =
    // audio perceptual fingerprint — m10's dedup signal for sound:
    // REAL WAV round-trip (m08's encode/chunk-walk/decimate), then
    // energy-gradient sign bits over the exact |amp| frame sums
    gradientFingerprint(
      Multimodal.audioFrames(
        Multimodal.encodeWav(docIds(s, dir, below = 500),
          "doc_id",
          sampleRate = id => if (id % 2 == 0) 8000 else 16000,
          nSamples = id => if (id % 2 == 0) 480 else 960),
        "doc_id", targetRate = 8000, frame = 60),
      "sum_abs")

  private def m12(s: SparkSession, dir: String): DataFrame =
    // video temporal fingerprint — the same signal over the REAL AVI
    // round-trip (m09's container demux): per-frame position-weighted
    // pixel sums, 8 frames → 7 gradient bits per video
    gradientFingerprint(
      Multimodal.videoFrameStats(
        Multimodal.encodeAvi(docIds(s, dir, below = 300),
          "doc_id", frames = 8, w = 15, h = 12),
        "doc_id"),
      "wsum")

  private def m09(s: SparkSession, dir: String): DataFrame =
    // REAL video: encode a real uncompressed AVI per doc (proper
    // hdrl/strl/strf headers + movi of bottom-up padded DIB frames),
    // demux it back — nested-LIST walk, dims from the PARSED
    // BITMAPINFOHEADER — and weight each decoded pixel by position, so
    // an orientation or padding defect diverges the hash, not just the
    // row order. w=15 makes rows pad (45 → 48 bytes): the padding path
    // is exercised, not just declared
    Multimodal
      .videoFrameStats(
        Multimodal.encodeAvi(docIds(s, dir, below = 300),
          "doc_id", frames = 3, w = 15, h = 12),
        "doc_id")
      .transform(sortedOnce(_, "doc_id", "frame_no"))

  private def m10(s: SparkSession, dir: String): DataFrame =
    // perceptual image dedup: REAL PNG encode+decode, dHash over the
    // decoded raster (9x8 integer-boundary pooling, gradient-sign
    // bits compared in exact integer math), duplicate GROUPS by hash —
    // the media near-dup signal byte-hash dedup can't see; the oracle
    // re-derives every bit from the closed-form fixture raster
    Multimodal
      .perceptualHash(Multimodal.encodePng(docIds(s, dir),
        "doc_id", id => (8 + (id % 9).toInt, 8 + ((id * 7) % 9).toInt)))
      .groupBy("phash")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .filter(col("n") > 1)
      .orderBy("phash")

  private def m01(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .packPayload(table(s, dir, "documents"), "text", "text/plain")
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("byte_len"),
        substring(col("text"), 1, 8).as("head"),
        (length(col("payload")) === length(col("text"))).as("is_ascii"))
      .orderBy("doc_id")

  private def m02(s: SparkSession, dir: String): DataFrame =
    // REAL decode: encode a real grayscale PNG per doc, decode it back
    // through javax.imageio — width/height/mean_luma come from the
    // decoded raster; the oracle derives the same pixels in closed form
    // (byte_len is the PNG container size — zlib-dependent, so not
    // oracle-expressible — and is deliberately not selected)
    Multimodal
      .decodeMeta(Multimodal.encodePng(docIds(s, dir),
        "doc_id", id => (8 + (id % 9).toInt, 8 + ((id * 7) % 9).toInt)))
      .select(
        col("doc_id"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        round(col("meta.mean_luma"), 4).as("mean_luma"))
      .transform(sortedOnce(_, "doc_id"))

  private def m04(s: SparkSession, dir: String): DataFrame =
    // REAL resize: encode a real grayscale PNG per doc (dims vary by
    // id), decode it back through javax.imageio (in_w/in_h come from
    // the DECODED raster, not the formula), average-pool 2x2 blocks;
    // r_hex is the full pooled content, so any codec defect diverges
    Multimodal
      .resizePool(
        Multimodal.encodePng(docIds(s, dir),
          "doc_id", id => (8 + (id % 9).toInt, 8 + ((id * 7) % 9).toInt)),
        pool = 2)
      .select(
        col("doc_id"),
        col("in_w").cast("long").as("in_w"),
        col("in_h").cast("long").as("in_h"),
        col("out_w").cast("long").as("out_w"),
        col("out_h").cast("long").as("out_h"),
        hex(col("resized")).as("r_hex"))
      .transform(sortedOnce(_, "doc_id"))

  private def m03(s: SparkSession, dir: String): DataFrame =
    // frame/segment sampling: pure byte-slice expressions over the
    // opaque payload (Multimodal.sampleSegment) — "take frame k" plumbing
    Multimodal
      .packPayload(table(s, dir, "documents"), "text", "video/fake")
      .select(
        col("doc_id"),
        decode(Multimodal.sampleSegment(col("payload"), 3, 10), "UTF-8").as("seg"),
        length(Multimodal.sampleSegment(col("payload"), 3, 10)).cast("long").as("seg_len"),
        md5(Multimodal.sampleSegment(col("payload"), 1, 16)).as("head_md5"))
      .orderBy("doc_id")

  private def d40(s: SparkSession, dir: String): DataFrame =
    // embedding-space semantic dedup: candidate pairs only inside coarse
    // quantizer cells (IVF-style), exact cosine within
    Similarity
      .semanticDedup(table(s, dir, "embeddings"), threshold = 0.4)
      .orderBy("vec_a", "vec_b")

  private def d41(s: SparkSession, dir: String): DataFrame =
    // RAG chunking: 32-token windows, stride 24 (8-token overlap)
    Curation
      .chunkWithOverlap(table(s, dir, "documents"), chunkSize = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")

  private def d42(s: SparkSession, dir: String): DataFrame = {
    // PII scrub: the corpus text carries no addresses, so append a
    // deterministic doc_id-derived footer (email + numeric code) and
    // scrub THAT — the redaction logic runs against known ground truth
    val withPii = table(s, dir, "documents").withColumn("pii_text",
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com code "), col("doc_id") * 7919 % 10000))
    Curation.piiScrub(withPii, "pii_text").orderBy("doc_id")
  }

  private def d43(s: SparkSession, dir: String): DataFrame =
    Curation.datasetCard(table(s, dir, "documents")).orderBy("source")

  private def e15(s: SparkSession, dir: String): DataFrame = {
    // exact MIPS over a deterministically re-scaled corpus (squared
    // per-id factors give the norm spread real MIPS workloads have)
    val emb = table(s, dir, "embeddings")
    val scale = ((lit(1) + col("vec_id") % 16) * (lit(1) + col("vec_id") % 16))
      .cast("double")
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * scale).as("cv"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("qv"))
    Similarity.mipsKnnNormPruned(qs, corpus, k = 5).orderBy("query_id", "rank")
  }

  private def d44(s: SparkSession, dir: String): DataFrame =
    Curation.bigramLogLoss(documents(s, dir)).orderBy("doc_id")

  private def e16(s: SparkSession, dir: String): DataFrame = {
    // Matryoshka two-phase: 16-dim prefix shortlist (of 64), exact
    // full-dim re-rank of the top 20
    val emb = table(s, dir, "embeddings")
    Similarity
      .matryoshkaKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5, prefixDims = 16, shortlist = 20)
      .orderBy("query_id", "rank")
  }

  private def d45(s: SparkSession, dir: String): DataFrame = {
    // canonical-representative selection: for every near-dup cluster
    // (d19's connected components) keep the HIGHEST-QUALITY member (tie →
    // lowest doc_id), with the member count — the "which copy do we
    // train on" decision, quality-aware instead of d19's min-id rule.
    // max(struct(quality, -doc_id, doc_id)) picks the representative in
    // the same single agg that counts members — no window pass needed.
    val docs = documents(s, dir)
    val clusters = Dedup.nearDupClusters(
      Dedup.lshNearDuplicates(docs, shingleSize = 3, k = 8, bands = 4,
        threshold = 0.5))
    val quality = docs
      .withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"),
        qualityScoreFromTokens(col("text"), col("__toks")).as("quality"))
    clusters.join(quality, Seq("doc_id"))
      .groupBy("cluster")
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nd"),
          col("doc_id").as("d"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("m.d").as("rep_doc"),
        col("m.quality").as("quality"), col("n_members"))
      .orderBy("cluster")
  }

  private def e17(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .filteredKnn(emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        k = 5)
      .orderBy("query_id", "rank")
  }

  private def d46(s: SparkSession, dir: String): DataFrame =
    // duplicated 5-gram span coverage per doc (exact-substring dedup
    // signal: how much of the doc is corpus-repeated spans)
    Dedup.dupNgramCoverage(documents(s, dir), shingleSize = 5)
      .orderBy("doc_id")

  private def d47(s: SparkSession, dir: String): DataFrame = {
    // incremental near-dup: the %5==0 "micro-batch" probes the rest of
    // the corpus ("history") — only cross-side candidates are scored
    val docs = documents(s, dir)
    Dedup.incrementalNearDuplicates(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0))
      .orderBy("doc_a", "doc_b")
  }

  private def d51(s: SparkSession, dir: String): DataFrame = {
    // PERSISTENT LSH index (the IvfIndex analog for text near-dup):
    // history signatures computed once at build/append — never re-
    // sketched per probe, unlike d47's per-batch full-history pass —
    // then the %3==2 micro-batch probes the two-generation index
    import graft.operators.LshIndex
    import graft.store.LakeCatalog
    val cat = new LakeCatalog(s,
      s"${sys.props("java.io.tmpdir")}/graft_warehouse_" +
        dir.replaceAll("[^a-z0-9]", "_") + "_lsh")
    cat.createDatabase("lake")
    val docs = documents(s, dir)
    LshIndex.build(cat, "lake", "neardup", docs.filter(col("doc_id") % 3 === 0))
    LshIndex.append(cat, "lake", "neardup", docs.filter(col("doc_id") % 3 === 1))
    LshIndex.query(cat, "lake", "neardup", docs.filter(col("doc_id") % 3 === 2))
      .orderBy("doc_a", "doc_b")
  }

  private def d55(s: SparkSession, dir: String): DataFrame = {
    // full index LIFECYCLE under the oracle: build(%3==0) →
    // append(%3==1) → REMOVE every doc_id%7==0 (the retraction /
    // right-to-be-forgotten path: key-pruned deletes on both index
    // tables) → COMPACT (a pure fold — entries collapse, contents and
    // probe results must not move) → probe(%3==2). The oracle filters
    // removed ids AFTER the per-generation bucket caps, exactly
    // matching write-time capping followed by row deletion.
    import graft.operators.LshIndex
    import graft.store.LakeCatalog
    val cat = new LakeCatalog(s,
      s"${sys.props("java.io.tmpdir")}/graft_warehouse_" +
        dir.replaceAll("[^a-z0-9]", "_") + "_lsh55")
    cat.createDatabase("lake")
    val docs = documents(s, dir)
    LshIndex.build(cat, "lake", "neardup55", docs.filter(col("doc_id") % 3 === 0))
    LshIndex.append(cat, "lake", "neardup55", docs.filter(col("doc_id") % 3 === 1))
    LshIndex.remove(cat, "lake", "neardup55",
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
    LshIndex.compact(cat, "lake", "neardup55")
    LshIndex.query(cat, "lake", "neardup55", docs.filter(col("doc_id") % 3 === 2))
      .orderBy("doc_a", "doc_b")
  }

  private def d52(s: SparkSession, dir: String): DataFrame =
    // deterministic train/val/test split (md5 bucket, 800/100/100):
    // per-split doc count, char mass and id range — reproducible across
    // engines/runs/topologies, and appends never reassign existing ids
    Curation.hashSplit(table(s, dir, "documents"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")

  private def d53(s: SparkSession, dir: String): DataFrame =
    // split-leakage audit: near-dup pairs crossing the train/val/test
    // boundary — d20/d25's contamination generalized to near-dups; the
    // pairs a pipeline must quarantine before training
    Dedup.splitLeakage(
      Curation.hashSplit(documents(s, dir), "doc_id"))
      .orderBy("doc_a", "doc_b")

  private def d54(s: SparkSession, dir: String): DataFrame =
    // exact-substring dedup, applied: every non-owner occurrence of a
    // corpus-duplicated 5-token span is removed and the doc text is
    // rebuilt from the surviving tokens (d46 scores this signal; d54
    // executes the removal policy)
    Dedup.exactSubstringDedup(documents(s, dir), shingleSize = 5)
      .orderBy("doc_id")

  private def s16(s: SparkSession, dir: String): DataFrame = {
    // STREAMING near-dup screen, batch-run for the oracle: synthetic
    // monotone event time (one doc per second from 2026-01-01), pairs =
    // earlier-within-horizon near-dups. The streaming path — bounded
    // per-bucket state, watermark retirement, dead-bucket cap,
    // lowest-shared-band exactly-once pairs — is driven in
    // DocStreamsSpec through a real file-source stream.
    val docs = documents(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("ts", (lit(1767225600L) + col("doc_id")).cast("timestamp"))
    graft.streaming.DocStreams.nearDupPairs(docs, horizonSec = 500L)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  private def s18(s: SparkSession, dir: String): DataFrame = {
    // the streaming near-dup screen UNIFIED with the persistent LSH
    // index, batch-run for the oracle: bootstrap = %3==0, then two
    // screened micro-batches (%3==1, then %3==2) run through the SAME
    // probe → pairs-partition write → guarded append path the stream's
    // foreachBatch runs (IndexedDocStreamsSpec drives a real
    // file-source stream plus the replay/crash-window guards). Batch 2
    // probes generations 0 AND 1 — one signature space shared by batch
    // jobs and the stream, instead of private in-stream bucket state.
    import graft.operators.LshIndex
    import graft.store.LakeCatalog
    import graft.streaming.IndexedDocStreams
    val base = s"${sys.props("java.io.tmpdir")}/graft_warehouse_" +
      dir.replaceAll("[^a-z0-9]", "_") + "_s18"
    val cat = new LakeCatalog(s, base)
    cat.createDatabase("lake")
    val docs = documents(s, dir)
    LshIndex.build(cat, "lake", "nd18", docs.filter(col("doc_id") % 3 === 0))
    val out = s"$base/screen_out"
    IndexedDocStreams.screenBatch(cat, "lake", "nd18",
      docs.filter(col("doc_id") % 3 === 1), 1L, out)
    IndexedDocStreams.screenBatch(cat, "lake", "nd18",
      docs.filter(col("doc_id") % 3 === 2), 2L, out)
    s.read.parquet(out)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("batch_id").cast("long").as("batch_id"))
      .orderBy("doc_a", "doc_b")
  }

  private def d48(s: SparkSession, dir: String): DataFrame =
    // Count-Min-sketch heavy hitters under the d34 gate pattern: exact
    // top-20 terms + a flag that the CMS guarantee held (never under,
    // over by at most eps*N) — a drifting sketch fails the oracle
    Curation.cmsHeavyHitters(documents(s, dir), "text", k = 20)
      .orderBy(desc("n_exact"), col("term"))

  private def d49(s: SparkSession, dir: String): DataFrame =
    // deterministic weighted sample (A-ES keys): 100 docs proportional
    // to token count — the mixture-construction primitive, reproducible
    // across engines because u comes from md5, not rand()
    Curation.weightedSample(
      table(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("w")),
      "doc_id", "w", k = 100)

  private def e18(s: SparkSession, dir: String): DataFrame = {
    // hybrid RAG retrieval: BM25 lexical list + cosine list vs query
    // vector 0, fused by reciprocal rank (corpus = docs 5+, matching the
    // kNN queries/corpus split; doc_id aligns with vec_id)
    val emb = table(s, dir, "embeddings")
    Curation.hybridRrf(
      documents(s, dir).filter(col("doc_id") >= 5),
      emb.filter(col("vec_id") === 0),
      emb.filter(col("vec_id") >= 5),
      terms = Seq("table", "query", "spark"),
      kIn = 50, kOut = 10)
      .orderBy(desc("rrf"), col("doc_id"))
  }

  private def e21(s: SparkSession, dir: String): DataFrame = {
    // ADC shortlist (top-20 by PQ distance) then EXACT cosine rerank of
    // just those candidates — the quantize-then-refine pattern; the
    // returned scores/order are exact, PQ error only gates membership
    val emb = table(s, dir, "embeddings")
    Similarity
      .adcRefineKnn(emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") >= 5), k = 5, shortlistK = 20)
      .orderBy("query_id", "rank")
  }

  private def e20(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity
      .bruteKnnMetricBattery(emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") >= 5), k = 5)
      .orderBy("metric", "query_id", "rank")
  }

  private def m07(s: SparkSession, dir: String): DataFrame = {
    // cross-modal exact dedup: the same content packed under two
    // modalities (every doc as text/plain, every third ALSO as a
    // video transcript) collapses to one content group keyed by the
    // payload hash, modalities listed per group — the multimodal
    // ingest's duplicate-content report
    val docs = table(s, dir, "documents")
    val a = Multimodal.packPayload(docs, "text", "text/plain")
    val b = Multimodal.packPayload(
      docs.filter(col("doc_id") % 3 === 0), "text", "video/transcript")
    a.unionByName(b)
      .select(col("doc_id"), col("modality"), md5(col("payload")).as("fp"))
      .groupBy("fp")
      .agg(
        min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_items"),
        array_join(array_sort(collect_set("modality")), ",").as("modalities"))
      .orderBy("fp")
  }

  private def m06(s: SparkSession, dir: String): DataFrame =
    // frame-sampling manifest over the opaque payload: the decoder work
    // list (offsets + lengths + content hashes), no decode needed
    Multimodal
      .frameManifest(
        Multimodal.packPayload(table(s, dir, "documents"), "text", "video/fake"),
        frameBytes = 16)
      .orderBy("doc_id", "frame_no")

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_token_stats" -> (d01 _),
    "d02_quality_score" -> (d02 _),
    "d03_lang_id" -> (d03 _),
    "d04_fingerprint" -> (d04 _),
    "d05_dedup_exact" -> (d05 _),
    "d06_minhash_sig" -> (d06 _),
    "d07_lsh_near_dup" -> (d07 _),
    "d08_jaccard_block" -> (d08 _),
    "d09_simhash" -> (d09 _),
    "d10_simhash_near_dup" -> (d10 _),
    "d11_exact_dedup_rows" -> (d11 _),
    "d12_embed_near_dup" -> (d12 _),
    "d13_rolling_fp" -> (d13 _),
    "d14_bpe_tokens" -> (d14 _),
    "d15_incremental_dedup" -> (d15 _),
    "d50_bloom_incr_dedup" -> (d50 _),
    "d16_char_ngram_near_dup" -> (d16 _),
    "d17_curation_pipeline" -> (d17 _),
    "d18_minhash_estimate" -> (d18 _),
    "d19_dedup_clusters" -> (d19 _),
    "d20_contamination" -> (d20 _),
    "d21_stratified_sample" -> (d21 _),
    "d22_tfidf_top_term" -> (d22 _),
    "d23_quality_filter" -> (d23 _),
    "d24_unigram_loss" -> (d24 _),
    "d25_decontaminated" -> (d25 _),
    "d26_json_meta" -> (d26 _),
    "d27_bm25_topk" -> (d27 _),
    "d28_repetition" -> (d28 _),
    "d29_seq_pack" -> (d29 _),
    "d30_source_cap" -> (d30 _),
    "d31_vocab_growth" -> (d31 _),
    "d32_boilerplate" -> (d32 _),
    "d33_mixture_weights" -> (d33 _),
    "d34_sketch_distinct" -> (d34 _),
    "d35_training_manifest" -> (d35 _),
    "d36_bpe_merge" -> (d36 _),
    "d37_drift_cdf" -> (d37 _),
    "d38_token_entropy" -> (d38 _),
    "d39_zipf_fit" -> (d39 _),
    "e01_knn_brute" -> (e01 _),
    "e02_knn_lsh" -> (e02 _),
    "e03_label_centroids" -> (e03 _),
    "e04_knn_ivf" -> (e04 _),
    "e05_knn_multiprobe" -> (e05 _),
    "e06_knn_topk_agg" -> (e06 _),
    "e08_range_search" -> (e08 _),
    "e09_kmeans_step" -> (e09 _),
    "e10_scalar_quantize" -> (e10 _),
    "e11_product_quantize" -> (e11 _),
    "e12_knn_pq_adc" -> (e12 _),
    "e13_ann_recall" -> (e13 _),
    "e14_knn_ivf_pq" -> (e14 _),
    "m01_multimodal_pack" -> (m01 _),
    "m02_multimodal_decode" -> (m02 _),
    "m03_segment_sample" -> (m03 _),
    "m04_resize_pool" -> (m04 _),
    "m05_embed_patches" -> (m05 _),
    "m08_audio_frames" -> (m08 _),
    "m09_video_frames" -> (m09 _),
    "m10_perceptual_dedup" -> (m10 _),
    "m11_audio_fingerprint" -> (m11 _),
    "m12_video_fingerprint" -> (m12 _),
    "d40_semantic_dedup" -> (d40 _),
    "d41_chunk_overlap" -> (d41 _),
    "d42_pii_scrub" -> (d42 _),
    "d43_dataset_card" -> (d43 _),
    "e15_mips_norm_prune" -> (e15 _),
    "e16_matryoshka_rerank" -> (e16 _),
    "e17_filtered_knn" -> (e17 _),
    "e18_hybrid_rrf" -> (e18 _),
    "e20_metric_battery" -> (e20 _),
    "m07_crossmodal_dedup" -> (m07 _),
    "d44_bigram_loss" -> (d44 _),
    "d45_cluster_reps" -> (d45 _),
    "d46_dup_ngram_spans" -> (d46 _),
    "d47_incr_near_dup" -> (d47 _),
    "d54_substring_dedup" -> (d54 _),
    "d51_lsh_index" -> (d51 _),
    "d55_lsh_retract" -> (d55 _),
    "d52_hash_split" -> (d52 _),
    "d53_split_leakage" -> (d53 _),
    "s16_stream_near_dup" -> (s16 _),
    "s18_indexed_stream_dedup" -> (s18 _),
    "d48_cms_heavy_hitters" -> (d48 _),
    "d49_weighted_sample" -> (d49 _),
    "e21_adc_refine" -> (e21 _),
    "e23_bq_hamming" -> (e23 _),
    "m06_frame_manifest" -> (m06 _)
  )

  // ---- oracle SQL -----------------------------------------------------

  /** tokens CTE fragment (mirror of TextFunctions.tokens). */
  private val ToksCte =
    "SELECT doc_id, text, source, string_split_regex(trim(text), '\\s+') AS tk FROM documents"

  /** shingle expression over `tk` (mirror of wordShingles n=3). */
  private val Shingles3 =
    "list_transform(range(1, len(tk)-1), i -> array_to_string(list_slice(tk, i, i+2), ' '))"

  /** minhash signature over `shingles` (mirror of minhashSignature k=8). */
  private val Sig8 =
    "list_transform(range(0, 8), seed -> " +
      "list_min(list_transform(shingles, s2 -> substr(md5(seed || '|' || s2), 1, 16))))"

  /** md5-once 60-bit shingle hashes (mirror of the staged `__sh`). */
  private val ShingleHashes =
    "list_transform(shingles, s2 -> ('0x' || substr(md5(s2), 1, 15))::BIGINT)"

  /** k=8 affine minhash sketch over bigint list `hs` (mirror of
    * graft_minhash_sketch). */
  private val Sketch8 =
    "list_transform(range(0, 8), i -> list_min(list_transform(hs, h -> " +
      "((h % 2147483647) * (2*i+1) + i*40503) % 2147483647)))"

  private val enList = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
  private val esList = TextFunctions.SpanishStopwords.map(w => s"'$w'").mkString(", ")

  /** 16-bit simhash expression over `tk` (mirror of simhash16). */
  private def simhashSql: String =
    (0 until 16).map { j =>
      val mask = 1 << j
      s"(CASE WHEN list_sum(list_transform(tk, t -> CASE WHEN " +
        s"(('0x' || substr(md5(t), 1, 4))::INT & $mask) > 0 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN $mask ELSE 0 END)"
    }.mkString(" + ")

  /** hyperplane LSH bucket over double-list `v` (mirror of lshBucketFrom:
    * planes [firstPlane, firstPlane + planes)). */
  private def bucketSql(v: String, planes: Int, firstPlane: Int = 0): String =
    (firstPlane until firstPlane + planes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(0, len($v)), i -> " +
        s"$v[i+1] * ((($p*131071 + i*524287) * 2654435761 % 1000003)::DOUBLE " +
        s"/ 1000003.0 * 2.0 - 1.0))) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** multi-probe expansion of bucket string `b`: [b] ++ one-bit flips
    * (mirror of probeBuckets). */
  private def probesSql(b: String, planes: Int): String =
    s"list_concat([$b], list_transform(range(0, $planes), fi -> " +
      s"substr($b, 1, fi::INT) || " +
      s"(CASE WHEN substr($b, (fi+1)::INT, 1) = '1' THEN '0' ELSE '1' END) || " +
      s"substr($b, (fi+2)::INT, ($planes - fi - 1)::INT)))"

  private[graft] val CosSql =
    "list_inner_product(qv, cv) / (sqrt(list_inner_product(qv, qv)) * " +
      "sqrt(list_inner_product(cv, cv)))"

  def oracleSql: Map[String, String] = Map(
    "d01_token_stats" ->
      s"""WITH t AS ($ToksCte)
         SELECT doc_id, len(tk) AS n_tokens,
         CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
           / CAST(len(tk) AS DOUBLE) AS avg_tok_len
         FROM t ORDER BY doc_id""",
    "d02_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         m AS (SELECT doc_id, text,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CAST(len(list_filter(tk, x -> x IN ($enList))) AS DOUBLE) AS stop_cnt,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) AS punct_cnt
             FROM t)
         SELECT doc_id, round(
           (CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
           + least(stop_cnt / ntok * 2.0, 1.0) * 0.4
           + (1.0 - least(punct_cnt / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2,
           4) AS quality
         FROM m ORDER BY doc_id""",
    "d03_lang_id" ->
      s"""WITH t AS ($ToksCte)
         SELECT doc_id, CASE
           WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           WHEN len(list_filter(tk, x -> x IN ($esList))) >
                len(list_filter(tk, x -> x IN ($enList))) THEN 'es'
           ELSE 'en' END AS lang_pred
         FROM t ORDER BY doc_id""",
    "d04_fingerprint" ->
      """SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents ORDER BY doc_id""",
    "d05_dedup_exact" ->
      """WITH f AS (SELECT doc_id,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\s]', ' ', 'g')),
                                   '\s+', ' ', 'g'))) AS fp
         FROM documents)
         SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_docs
         FROM f GROUP BY fp ORDER BY fp""",
    "d06_minhash_sig" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, $Shingles3 AS shingles FROM t WHERE len(tk) >= 3)
         SELECT doc_id, array_to_string($Sig8, ',') AS sig
         FROM sh ORDER BY doc_id""",
    "d07_lsh_near_dup" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                     a.toks AS toks_a, b2.toks AS toks_b
                   FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d08_jaccard_block" ->
      s"""WITH t AS (SELECT doc_id, source, text,
             string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         sh AS (SELECT doc_id, source AS blk, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, blk, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, blk, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, blk, unnest(range(0, 8)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, blk,
                  bi::VARCHAR || '_' || sg[bi+1]::VARCHAR AS band FROM b),
         pairs AS (SELECT DISTINCT a.blk, a.doc_id AS doc_a, b2.doc_id AS doc_b
                   FROM bk a JOIN bk b2
                     ON a.band = b2.band AND a.blk = b2.blk AND a.doc_id < b2.doc_id),
         tt AS (SELECT doc_id,
                  list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
                FROM documents),
         j AS (SELECT p.blk, p.doc_a, p.doc_b,
                 CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE)
                   AS jaccard
               FROM pairs p
               JOIN tt ta ON ta.doc_id = p.doc_a
               JOIN tt tb ON tb.doc_id = p.doc_b)
         SELECT blk, doc_a, doc_b, round(jaccard, 4) AS jaccard
         FROM j WHERE jaccard >= 0.3
         ORDER BY blk, doc_a, doc_b""",
    "d09_simhash" ->
      s"""WITH t AS ($ToksCte)
         SELECT doc_id, ($simhashSql) AS simhash FROM t ORDER BY doc_id""",
    "d11_exact_dedup_rows" ->
      """WITH f AS (SELECT doc_id, source,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\s]', ' ', 'g')),
                                   '\s+', ' ', 'g'))) AS fp
         FROM documents),
         r AS (SELECT doc_id, source, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
         SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id""",
    "d10_simhash_near_dup" ->
      s"""WITH t AS ($ToksCte),
         s AS (SELECT doc_id, ($simhashSql) AS sh FROM t)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.sh::BIGINT, b.sh::BIGINT)) AS BIGINT) AS dist
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh::BIGINT, b.sh::BIGINT)) <= 1
         ORDER BY doc_a, doc_b""",
    "d19_dedup_clusters" ->
      // connected components of the d07 pair graph via a recursive
      // closure: min reachable doc_id per member
      s"""WITH RECURSIVE t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                    a.toks AS toks_a, b2.toks AS toks_b
                  FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         e AS (SELECT doc_a, doc_b FROM cand
               WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE)
                 >= 0.5),
         eb AS (SELECT doc_a AS src, doc_b AS dst FROM e
                UNION ALL SELECT doc_b, doc_a FROM e),
         n AS (SELECT DISTINCT src AS doc_id FROM eb),
         r AS (SELECT doc_id, doc_id AS cluster FROM n
               UNION
               SELECT eb.src AS doc_id, r.cluster FROM r JOIN eb ON eb.dst = r.doc_id)
         SELECT doc_id, min(cluster) AS cluster FROM r GROUP BY doc_id
         ORDER BY doc_id""",
    "d20_contamination" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, $Shingles3 AS shingles FROM t WHERE len(tk) >= 3),
         hs AS (SELECT doc_id, list_distinct($ShingleHashes) AS hs FROM sh),
         ev AS (SELECT doc_id AS eval_doc, hs, len(hs) AS n_eval FROM hs
                WHERE doc_id % 10 = 0),
         tr AS (SELECT doc_id AS train_doc, unnest(hs) AS h FROM hs
                WHERE doc_id % 10 <> 0),
         keep AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= 1000),
         evh AS (SELECT eval_doc, n_eval, unnest(hs) AS h FROM ev),
         shared AS (SELECT eval_doc, train_doc, min(n_eval) AS n_eval,
                      count(*) AS n_shared
                    FROM evh JOIN (SELECT * FROM tr JOIN keep USING (h)) USING (h)
                    GROUP BY eval_doc, train_doc)
         SELECT eval_doc, train_doc,
           round(n_shared::DOUBLE / n_eval::DOUBLE, 4) AS overlap
         FROM shared
         WHERE round(n_shared::DOUBLE / n_eval::DOUBLE, 4) >= 0.5
         ORDER BY eval_doc, train_doc""",
    "d21_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 <
           CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 300 WHEN 'zh' THEN 500
                     ELSE 200 END
         ORDER BY doc_id""",
    "d22_tfidf_top_term" ->
      """WITH t AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term, tf, df,
                  round(tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE), 4) AS tfidf
                FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM sc)
         SELECT doc_id, term, tf, df, tfidf FROM r WHERE rn = 1 ORDER BY doc_id""",
    "d23_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         m AS (SELECT doc_id, text,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CAST(len(list_filter(tk, x -> x IN ($enList))) AS DOUBLE) AS stop_cnt,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) AS punct_cnt
             FROM t),
         qs AS (SELECT doc_id, round(
             (CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
             + least(stop_cnt / ntok * 2.0, 1.0) * 0.4
             + (1.0 - least(punct_cnt / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2,
             4) AS quality
           FROM m),
         h AS (SELECT quality, count(*) AS cnt FROM qs GROUP BY quality),
         c AS (SELECT quality, coalesce(sum(cnt) OVER (ORDER BY quality
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
                 sum(cnt) OVER () AS total FROM h),
         kept AS (SELECT quality FROM c
                  WHERE cum_lt::DOUBLE / total::DOUBLE >= 0.9)
         SELECT doc_id, quality FROM qs JOIN kept USING (quality) ORDER BY doc_id""",
    "d25_decontaminated" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, $Shingles3 AS shingles FROM t WHERE len(tk) >= 3),
         hs AS (SELECT doc_id, list_distinct($ShingleHashes) AS hs FROM sh),
         ev AS (SELECT doc_id AS eval_doc, hs, len(hs) AS n_eval FROM hs
                WHERE doc_id % 10 = 0),
         tr AS (SELECT doc_id AS train_doc, unnest(hs) AS h FROM hs
                WHERE doc_id % 10 <> 0),
         keep AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= 1000),
         evh AS (SELECT eval_doc, n_eval, unnest(hs) AS h FROM ev),
         shared AS (SELECT eval_doc, train_doc, min(n_eval) AS n_eval,
                      count(*) AS n_shared
                    FROM evh JOIN (SELECT * FROM tr JOIN keep USING (h)) USING (h)
                    GROUP BY eval_doc, train_doc),
         flagged AS (SELECT DISTINCT train_doc FROM shared
                     WHERE round(n_shared::DOUBLE / n_eval::DOUBLE, 4) >= 0.5)
         SELECT doc_id, source FROM documents
         WHERE doc_id % 10 <> 0
           AND doc_id NOT IN (SELECT train_doc FROM flagged)
         ORDER BY doc_id""",
    "d28_repetition" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, $Shingles3 AS shingles FROM t WHERE len(tk) >= 3),
         hs AS (SELECT doc_id, $ShingleHashes AS hs FROM sh),
         x AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         c AS (SELECT doc_id, h, count(*) AS cnt FROM x GROUP BY doc_id, h),
         p AS (SELECT doc_id, sum(cnt) AS total, count(*) AS n_distinct,
                 max(cnt) AS top FROM c GROUP BY doc_id)
         SELECT doc_id,
           round(1.0 - n_distinct::DOUBLE / total::DOUBLE, 4) AS dup_ratio,
           round(top::DOUBLE / total::DOUBLE, 4) AS top_ratio
         FROM p ORDER BY doc_id""",
    "d29_seq_pack" ->
      // mirror of the two-phase prefix sum: one window cumsum is the
      // oracle semantics; floor over a DOUBLE division on both sides
      s"""WITH t AS ($ToksCte),
         c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
         o AS (SELECT doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_offset
               FROM c),
         s AS (SELECT doc_id, n_tokens, tok_offset,
                 CAST(floor(tok_offset / 256.0) AS BIGINT) AS first_seq,
                 CAST(floor((tok_offset + greatest(n_tokens, 1) - 1) / 256.0)
                   AS BIGINT) AS last_seq
               FROM o)
         SELECT doc_id, n_tokens, tok_offset, first_seq, last_seq,
           last_seq - first_seq + 1 AS n_seqs
         FROM s ORDER BY doc_id""",
    "d30_source_cap" ->
      s"""WITH t AS ($ToksCte),
         m AS (SELECT doc_id, source,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CAST(len(list_filter(tk, x -> x IN ($enList))) AS DOUBLE) AS stop_cnt,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) AS punct_cnt,
             CAST(length(text) AS DOUBLE) AS nchar
             FROM t),
         q AS (SELECT doc_id, source, round(
             (CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
             + least(stop_cnt / ntok * 2.0, 1.0) * 0.4
             + (1.0 - least(punct_cnt / nchar * 10.0, 1.0)) * 0.2, 4) AS quality
           FROM m),
         r AS (SELECT doc_id, source, quality, row_number() OVER
                 (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
               FROM q)
         SELECT doc_id, source, quality, rnk FROM r
         WHERE rnk <= 10 ORDER BY source, rnk""",
    "d31_vocab_growth" ->
      s"""WITH t AS ($ToksCte),
         x AS (SELECT doc_id, unnest(tk) AS word FROM t),
         w AS (SELECT word, min(doc_id) AS first_doc FROM x GROUP BY word),
         b AS (SELECT CAST(floor(first_doc / 2.0) AS BIGINT) AS bucket,
                 count(*) AS new_types
               FROM w GROUP BY 1)
         SELECT bucket, new_types,
           CAST(sum(new_types) OVER (ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
         FROM b ORDER BY bucket""",
    "d32_boilerplate" ->
      s"""WITH t AS ($ToksCte),
         toks AS (SELECT doc_id, unnest(tk) AS word FROM t),
         n AS (SELECT count(*) AS n FROM documents),
         dfs AS (SELECT word, count(DISTINCT doc_id) AS df
                 FROM toks GROUP BY word),
         boiler AS (SELECT word FROM dfs, n WHERE df * 1000 >= n * 500),
         per AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
         hits AS (SELECT doc_id, count(*) AS n_boiler
                  FROM toks JOIN boiler USING (word) GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
           round(coalesce(n_boiler, 0)::DOUBLE / n_tokens::DOUBLE, 4)
             AS boiler_ratio
         FROM per LEFT JOIN hits USING (doc_id) ORDER BY doc_id""",
    "d39_zipf_fit" ->
      s"""WITH t AS ($ToksCte),
         x AS (SELECT unnest(tk) AS term FROM t),
         f AS (SELECT term, count(*) AS n FROM x GROUP BY term),
         r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rnk FROM f)
         SELECT round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope,
           round(regr_r2(ln(n), ln(rnk)), 4) AS r2,
           count(*) AS n_terms
         FROM r""",
    "d36_bpe_merge" ->
      s"""WITH t AS ($ToksCte),
         tok AS (SELECT unnest(tk) AS tt FROM t),
         pairs AS (SELECT unnest(list_transform(range(1, length(tt)),
                     i -> substr(tt, i::INT, 2))) AS pair
                   FROM tok WHERE length(tt) >= 2)
         SELECT pair, count(*) AS n FROM pairs
         GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    "d37_drift_cdf" ->
      """WITH b AS (SELECT doc_id % 2 = 0 AS is_a,
           CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket FROM documents),
         c AS (SELECT bucket,
                 sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS nb
               FROM b GROUP BY bucket),
         k AS (SELECT bucket, na, nb,
                 sum(na) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ca,
                 sum(nb) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cb,
                 sum(na) OVER () AS ta, sum(nb) OVER () AS tb
               FROM c)
         SELECT bucket, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           round(abs(ca::DOUBLE / ta::DOUBLE - cb::DOUBLE / tb::DOUBLE), 6)
             AS cdf_gap
         FROM k ORDER BY bucket""",
    "d38_token_entropy" ->
      s"""WITH t AS ($ToksCte),
         x AS (SELECT doc_id, unnest(tk) AS term FROM t),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY doc_id, term),
         wt AS (SELECT doc_id, tf,
                  sum(tf) OVER (PARTITION BY doc_id) AS tot FROM tf)
         SELECT doc_id, round(-sum((tf::DOUBLE / tot::DOUBLE)
           * ln(tf::DOUBLE / tot::DOUBLE)), 4) AS entropy
         FROM wt GROUP BY doc_id ORDER BY doc_id""",
    "d35_training_manifest" ->
      // the d17 + d25 + d30 + d29 oracle fragments composed end-to-end
      s"""WITH f AS (SELECT doc_id, text, lang, source,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g')),
                                   '\\s+', ' ', 'g'))) AS fp
         FROM documents),
         r0 AS (SELECT doc_id, text, lang, source, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM f),
         dd AS (SELECT doc_id, text, lang, source FROM r0 WHERE rn = 1),
         t2 AS (SELECT doc_id, text, lang, source,
                 string_split_regex(trim(text), '\\s+') AS tk FROM dd),
         m AS (SELECT doc_id, text, lang, source, tk,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CAST(len(list_filter(tk, x -> x IN ($enList))) AS DOUBLE) AS stop_cnt,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) AS punct_cnt
             FROM t2),
         qs AS (SELECT doc_id, text, lang, source, tk, round(
             (CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
             + least(stop_cnt / ntok * 2.0, 1.0) * 0.4
             + (1.0 - least(punct_cnt / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2,
             4) AS quality
           FROM m),
         lp AS (SELECT doc_id, lang, source, quality, CASE
             WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
             WHEN len(list_filter(tk, x -> x IN ($esList))) >
                  len(list_filter(tk, x -> x IN ($enList))) THEN 'es'
             ELSE 'en' END AS lang_pred
           FROM qs),
         surv AS (SELECT doc_id, source, quality FROM lp
                  WHERE quality >= 0.5 AND lang_pred = lang AND doc_id % 10 <> 0),
         t AS ($ToksCte),
         sh AS (SELECT doc_id, $Shingles3 AS shingles FROM t WHERE len(tk) >= 3),
         hs AS (SELECT doc_id, list_distinct($ShingleHashes) AS hs FROM sh),
         ev AS (SELECT doc_id AS eval_doc, hs, len(hs) AS n_eval FROM hs
                WHERE doc_id % 10 = 0),
         tr AS (SELECT doc_id AS train_doc, unnest(hs) AS h FROM hs
                WHERE doc_id % 10 <> 0),
         keep AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= 1000),
         evh AS (SELECT eval_doc, n_eval, unnest(hs) AS h FROM ev),
         shared AS (SELECT eval_doc, train_doc, min(n_eval) AS n_eval,
                      count(*) AS n_shared
                    FROM evh JOIN (SELECT * FROM tr JOIN keep USING (h)) USING (h)
                    GROUP BY eval_doc, train_doc),
         flagged AS (SELECT DISTINCT train_doc FROM shared
                     WHERE round(n_shared::DOUBLE / n_eval::DOUBLE, 4) >= 0.5),
         clean AS (SELECT * FROM surv
                   WHERE doc_id NOT IN (SELECT train_doc FROM flagged)),
         capped AS (SELECT doc_id, source, quality FROM (
             SELECT *, row_number() OVER
               (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
             FROM clean) WHERE rnk <= 15),
         tok AS (SELECT c.doc_id, c.source, c.quality,
                   CAST(len(string_split_regex(trim(d2.text), '\\s+')) AS BIGINT)
                     AS n_tokens
                 FROM capped c JOIN documents d2 USING (doc_id)),
         o AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_offset FROM tok)
         SELECT doc_id, source, quality, n_tokens, tok_offset,
           CAST(floor(tok_offset / 256.0) AS BIGINT) AS first_seq
         FROM o ORDER BY doc_id""",
    "d34_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
         TRUE AS approx_ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    "d33_mixture_weights" ->
      s"""WITH t AS (SELECT lang,
             string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         per AS (SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(tk)) AS BIGINT) AS n_tokens
                 FROM t GROUP BY lang),
         tot AS (SELECT sum(n_tokens) AS total, count(*) AS n_strata FROM per)
         SELECT lang, n_docs, n_tokens,
           round(n_tokens::DOUBLE / total::DOUBLE, 6) AS share,
           round(least(1.0, (total::DOUBLE / n_strata::DOUBLE) / n_tokens::DOUBLE), 6)
             AS weight
         FROM per, tot ORDER BY lang""",
    "d27_bm25_topk" ->
      // constants appear as the same float expressions the Scala side
      // computes ((1.2 + 1.0), (1.0 - 0.75)) so both engines fold them
      // to identical doubles
      """WITH t AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                WHERE term IN ('table', 'query', 'spark') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         len AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM len),
         sc AS (SELECT doc_id,
             ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0)
               * (tf::DOUBLE * (1.2 + 1.0))
               / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) AS s
           FROM tf JOIN dfq USING (term) JOIN len USING (doc_id) CROSS JOIN stats)
         SELECT doc_id, round(sum(s), 4) AS bm25 FROM sc GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 25""",
    "d26_json_meta" ->
      """WITH j AS (SELECT doc_id,
           '{"id":' || doc_id || ',"lang":"' || lang || '","src":"' || source || '"}'
             AS js
         FROM documents)
         SELECT doc_id,
           json_extract_string(js, '$.src') AS src,
           CAST(json_extract(js, '$.id') AS BIGINT) AS id_parsed,
           json_extract_string(js, '$.lang') AS lang_parsed
         FROM j ORDER BY doc_id""",
    "d24_unigram_loss" ->
      """WITH t AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
         f AS (SELECT term, count(*) AS ctf FROM t GROUP BY term),
         tot AS (SELECT count(*) AS t_total FROM t),
         j AS (SELECT doc_id, ln(ctf::DOUBLE / t_total::DOUBLE) AS lp
               FROM t JOIN f USING (term) CROSS JOIN tot)
         SELECT doc_id, round((-1.0 * sum(lp)) / count(*)::DOUBLE, 4) AS nll
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    "e10_scalar_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         d AS (SELECT unnest(v) AS x, unnest(range(0, len(v))) AS dim FROM e),
         r AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM d GROUP BY dim),
         rr AS (SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
                FROM r),
         q AS (SELECT vec_id, v, los, his,
                 list_transform(range(0, len(v)), i ->
                   CASE WHEN his[i+1] > los[i+1]
                     THEN floor((v[i+1] - los[i+1]) / (his[i+1] - los[i+1])
                            * 255.0 + 0.5)
                     ELSE 0.0 END) AS codes
               FROM e CROSS JOIN rr)
         SELECT vec_id, list_sum(codes)::BIGINT AS code_sum,
           round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, len(v)), i ->
               (v[i+1] - (los[i+1] + codes[i+1] * (his[i+1] - los[i+1]) / 255.0)) *
               (v[i+1] - (los[i+1] + codes[i+1] * (his[i+1] - los[i+1]) / 255.0)))),
             (a, x) -> a + x)), 4) AS err
         FROM q ORDER BY vec_id""",
    "e13_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE vec_id >= 5),
         d AS (SELECT vec_id, label, len(v) AS nd, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim FROM e),
         cd AS (SELECT label AS cl, dim, round(avg(x), 6) AS c
                FROM d GROUP BY label, dim),
         dist AS (SELECT vec_id, floor(dim * 8 / nd)::INT AS sub, cl,
                    sum((x - c) * (x - c)) AS dist
                  FROM d JOIN cd USING (dim)
                  GROUP BY vec_id, floor(dim * 8 / nd)::INT, cl),
         codes AS (SELECT vec_id AS neighbor_id, sub, cl AS code FROM (
                     SELECT vec_id, sub, cl, row_number() OVER
                       (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
                     FROM dist) WHERE rn = 1),
         qq AS (SELECT vec_id AS query_id, len(embedding) AS nd,
                 unnest(embedding::DOUBLE[]) AS qx,
                 unnest(range(0, len(embedding))) AS dim
               FROM embeddings WHERE vec_id < 5),
         qt AS (SELECT query_id, floor(dim * 8 / nd)::INT AS sub, cl AS code,
                  sum((qx - c) * (qx - c)) AS qd
                FROM qq JOIN cd USING (dim)
                GROUP BY query_id, floor(dim * 8 / nd)::INT, cl),
         adc AS (SELECT query_id, neighbor_id, sum(qd) AS adc
                 FROM codes JOIN qt USING (sub, code)
                 GROUP BY query_id, neighbor_id),
         ap5 AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
                   FROM adc) WHERE rank <= 5),
         exq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5),
         exc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id >= 5),
         exs AS (SELECT query_id, neighbor_id, $CosSql AS cos
                 FROM exc CROSS JOIN exq),
         ex5 AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id, row_number() OVER
                     (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                   FROM exs) WHERE rank <= 5),
         hits AS (SELECT query_id, count(*) AS n_hits
                  FROM ap5 JOIN ex5 USING (query_id, neighbor_id)
                  GROUP BY query_id)
         SELECT q2.query_id,
           round(coalesce(n_hits, 0)::DOUBLE / 5.0, 4) AS recall
         FROM (SELECT DISTINCT query_id FROM ex5) q2
         LEFT JOIN hits USING (query_id)
         ORDER BY query_id""",
    "e14_knn_ivf_pq" ->
      // e04's IVF cell restriction composed with e12's ADC scoring: the
      // shared per-(label,dim) mean table serves as both the coarse
      // centroids and the PQ codebooks
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE vec_id >= 5),
         cd0 AS (SELECT label, dim, round(avg(x), 6) AS c
                 FROM (SELECT label, unnest(v) AS x,
                         unnest(range(0, len(v))) AS dim FROM e)
                 GROUP BY label, dim),
         cent AS (SELECT label, list(c ORDER BY dim) AS ct FROM cd0 GROUP BY label),
         corpus AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
         assign AS (SELECT cell, neighbor_id FROM (
             SELECT ct2.label AS cell, c.neighbor_id,
               row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
                 list_inner_product(c.cv, ct2.ct)
                   / (sqrt(list_inner_product(c.cv, c.cv))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM corpus c CROSS JOIN cent ct2) WHERE rn = 1),
         q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
         probe AS (SELECT cell, query_id FROM (
             SELECT ct2.label AS cell, q0.query_id,
               row_number() OVER (PARTITION BY q0.query_id ORDER BY
                 list_inner_product(q0.qv, ct2.ct)
                   / (sqrt(list_inner_product(q0.qv, q0.qv))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM q0 CROSS JOIN cent ct2) WHERE rn <= 3),
         cand AS (SELECT query_id, neighbor_id FROM assign JOIN probe USING (cell)),
         cdm AS (SELECT label AS cl, dim, c FROM cd0),
         d AS (SELECT vec_id, label, len(v) AS nd, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim FROM e),
         dist AS (SELECT vec_id, floor(dim * 8 / nd)::INT AS sub, cl,
                    sum((x - c) * (x - c)) AS dist
                  FROM d JOIN cdm USING (dim)
                  GROUP BY vec_id, floor(dim * 8 / nd)::INT, cl),
         codes AS (SELECT vec_id AS neighbor_id, sub, cl AS code FROM (
                     SELECT vec_id, sub, cl, row_number() OVER
                       (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
                     FROM dist) WHERE rn = 1),
         qq AS (SELECT vec_id AS query_id, len(embedding) AS nd,
                 unnest(embedding::DOUBLE[]) AS qx,
                 unnest(range(0, len(embedding))) AS dim
               FROM embeddings WHERE vec_id < 5),
         qt AS (SELECT query_id, floor(dim * 8 / nd)::INT AS sub, cl AS code,
                  sum((qx - c) * (qx - c)) AS qd
                FROM qq JOIN cdm USING (dim)
                GROUP BY query_id, floor(dim * 8 / nd)::INT, cl),
         adc AS (SELECT query_id, neighbor_id, sum(qd) AS adc
                 FROM cand JOIN codes USING (neighbor_id)
                 JOIN qt USING (query_id, sub, code)
                 GROUP BY query_id, neighbor_id),
         r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
                 (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
               FROM adc)
         SELECT query_id, rank, neighbor_id, round(adc, 4) AS adc
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "e12_knn_pq_adc" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE vec_id >= 5),
         d AS (SELECT vec_id, label, len(v) AS nd, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim FROM e),
         cd AS (SELECT label AS cl, dim, round(avg(x), 6) AS c
                FROM d GROUP BY label, dim),
         dist AS (SELECT vec_id, floor(dim * 8 / nd)::INT AS sub, cl,
                    sum((x - c) * (x - c)) AS dist
                  FROM d JOIN cd USING (dim)
                  GROUP BY vec_id, floor(dim * 8 / nd)::INT, cl),
         codes AS (SELECT vec_id AS neighbor_id, sub, cl AS code FROM (
                     SELECT vec_id, sub, cl, row_number() OVER
                       (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
                     FROM dist) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, len(embedding) AS nd,
                 unnest(embedding::DOUBLE[]) AS qx,
                 unnest(range(0, len(embedding))) AS dim
               FROM embeddings WHERE vec_id < 5),
         qt AS (SELECT query_id, floor(dim * 8 / nd)::INT AS sub, cl AS code,
                  sum((qx - c) * (qx - c)) AS qd
                FROM q JOIN cd USING (dim)
                GROUP BY query_id, floor(dim * 8 / nd)::INT, cl),
         adc AS (SELECT query_id, neighbor_id, sum(qd) AS adc
                 FROM codes JOIN qt USING (sub, code)
                 GROUP BY query_id, neighbor_id),
         r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
                 (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
               FROM adc)
         SELECT query_id, rank, neighbor_id, round(adc, 4) AS adc
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "e23_bq_hamming" ->
      // two 32-bit sign-packed halves per vector (DuckDB << refuses
      // shift 63), Hamming shortlist of 20 (ham asc, id asc — the
      // graft_top_k tie rule), exact cosine re-rank
      s"""WITH pk AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         codes AS (SELECT vec_id,
             list_sum(list_transform(range(32), i ->
               CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS h1,
             list_sum(list_transform(range(32), i ->
               CASE WHEN v[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS h2
           FROM pk),
         q AS (SELECT vec_id AS query_id, h1 AS qh1, h2 AS qh2
               FROM codes WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, h1 AS ch1, h2 AS ch2
               FROM codes WHERE vec_id >= 5),
         ham AS (SELECT query_id, neighbor_id,
             bit_count(xor(qh1, ch1)) + bit_count(xor(qh2, ch2)) AS ham
           FROM q CROSS JOIN c),
         short AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rn
             FROM ham) WHERE rn <= 20),
         qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
         cvs AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id >= 5),
         rr AS (SELECT s2.query_id, s2.neighbor_id, $CosSql AS cos
                FROM short s2 JOIN qv USING (query_id)
                JOIN cvs USING (neighbor_id)),
         fin AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                 FROM rr)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM fin WHERE rank <= 5 ORDER BY query_id, rank""",
    "e21_adc_refine" ->
      // e12's ADC pipeline widened to a top-20 shortlist, then exact
      // cosine over the shortlist decides the final top-5
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
                    WHERE vec_id >= 5),
         d AS (SELECT vec_id, label, len(v) AS nd, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim FROM e),
         cd AS (SELECT label AS cl, dim, round(avg(x), 6) AS c
                FROM d GROUP BY label, dim),
         dist AS (SELECT vec_id, floor(dim * 8 / nd)::INT AS sub, cl,
                    sum((x - c) * (x - c)) AS dist
                  FROM d JOIN cd USING (dim)
                  GROUP BY vec_id, floor(dim * 8 / nd)::INT, cl),
         codes AS (SELECT vec_id AS neighbor_id, sub, cl AS code FROM (
                     SELECT vec_id, sub, cl, row_number() OVER
                       (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
                     FROM dist) WHERE rn = 1),
         qrows AS (SELECT vec_id AS query_id, len(embedding) AS nd,
                 unnest(embedding::DOUBLE[]) AS qx,
                 unnest(range(0, len(embedding))) AS dim
               FROM embeddings WHERE vec_id < 5),
         qt AS (SELECT query_id, floor(dim * 8 / nd)::INT AS sub, cl AS code,
                  sum((qx - c) * (qx - c)) AS qd
                FROM qrows JOIN cd USING (dim)
                GROUP BY query_id, floor(dim * 8 / nd)::INT, cl),
         adc AS (SELECT query_id, neighbor_id, sum(qd) AS adc
                 FROM codes JOIN qt USING (sub, code)
                 GROUP BY query_id, neighbor_id),
         short AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id, row_number() OVER
                       (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
                     FROM adc) WHERE rank <= 20),
         qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
         cvs AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id >= 5),
         rr AS (SELECT s2.query_id, s2.neighbor_id, $CosSql AS cos
                FROM short s2 JOIN qv USING (query_id)
                JOIN cvs USING (neighbor_id)),
         fin AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                   (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                 FROM rr)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM fin WHERE rank <= 5 ORDER BY query_id, rank""",
    "e11_product_quantize" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         d AS (SELECT vec_id, label, len(v) AS nd, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim FROM e),
         cd AS (SELECT label AS cl, dim, round(avg(x), 6) AS c
                FROM d GROUP BY label, dim),
         dist AS (SELECT vec_id, floor(dim * 8 / nd)::INT AS sub, cl,
                    sum((x - c) * (x - c)) AS dist
                  FROM d JOIN cd USING (dim)
                  GROUP BY vec_id, floor(dim * 8 / nd)::INT, cl),
         best AS (SELECT vec_id, sub, cl, dist, row_number() OVER
                    (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn FROM dist)
         SELECT vec_id, sub, cl AS code, round(dist, 4) AS sub_err
         FROM best WHERE rn = 1 ORDER BY vec_id, sub""",
    "e09_kmeans_step" ->
      """WITH cd AS (SELECT label, dim, round(avg(x), 6) AS c
             FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
                     unnest(range(0, len(embedding))) AS dim FROM embeddings)
             GROUP BY label, dim),
         cent AS (SELECT label, list(c ORDER BY dim) AS ct FROM cd GROUP BY label),
         v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         assign AS (SELECT cell, vec_id, v FROM (
             SELECT ct2.label AS cell, e.vec_id, e.v,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_inner_product(e.v, ct2.ct)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM v e CROSS JOIN cent ct2) WHERE rn = 1),
         bd AS (SELECT cell, dim, sum(x) AS sx, count(*) AS n FROM
                (SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS dim
                 FROM assign)
                GROUP BY cell, dim),
         c6 AS (SELECT cell, dim, round(sx / n, 6) AS c6, n FROM bd)
         SELECT cell, round(sqrt(sum(c6 * c6)), 4) AS centroid_norm,
                max(n) AS n_vectors
         FROM c6 GROUP BY cell ORDER BY cell""",
    "d18_minhash_estimate" ->
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                   FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         est AS (SELECT doc_a, doc_b,
                   round(CAST(list_sum(list_transform(range(1, 9), i ->
                     CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) AS DOUBLE)
                     / 8.0, 4) AS est_jaccard
                 FROM pairs
                 JOIN sig sa ON sa.doc_id = doc_a
                 JOIN sig sb ON sb.doc_id = doc_b),
         kept AS (SELECT * FROM est WHERE est_jaccard >= 0.25)
         SELECT k.doc_a, k.doc_b, k.est_jaccard,
           round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE), 4)
             AS jaccard
         FROM kept k
         JOIN sig ta ON ta.doc_id = k.doc_a
         JOIN sig tb ON tb.doc_id = k.doc_b
         ORDER BY doc_a, doc_b""",
    "d17_curation_pipeline" ->
      s"""WITH f AS (SELECT doc_id, text, lang,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', ' ', 'g')),
                                   '\\s+', ' ', 'g'))) AS fp
         FROM documents),
         r AS (SELECT doc_id, text, lang, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM f),
         d AS (SELECT doc_id, text, lang FROM r WHERE rn = 1),
         t AS (SELECT doc_id, text, lang,
                 string_split_regex(trim(text), '\\s+') AS tk FROM d),
         m AS (SELECT doc_id, text, lang, tk,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CAST(len(list_filter(tk, x -> x IN ($enList))) AS DOUBLE) AS stop_cnt,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS DOUBLE) AS punct_cnt
             FROM t),
         qs AS (SELECT doc_id, text, lang, tk, round(
             (CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
             + least(stop_cnt / ntok * 2.0, 1.0) * 0.4
             + (1.0 - least(punct_cnt / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2,
             4) AS quality
           FROM m),
         lp AS (SELECT doc_id, lang, quality, CASE
             WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
             WHEN len(list_filter(tk, x -> x IN ($esList))) >
                  len(list_filter(tk, x -> x IN ($enList))) THEN 'es'
             ELSE 'en' END AS lang_pred
           FROM qs)
         SELECT doc_id, lang, quality FROM lp
         WHERE quality >= 0.5 AND lang_pred = lang ORDER BY doc_id""",
    "e08_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, round($CosSql, 4) AS cos
               FROM c CROSS JOIN q)
         SELECT query_id, neighbor_id, cos FROM s
         WHERE cos >= 0.3 ORDER BY query_id, neighbor_id""",
    "e06_knn_topk_agg" ->
      // exact kNN — same oracle as e01: the custom aggregate changes the
      // physical plan, not the result
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, $CosSql AS cos FROM c CROSS JOIN q),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "s16_stream_near_dup" ->
      // same LSH math as d07/d47; the pairing rule is the stream's:
      // doc_b earlier (id order = the synthetic time order) and within
      // the 500 s horizon (= 500 ids), whole-input bucket cap
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         kept AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk)
                  WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                     a.toks AS toks_a, b2.toks AS toks_b
                   FROM kept a JOIN kept b2 ON a.band = b2.band
                   WHERE b2.doc_id < a.doc_id AND a.doc_id - b2.doc_id <= 500)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d52_hash_split" ->
      // same md5 60-bit-prefix bucket as the sampling family (d21/d49)
      """WITH s AS (SELECT doc_id, n_chars,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS b
           FROM documents),
         t AS (SELECT doc_id, n_chars,
             CASE WHEN b < 800 THEN 'train'
                  WHEN b < 900 THEN 'val' ELSE 'test' END AS split FROM s)
         SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM t GROUP BY split ORDER BY split""",
    "d53_split_leakage" ->
      // d07's banded near-dup pairs, kept only when the two sides
      // landed in DIFFERENT d52 splits
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                     a.toks AS toks_a, b2.toks AS toks_b
                   FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         tag AS (SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 < 800
                  THEN 'train'
                  WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 < 900
                  THEN 'val' ELSE 'test' END AS split
           FROM documents)
         SELECT doc_a, doc_b, ta.split AS split_a, tb.split AS split_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs JOIN tag ta ON pairs.doc_a = ta.doc_id
                    JOIN tag tb ON pairs.doc_b = tb.doc_id
         WHERE ta.split != tb.split
           AND CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "s18_indexed_stream_dedup" ->
      // two screened micro-batches against the persistent index: batch
      // 1 (%3==1) probes generation 0; batch 2 (%3==2) probes
      // generations 0+1 — each generation bucket-capped within its own
      // ingest batch, the write-time capping d51 pins
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         g0 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 0) WHERE bn <= 1000),
         g1 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 1) WHERE bn <= 1000),
         g2 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 2) WHERE bn <= 1000),
         p1 AS (SELECT DISTINCT a.doc_id AS doc_a, i.doc_id AS doc_b,
                  a.toks AS toks_a, i.toks AS toks_b, 1 AS batch_id
                FROM g1 a JOIN g0 i ON a.band = i.band),
         p2 AS (SELECT DISTINCT a.doc_id AS doc_a, i.doc_id AS doc_b,
                  a.toks AS toks_a, i.toks AS toks_b, 2 AS batch_id
                FROM g2 a JOIN (SELECT band, doc_id, toks FROM g0
                                UNION ALL SELECT band, doc_id, toks FROM g1) i
                  ON a.band = i.band),
         u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard,
           CAST(batch_id AS BIGINT) AS batch_id
         FROM u
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d51_lsh_index" ->
      // the persistent-index probe: same LSH math as d47, but the index
      // side is two GENERATIONS (build %3==0, append %3==1) each
      // bucket-capped within its own ingest batch — exactly what the
      // per-batch write-time capping produces — probed by %3==2
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         g0 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 0) WHERE bn <= 1000),
         g1 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 1) WHERE bn <= 1000),
         nw AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 2) WHERE bn <= 1000),
         idx AS (SELECT band, doc_id, toks FROM g0
                 UNION ALL SELECT band, doc_id, toks FROM g1),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, i.doc_id AS doc_b,
                     a.toks AS toks_a, i.toks AS toks_b
                   FROM nw a JOIN idx i ON a.band = i.band)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d55_lsh_retract" ->
      // d51's two-generation index with the retraction lifecycle: the
      // per-generation bucket caps (write-time) apply FIRST, then the
      // removed ids (%7==0) drop out of the index side — deletion
      // removes stored rows, it never re-runs capping; compaction is a
      // pure fold and contributes nothing the oracle could see. The
      // probe side is untouched (removal only hits the index tables).
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         g0 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 0) WHERE bn <= 1000),
         g1 AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 1) WHERE bn <= 1000),
         nw AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 3 = 2) WHERE bn <= 1000),
         idx AS (SELECT band, doc_id, toks FROM g0 WHERE doc_id % 7 <> 0
                 UNION ALL SELECT band, doc_id, toks FROM g1 WHERE doc_id % 7 <> 0),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, i.doc_id AS doc_b,
                     a.toks AS toks_a, i.toks AS toks_b
                   FROM nw a JOIN idx i ON a.band = i.band)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d47_incr_near_dup" ->
      // d07's pipeline with the band join restricted to incoming(%5==0)
      // × history(%5!=0); each side carries its own bucket cap
      s"""WITH t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         nw AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 5 = 0) WHERE bn <= 1000),
         ol AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk
                  WHERE doc_id % 5 <> 0) WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                     a.toks AS toks_a, b2.toks AS toks_b
                   FROM nw a JOIN ol b2 ON a.band = b2.band)
         SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 4)
             AS jaccard
         FROM pairs
         WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d48_cms_heavy_hitters" ->
      // the estimate is engine-specific, so the oracle checks the exact
      // top-k plus TRUE for the guarantee flag (the d34 pattern)
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                    FROM documents)
         SELECT term, count(*) AS n_exact, TRUE AS cms_ok
         FROM t GROUP BY term
         ORDER BY n_exact DESC, term LIMIT 20""",
    "d49_weighted_sample" ->
      // identical A-ES key formula on both sides: u from md5 60-bit
      // prefix, key = u^(1/w) rounded 6dp (w <= 0 floored to 1,
      // fractional weights pass through), doc_id tie-break
      """WITH t AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS w
           FROM documents),
         s AS (SELECT doc_id, w,
             round(pow(
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5)
                 / 1152921504606846976.0,
               1.0 / (CASE WHEN w <= 0 THEN 1 ELSE w END)::DOUBLE), 6) AS skey
           FROM t)
         SELECT doc_id, w, skey FROM s
         ORDER BY skey DESC, doc_id LIMIT 100""",
    "e20_metric_battery" ->
      // three rankings over one scored cross join; negl2 mirrors the
      // zip-fold (qv[i]-cv[i])^2 ordered sum exactly
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         sc AS (SELECT query_id, neighbor_id,
             $CosSql AS cos,
             list_inner_product(qv, cv) AS dot,
             -sqrt(list_sum(list_transform(range(1, len(qv) + 1),
               i -> (qv[i] - cv[i]) * (qv[i] - cv[i])))) AS negl2
           FROM c CROSS JOIN q),
         u AS (SELECT query_id, neighbor_id, 'cos' AS metric, cos AS score FROM sc
               UNION ALL
               SELECT query_id, neighbor_id, 'dot', dot FROM sc
               UNION ALL
               SELECT query_id, neighbor_id, 'negl2', negl2 FROM sc),
         r AS (SELECT metric, query_id, neighbor_id, score, row_number() OVER
                 (PARTITION BY query_id, metric
                  ORDER BY score DESC, neighbor_id) AS rank FROM u)
         SELECT metric, query_id, rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank <= 5 ORDER BY metric, query_id, rank""",
    "m07_crossmodal_dedup" ->
      """WITH u AS (
           SELECT doc_id, 'text/plain' AS modality, md5(text) AS fp
           FROM documents
           UNION ALL
           SELECT doc_id, 'video/transcript', md5(text) FROM documents
           WHERE doc_id % 3 = 0)
         SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_items,
           array_to_string(list_sort(list_distinct(list(modality))), ',')
             AS modalities
         FROM u GROUP BY fp ORDER BY fp""",
    "d46_dup_ngram_spans" ->
      // distinct 60-bit md5 gram hashes per doc (mirror of
      // shingleMd5Longs n=5), df >= 2 marks a corpus-repeated span
      s"""WITH t AS ($ToksCte),
         g0 AS (SELECT doc_id, list_transform(range(1, len(tk) - 3), i ->
                  array_to_string(list_slice(tk, i, i + 4), ' ')) AS gs
                FROM t WHERE len(tk) >= 5),
         gu AS (SELECT doc_id, unnest(gs) AS g FROM g0),
         gr AS (SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM gu),
         d AS (SELECT h FROM gr GROUP BY h HAVING count(*) >= 2),
         pd AS (SELECT doc_id, count(*) AS n_grams FROM gr GROUP BY doc_id),
         ht AS (SELECT doc_id, count(*) AS n_dup FROM gr JOIN d USING (h)
                GROUP BY doc_id)
         SELECT pd.doc_id, n_grams, coalesce(n_dup, 0) AS n_dup,
           round(coalesce(n_dup, 0)::DOUBLE / n_grams::DOUBLE, 4) AS dup_frac
         FROM pd LEFT JOIN ht ON pd.doc_id = ht.doc_id
         ORDER BY pd.doc_id""",
    "d54_substring_dedup" ->
      // exact-substring removal: occurrences of corpus-duplicated
      // 5-gram spans (count >= 2) keep only the lexicographically
      // first (doc_id, pos) owner; every covered token position of a
      // non-owner occurrence is removed and the text rebuilt from the
      // survivors (mirror of Dedup.exactSubstringDedup)
      s"""WITH t AS (SELECT doc_id,
           string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         o0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
                FROM t WHERE len(tk) >= 5),
         oh AS (SELECT doc_id, i - 1 AS pos,
                  ('0x' || substr(md5(array_to_string(
                     list_slice(tk, i, i + 4), ' ')), 1, 15))::BIGINT AS h
                FROM o0),
         w AS (SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY h) AS c,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM oh),
         f0 AS (SELECT doc_id, pos, unnest(range(0, 5)) AS j
                FROM w WHERE c >= 2 AND rn > 1),
         rem AS (SELECT DISTINCT doc_id, pos + j AS p FROM f0),
         nr AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
         k0 AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t),
         k AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok FROM k0),
         kk AS (SELECT k.doc_id, k.p, k.tok
                FROM k LEFT JOIN rem ON k.doc_id = rem.doc_id AND k.p = rem.p
                WHERE rem.p IS NULL),
         txt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_deduped
                 FROM kk GROUP BY doc_id)
         SELECT t.doc_id, len(t.tk) AS n_tokens,
           coalesce(nr.n_removed, 0) AS n_removed,
           coalesce(txt.text_deduped, '') AS text_deduped
         FROM t LEFT JOIN nr ON t.doc_id = nr.doc_id
                LEFT JOIN txt ON t.doc_id = txt.doc_id
         ORDER BY t.doc_id""",
    "e18_hybrid_rrf" ->
      // BM25 list and cosine list computed exactly like d27/e01 (over
      // the doc_id/vec_id >= 5 corpus, query vector 0), ranks fused by
      // 1/(60+rank); absent-list ranks report 0 and contribute nothing
      s"""WITH t AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\\s+')) AS term
           FROM documents WHERE doc_id >= 5),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                WHERE term IN ('table', 'query', 'spark') GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         len AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM len),
         sc AS (SELECT doc_id,
             ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0)
               * (tf::DOUBLE * (1.2 + 1.0))
               / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) AS s
           FROM tf JOIN dfq USING (term) JOIN len USING (doc_id) CROSS JOIN stats),
         bm AS (SELECT doc_id, round(sum(s), 4) AS bm25 FROM sc GROUP BY doc_id
                ORDER BY bm25 DESC, doc_id LIMIT 50),
         lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
                 FROM bm),
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         s2 AS (SELECT doc_id, $CosSql AS cos FROM c CROSS JOIN q),
         vr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
                FROM s2 QUALIFY vec_rank <= 50),
         f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                 coalesce(1.0 / (60 + l.lex_rank), 0.0)
                   + coalesce(1.0 / (60 + v.vec_rank), 0.0) AS rrf,
                 coalesce(l.lex_rank, 0) AS lex_rank,
                 coalesce(v.vec_rank, 0) AS vec_rank
               FROM lex l FULL OUTER JOIN vr v ON l.doc_id = v.doc_id
               ORDER BY rrf DESC, coalesce(l.doc_id, v.doc_id) LIMIT 10)
         SELECT doc_id, round(rrf, 6) AS rrf, lex_rank, vec_rank
         FROM f ORDER BY round(rrf, 6) DESC, doc_id""",
    "e01_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, $CosSql AS cos FROM c CROSS JOIN q),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "d13_rolling_fp" ->
      // same byte-wise fold: list_reduce over the payload's hex pairs,
      // seeded with 0 via list_prepend (empty text folds to 0 on both sides)
      """SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
           list_transform(range(1, octet_length(encode(text)) + 1),
             i -> ('0x' || substr(hex(encode(text)), (i*2-1)::INT, 2))::BIGINT)),
           (h, c) -> (h * 31 + c) % 2147483648) AS rh
         FROM documents ORDER BY doc_id""",
    "d16_char_ngram_near_dup" ->
      """WITH nm AS (SELECT doc_id,
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
         hx AS (SELECT doc_id, hex(encode(norm)) AS h,
                  octet_length(encode(norm)) AS L FROM nm),
         gh AS (SELECT doc_id, CASE WHEN L >= 5
                  THEN list_transform(range(1, L - 3), i ->
                    ('0x' || substr(h, (i*2-1)::INT, 2))::BIGINT * 4362470401
                    + ('0x' || substr(h, (i*2+1)::INT, 2))::BIGINT * 16974593
                    + ('0x' || substr(h, (i*2+3)::INT, 2))::BIGINT * 66049
                    + ('0x' || substr(h, (i*2+5)::INT, 2))::BIGINT * 257
                    + ('0x' || substr(h, (i*2+7)::INT, 2))::BIGINT)
                  ELSE [] END AS hs FROM hx),
         sig AS (SELECT doc_id, list_transform(range(0, 32), i ->
                   list_min(list_transform(hs, h ->
                     ((h % 2147483647) * (2*i+1) + i*40503) % 2147483647))) AS sg
                 FROM gh WHERE len(hs) >= 1),
         b AS (SELECT doc_id, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id,
                  bi::VARCHAR || '_' || sg[bi*8+1]::VARCHAR || '_' || sg[bi*8+2]::VARCHAR || '_' || sg[bi*8+3]::VARCHAR || '_' || sg[bi*8+4]::VARCHAR || '_' || sg[bi*8+5]::VARCHAR || '_' || sg[bi*8+6]::VARCHAR || '_' || sg[bi*8+7]::VARCHAR || '_' || sg[bi*8+8]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 100),
         pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                   FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         dg AS (SELECT doc_id, list_distinct(hs) AS toks FROM gh),
         j AS (SELECT doc_a, doc_b,
                 CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE)
                   AS jaccard
               FROM pairs
               JOIN dg ta ON ta.doc_id = doc_a
               JOIN dg tb ON tb.doc_id = doc_b)
         SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
         FROM j WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""",
    "d15_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id, source,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\s]', ' ', 'g')),
                                   '\s+', ' ', 'g'))) AS fp
         FROM documents),
         hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 = 0),
         inc AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
         fresh AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM hist)),
         r AS (SELECT doc_id, source, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM fresh)
         SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id""",
    "d50_bloom_incr_dedup" ->
      // the bloom is a pruning detail, invisible to the result: the
      // oracle is d15's exact incremental dedup with the %4 split
      """WITH fp AS (SELECT doc_id, source,
           md5(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9\s]', ' ', 'g')),
                                   '\s+', ' ', 'g'))) AS fp
         FROM documents),
         hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 = 0),
         inc AS (SELECT * FROM fp WHERE doc_id % 4 <> 0),
         fresh AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM hist)),
         r AS (SELECT doc_id, source, row_number() OVER
                 (PARTITION BY fp ORDER BY doc_id) AS rn FROM fresh)
         SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id""",
    "d14_bpe_tokens" ->
      // same pattern, single-quotes doubled for the SQL literal
      """SELECT doc_id,
         len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
           AS n_bpe_tokens,
         len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens
         FROM documents ORDER BY doc_id""",
    "d12_embed_near_dup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         bk AS (
           SELECT vec_id, '0:' || ${bucketSql("v", 6, 0)} AS bucket FROM e
           UNION ALL
           SELECT vec_id, '1:' || ${bucketSql("v", 6, 6)} AS bucket FROM e),
         pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM bk a JOIN bk b
                     ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM e),
         u AS (SELECT vec_id, list_transform(v, x -> x / nv) AS uv FROM n),
         j AS (SELECT vec_a, vec_b,
                 round(list_inner_product(ua.uv, ub.uv), 4) AS cos
               FROM pairs
               JOIN u ua ON ua.vec_id = vec_a
               JOIN u ub ON ub.vec_id = vec_b)
         SELECT vec_a, vec_b, cos FROM j WHERE cos >= 0.4
         ORDER BY vec_a, vec_b""",
    "e05_knn_multiprobe" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                     ${bucketSql("(embedding::DOUBLE[])", 6)} AS b0
                     FROM embeddings WHERE vec_id < 5),
         qp AS (SELECT query_id, qv, unnest(${probesSql("b0", 6)}) AS bucket FROM q),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               ${bucketSql("(embedding::DOUBLE[])", 6)} AS bucket
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, $CosSql AS cos
               FROM c JOIN qp ON c.bucket = qp.bucket),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "m10_perceptual_dedup" ->
      // bit-for-bit dHash re-derivation from the closed-form raster:
      // pixel (x,y) = (id*31 + x*7 + y*13) % 256, cells cx = x*9//w,
      // cy = y*8//h, bit = left-cell-brighter compared in exact integer
      // cross-multiplication (sum_a*n_b > sum_b*n_a)
      """WITH dims AS (SELECT doc_id, (8 + doc_id % 9)::INT AS w,
               (8 + (doc_id*7) % 9)::INT AS h FROM documents),
         px AS (SELECT d.doc_id, d.w, d.h, x.x, y.y,
                  (d.doc_id*31 + x.x*7 + y.y*13) % 256 AS v
                FROM dims d
                  JOIN (SELECT unnest(range(0,16)) AS x) x ON x.x < d.w
                  JOIN (SELECT unnest(range(0,16)) AS y) y ON y.y < d.h),
         cells AS (SELECT doc_id, (y*8)//h AS cy, (x*9)//w AS cx,
                     sum(v) AS s, count(*) AS n
                   FROM px GROUP BY doc_id, (y*8)//h, (x*9)//w),
         bits AS (SELECT a.doc_id, a.cy, a.cx,
                    CASE WHEN a.s * b.n > b.s * a.n THEN '1' ELSE '0' END AS bit
                  FROM cells a JOIN cells b
                    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1),
         ph AS (SELECT doc_id, string_agg(bit, '' ORDER BY cy, cx) AS phash
                FROM bits GROUP BY doc_id)
         SELECT phash, count(*) AS n,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM ph GROUP BY phash HAVING count(*) > 1 ORDER BY phash""",
    "m12_video_fingerprint" ->
      // m09's closed-form weighted frame sums over 8 frames, then
      // delta-sign bits and equal-fingerprint grouping (7 bits/video
      // over 300 videos → pigeonhole guarantees groups)
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
         fx AS (SELECT doc_id, r.range AS fno FROM ids CROSS JOIN range(0, 8) r),
         px AS (SELECT doc_id, fno, x.range AS x, y.range AS y
                FROM fx CROSS JOIN range(0, 15) x CROSS JOIN range(0, 12) y),
         f AS (SELECT doc_id, fno,
                 sum(((doc_id*31 + x*7 + y*13 + fno*17) % 256) * (x + 2*y)) AS wsum
               FROM px GROUP BY doc_id, fno),
         bits AS (SELECT a.doc_id, a.fno,
                    CASE WHEN b.wsum > a.wsum THEN '1' ELSE '0' END AS bit
                  FROM f a JOIN f b
                    ON a.doc_id = b.doc_id AND b.fno = a.fno + 1),
         fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY fno) AS afp
                FROM bits GROUP BY doc_id)
         SELECT afp, count(*) AS n,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM fp GROUP BY afp HAVING count(*) > 1 ORDER BY afp""",
    "m09_video_frames" ->
      // the engine round-trips REAL AVI bytes (container demux, DIB
      // rows); the oracle replays pix(id,f,x,y) = (id*31+x*7+y*13+f*17)
      // % 256 weighted by (x + 2y) over the 15x12 grid
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
         f AS (SELECT doc_id, r.range AS fno FROM ids CROSS JOIN range(0, 3) r),
         px AS (SELECT doc_id, fno, x.range AS x, y.range AS y
                FROM f CROSS JOIN range(0, 15) x CROSS JOIN range(0, 12) y)
         SELECT doc_id, fno AS frame_no,
           CAST(15 AS BIGINT) AS w, CAST(12 AS BIGINT) AS h,
           CAST(sum(((doc_id*31 + x*7 + y*13 + fno*17) % 256) * (x + 2*y))
                AS BIGINT) AS wsum
         FROM px GROUP BY doc_id, fno ORDER BY doc_id, frame_no""",
    "m11_audio_fingerprint" ->
      // m08's closed-form frame sums, then delta-sign bits ordered by
      // frame and equal fingerprints grouped (7 bits/doc → pigeonhole
      // guarantees groups at any sf)
      """WITH p AS (SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS dec
             FROM documents WHERE doc_id < 500),
         s AS (SELECT p.doc_id, r.range AS i, p.dec
             FROM p CROSS JOIN range(0, 960) r
             WHERE r.range < 480 * p.dec AND r.range % p.dec = 0),
         a AS (SELECT doc_id, dec, CAST(i / dec AS BIGINT) AS j,
               abs((doc_id * 31 + i * 17) % 2048 - 1024) AS amp
             FROM s),
         f AS (SELECT doc_id, CAST(j // 60 AS BIGINT) AS frame_no,
               sum(amp) AS sum_abs
             FROM a GROUP BY doc_id, j // 60),
         bits AS (SELECT x.doc_id, x.frame_no,
               CASE WHEN y.sum_abs > x.sum_abs THEN '1' ELSE '0' END AS bit
             FROM f x JOIN f y
               ON x.doc_id = y.doc_id AND y.frame_no = x.frame_no + 1),
         fp AS (SELECT doc_id, string_agg(bit, '' ORDER BY frame_no) AS afp
             FROM bits GROUP BY doc_id)
         SELECT afp, count(*) AS n,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM fp GROUP BY afp HAVING count(*) > 1 ORDER BY afp""",
    "m08_audio_frames" ->
      // the engine round-trips REAL RIFF/WAVE bytes (chunk walk, PCM16
      // little-endian, decimation to 8 kHz); the oracle replays the
      // closed-form sample amp(id,i) = (id*31 + i*17) % 2048 - 1024
      // over the original sample index i = j*dec and sums |amp| per
      // 60-decimated-sample frame
      """WITH p AS (SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS dec
             FROM documents WHERE doc_id < 500),
         s AS (SELECT p.doc_id, r.range AS i, p.dec
             FROM p CROSS JOIN range(0, 960) r
             WHERE r.range < 480 * p.dec AND r.range % p.dec = 0),
         a AS (SELECT doc_id, dec, CAST(i / dec AS BIGINT) AS j,
               abs((doc_id * 31 + i * 17) % 2048 - 1024) AS amp
             FROM s)
         SELECT doc_id, CAST(j // 60 AS BIGINT) AS frame_no,
             CAST(8000 * max(dec) AS BIGINT) AS src_rate,
             count(*) AS n, CAST(sum(amp) AS BIGINT) AS sum_abs
         FROM a GROUP BY doc_id, j // 60
         ORDER BY doc_id, frame_no""",
    "m04_resize_pool" ->
      // the engine round-trips REAL PNG bytes (imageio encode → decode →
      // 2x2 average pool); the oracle derives the same pixels in closed
      // form — pixel(x,y) = (doc_id*31 + x*7 + y*13) % 256, dims
      // (8 + id%9, 8 + id*7%9) — and rebuilds the pooled bytes as hex
      """WITH dims AS (SELECT doc_id, (8 + doc_id % 9)::INT AS w,
               (8 + (doc_id*7) % 9)::INT AS h FROM documents),
         grid AS (SELECT a.bx, b.by FROM (SELECT unnest(range(0,8)) AS bx) a,
                  (SELECT unnest(range(0,8)) AS by) b),
         sub AS (SELECT a.dx, b.dy FROM (SELECT unnest(range(0,2)) AS dx) a,
                 (SELECT unnest(range(0,2)) AS dy) b),
         blocks AS (
           SELECT d.doc_id, d.w, d.h, g.bx, g.by,
             sum((d.doc_id*31 + (g.bx*2+s.dx)*7 + (g.by*2+s.dy)*13) % 256) AS bs
           FROM dims d JOIN grid g ON g.bx < d.w//2 AND g.by < d.h//2
                CROSS JOIN sub s
           GROUP BY 1,2,3,4,5),
         px AS (
           SELECT doc_id, w, h, w//2 AS ow, h//2 AS oh,
             array_to_string(list(lpad(upper(hex(bs//4)), 2, '0')
               ORDER BY by, bx), '') AS r_hex
           FROM blocks GROUP BY 1,2,3,4,5)
         SELECT doc_id, w::BIGINT AS in_w, h::BIGINT AS in_h,
           ow::BIGINT AS out_w, oh::BIGINT AS out_h, r_hex
         FROM px ORDER BY doc_id""",
    "e02_knn_lsh" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                     ${bucketSql("(embedding::DOUBLE[])", 6)} AS bucket
                     FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               ${bucketSql("(embedding::DOUBLE[])", 6)} AS bucket
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, $CosSql AS cos
               FROM c JOIN q ON c.bucket = q.bucket),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "e04_knn_ivf" ->
      s"""WITH cd AS (SELECT label, dim, round(avg(x), 6) AS c
               FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
                       unnest(range(0, len(embedding))) AS dim
                     FROM embeddings WHERE vec_id >= 5)
               GROUP BY label, dim),
         cent AS (SELECT label, list(c ORDER BY dim) AS ct FROM cd GROUP BY label),
         corpus AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id >= 5),
         assign AS (SELECT cell, neighbor_id, cv FROM (
             SELECT ct2.label AS cell, c.neighbor_id, c.cv,
               row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
                 list_inner_product(c.cv, ct2.ct)
                   / (sqrt(list_inner_product(c.cv, c.cv))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM corpus c CROSS JOIN cent ct2) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         probe AS (SELECT cell, query_id, qv FROM (
             SELECT ct2.label AS cell, q.query_id, q.qv,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_inner_product(q.qv, ct2.ct)
                   / (sqrt(list_inner_product(q.qv, q.qv))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM q CROSS JOIN cent ct2) WHERE rn <= 3),
         s AS (SELECT query_id, neighbor_id, $CosSql AS cos
               FROM assign a JOIN probe p USING (cell)),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "e03_label_centroids" ->
      """WITH e AS (SELECT label, unnest(embedding)::DOUBLE AS x,
                    unnest(range(0, len(embedding))) AS dim FROM embeddings),
         d AS (SELECT label, dim, sum(x) AS sx, count(*) AS n FROM e GROUP BY label, dim)
         SELECT label, round(sqrt(sum(sx/n * (sx/n))), 4) AS centroid_norm,
                max(n) AS n_vectors
         FROM d GROUP BY label ORDER BY label""",
    "m05_embed_patches" ->
      // 16x16 PNG → 4x4 patch means (multiples of 1/16, exact in
      // doubles) → integer projection (j*5+k*3)%7-3 → one final /7.0;
      // the only inexact step is that last division, so both engines
      // agree bit-for-bit before the 4dp round
      """WITH pk AS (SELECT unnest(range(0,16)) AS k),
         sub AS (SELECT a.dx, b.dy FROM (SELECT unnest(range(0,4)) AS dx) a,
                 (SELECT unnest(range(0,4)) AS dy) b),
         pm AS (
           SELECT d.doc_id, pk.k,
             sum((d.doc_id*31 + ((pk.k%4)*4+s.dx)*7 + ((pk.k//4)*4+s.dy)*13) % 256)
               AS psum
           FROM documents d CROSS JOIN pk CROSS JOIN sub s
           GROUP BY 1,2),
         f AS (
           SELECT doc_id, j.j AS dim,
             round(sum(((j.j*5 + k*3) % 7 - 3) * (psum/16.0)) / 7.0, 4) AS feat
           FROM pm, (SELECT unnest(range(0,4)) AS j) j
           GROUP BY 1,2)
         SELECT doc_id, dim::INT AS dim, feat FROM f ORDER BY doc_id, dim""",
    "m01_multimodal_pack" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
         substr(text, 1, 8) AS head,
         octet_length(encode(text)) = length(text) AS is_ascii
         FROM documents ORDER BY doc_id""",
    "m03_segment_sample" ->
      // documents are pure ASCII (verified) so byte slices == char slices
      """SELECT doc_id, substr(text, 3, 10) AS seg,
         length(substr(text, 3, 10)) AS seg_len,
         md5(substr(text, 1, 16)) AS head_md5
         FROM documents ORDER BY doc_id""",
    "m02_multimodal_decode" ->
      // the engine decodes REAL PNG bytes (imageio); the oracle derives
      // the same raster in closed form — dims (8 + id%9, 8 + id*7%9),
      // pixel(x,y) = (doc_id*31 + x*7 + y*13) % 256, luma = pixel mean
      """WITH dims AS (SELECT doc_id, (8 + doc_id % 9)::INT AS w,
               (8 + (doc_id*7) % 9)::INT AS h FROM documents),
         px AS (
           SELECT d.doc_id, d.w, d.h,
             sum((d.doc_id*31 + x.x*7 + y.y*13) % 256) AS s, count(*) AS n
           FROM dims d
             JOIN (SELECT unnest(range(0,16)) AS x) x ON x.x < d.w
             JOIN (SELECT unnest(range(0,16)) AS y) y ON y.y < d.h
           GROUP BY 1,2,3)
         SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
           round(s::DOUBLE / n, 4) AS mean_luma
         FROM px ORDER BY doc_id""",
    "d40_semantic_dedup" ->
      """WITH cd AS (SELECT label, dim, round(avg(x), 6) AS c
             FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
                     unnest(range(0, len(embedding))) AS dim FROM embeddings)
             GROUP BY label, dim),
         cent AS (SELECT label, list(c ORDER BY dim) AS ct FROM cd GROUP BY label),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         assign AS (SELECT cell, vec_id, v FROM (
             SELECT ct2.label AS cell, e.vec_id, e.v,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_inner_product(e.v, ct2.ct)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(ct2.ct, ct2.ct))) DESC,
                 ct2.label) AS rn
             FROM e CROSS JOIN cent ct2) WHERE rn = 1),
         p AS (SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(b.v, b.v))), 4) AS cos
               FROM assign a JOIN assign b ON a.cell = b.cell
                 AND a.vec_id < b.vec_id)
         SELECT cell, vec_a, vec_b, cos FROM p WHERE cos >= 0.4
         ORDER BY vec_a, vec_b""",
    "d41_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         c AS (SELECT doc_id, tk,
                 unnest(range(0, (len(tk)-1)//24 + 1)) AS chunk_id FROM t),
         sl AS (SELECT doc_id, chunk_id,
                  list_slice(tk, chunk_id*24 + 1,
                    least(chunk_id*24 + 32, len(tk))) AS ch FROM c)
         SELECT doc_id, chunk_id, len(ch) AS n_tokens,
           md5(array_to_string(ch, ' ')) AS chunk_md5
         FROM sl ORDER BY doc_id, chunk_id""",
    "d42_pii_scrub" ->
      """WITH a AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@mail.example.com code '
             || (doc_id*7919 % 10000) AS t FROM documents),
         r AS (SELECT doc_id, t,
           regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]*[a-z]', '<EMAIL>', 'g') AS t1
           FROM a)
         SELECT doc_id,
           len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]*[a-z]')) AS n_emails,
           len(regexp_extract_all(t1, '[0-9]{3,}')) AS n_nums,
           md5(regexp_replace(t1, '[0-9]{3,}', '<NUM>', 'g')) AS redacted_md5
         FROM r ORDER BY doc_id""",
    "d43_dataset_card" ->
      """WITH d AS (SELECT source, lang,
             len(string_split_regex(trim(text), '\s+')) AS ntok FROM documents),
         b AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS total_tokens,
                 round(avg(ntok::DOUBLE), 4) AS avg_tokens,
                 quantile_cont(ntok, 0.5) AS p50_tokens,
                 count(DISTINCT lang) AS n_langs
               FROM d GROUP BY source),
         tl AS (SELECT source, lang AS top_lang FROM (
                 SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                     ORDER BY count(*) DESC, lang) AS rn
                 FROM d GROUP BY source, lang) WHERE rn = 1),
         t AS (SELECT CAST(sum(ntok) AS BIGINT) AS corpus_tokens FROM d)
         SELECT source, n_docs, total_tokens, avg_tokens, p50_tokens, n_langs,
           top_lang,
           round(total_tokens::DOUBLE / corpus_tokens::DOUBLE, 4) AS token_share
         FROM b JOIN tl USING (source) CROSS JOIN t ORDER BY source""",
    "e15_mips_norm_prune" ->
      // plain brute force: the engine's norm-bound prune is SOUND, so
      // pruned top-k must equal the exhaustive answer exactly
      """WITH c AS (SELECT vec_id AS neighbor_id,
             list_transform(embedding::DOUBLE[],
               x -> x * ((1 + vec_id % 16)*(1 + vec_id % 16))::DOUBLE) AS cv
           FROM embeddings WHERE vec_id >= 5),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         s AS (SELECT query_id, neighbor_id, list_inner_product(qv, cv) AS dot
               FROM c CROSS JOIN q),
         r AS (SELECT query_id, neighbor_id, dot, row_number() OVER
                 (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
               FROM s)
         SELECT query_id, rank, neighbor_id, round(dot, 4) AS dot
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "m06_frame_manifest" ->
      // ASCII corpus (verified): byte slices of the packed payload ==
      // char slices of the text
      """WITH f AS (SELECT doc_id, text,
           unnest(range(0, (length(text)-1)//16 + 1)) AS frame_no
           FROM documents)
         SELECT doc_id, frame_no, frame_no*16 AS byte_offset,
           least(16, length(text) - frame_no*16) AS frame_len,
           md5(substr(text, (frame_no*16 + 1)::INT, 16)) AS frame_md5
         FROM f ORDER BY doc_id, frame_no""",
    "d44_bigram_loss" ->
      s"""WITH t AS ($ToksCte),
         u AS (SELECT unnest(tk) AS w FROM t),
         uc AS (SELECT w, count(*) AS cw FROM u GROUP BY w),
         tot AS (SELECT count(*) AS t_total FROM u),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
                FROM t WHERE len(tk) >= 2),
         bp AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
         bc AS (SELECT w1, w2, count(*) AS cb FROM bp GROUP BY w1, w2)
         SELECT doc_id, round(
             -sum(ln(0.7 * cb::DOUBLE / c1.cw::DOUBLE
                     + 0.3 * c2.cw::DOUBLE / t_total::DOUBLE))
               / count(*), 4) AS nll
         FROM bp
         JOIN bc USING (w1, w2)
         JOIN uc c1 ON c1.w = bp.w1
         JOIN uc c2 ON c2.w = bp.w2
         CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",
    "e17_filtered_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label
               FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, q.label AS label, $CosSql AS cos
               FROM c JOIN q USING (label)),
         r AS (SELECT query_id, neighbor_id, label, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM s)
         SELECT query_id, rank, neighbor_id, label, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "d45_cluster_reps" ->
      // d19's recursive closure + d02's quality formula: per cluster,
      // the highest-quality member (ties → lowest doc_id) and the size
      s"""WITH RECURSIVE t AS ($ToksCte),
         sh AS (SELECT doc_id, list_distinct(tk) AS toks, $Shingles3 AS shingles
                FROM t WHERE len(tk) >= 3),
         hsh AS (SELECT doc_id, toks, $ShingleHashes AS hs FROM sh),
         sig AS (SELECT doc_id, toks, $Sketch8 AS sg FROM hsh),
         b AS (SELECT doc_id, toks, unnest(range(0, 4)) AS bi, sg FROM sig),
         bk AS (SELECT doc_id, toks,
                  bi::VARCHAR || '_' || sg[bi*2+1]::VARCHAR || '_'
                    || sg[bi*2+2]::VARCHAR AS band FROM b),
         ok AS (SELECT * FROM (SELECT band, doc_id, toks,
                  count(*) OVER (PARTITION BY band) AS bn FROM bk) WHERE bn <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                    a.toks AS toks_a, b2.toks AS toks_b
                  FROM ok a JOIN ok b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
         e AS (SELECT doc_a, doc_b FROM cand
               WHERE CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE)
                 >= 0.5),
         eb AS (SELECT doc_a AS src, doc_b AS dst FROM e
                UNION ALL SELECT doc_b, doc_a FROM e),
         n AS (SELECT DISTINCT src AS doc_id FROM eb),
         r AS (SELECT doc_id, doc_id AS cluster FROM n
               UNION
               SELECT eb.src AS doc_id, r.cluster FROM r JOIN eb ON eb.dst = r.doc_id),
         cl AS (SELECT doc_id, min(cluster) AS cluster FROM r GROUP BY doc_id),
         qm AS (SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS tk2 FROM documents),
         qs AS (SELECT doc_id, round(
             (CASE WHEN CAST(len(tk2) AS DOUBLE) BETWEEN 5 AND 1000
                THEN 1.0 ELSE 0.0 END) * 0.4
             + least(CAST(len(list_filter(tk2, x -> x IN ($enList))) AS DOUBLE)
                 / CAST(len(tk2) AS DOUBLE) * 2.0, 1.0) * 0.4
             + (1.0 - least(CAST(length(text) - length(regexp_replace(text,
                 '[.,!?;:]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2,
             4) AS quality
           FROM qm),
         j AS (SELECT cluster, cl.doc_id AS doc_id, quality,
                 row_number() OVER (PARTITION BY cluster
                   ORDER BY quality DESC, cl.doc_id) AS rn,
                 count(*) OVER (PARTITION BY cluster) AS n_members
               FROM cl JOIN qs ON qs.doc_id = cl.doc_id)
         SELECT cluster, doc_id AS rep_doc, quality, n_members
         FROM j WHERE rn = 1 ORDER BY cluster""",
    "e16_matryoshka_rerank" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
               list_slice(embedding::DOUBLE[], 1, 16) AS qp
             FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
               list_slice(embedding::DOUBLE[], 1, 16) AS cp
             FROM embeddings WHERE vec_id >= 5),
         s AS (SELECT query_id, neighbor_id, qv, cv,
                 round(list_inner_product(qp, cp)
                   / (sqrt(list_inner_product(qp, qp))
                      * sqrt(list_inner_product(cp, cp))), 6) AS cos_p
               FROM c CROSS JOIN q),
         sl AS (SELECT query_id, neighbor_id, qv, cv, row_number() OVER
                  (PARTITION BY query_id ORDER BY cos_p DESC, neighbor_id) AS rn
                FROM s),
         rr AS (SELECT query_id, neighbor_id, $CosSql AS cos
                FROM sl WHERE rn <= 20),
         r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
                 (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM rr)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  )
}
