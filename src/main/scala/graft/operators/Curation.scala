package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * sampling, distribution-based quality filtering, and per-document
  * salient-term extraction. All pure column/agg pipelines — no UDFs, no
  * driver-side loops — built so their decisions are reproducible by an
  * external SQL engine (the DuckDB oracle) bit-for-bit.
  */
object Curation {

  /** The shared 60-bit md5-prefix core both [[hashBucket]] and
    * [[hashUniform]] derive from (15 hex chars fit a long exactly; one
    * definition so the cross-engine-parity formula cannot split). */
  private def md5Prefix60(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** Deterministic hash bucket of an id in [0, buckets): the md5-based
    * stand-in for `rand()` that makes a sample reproducible across runs,
    * engines, and cluster topologies (a `rand()` sample is none of
    * those). */
  def hashBucket(id: Column, buckets: Int): Column =
    md5Prefix60(id) % buckets

  /** Deterministic train/val/test assignment by md5 hash bucket — the
    * reproducible split every training pipeline needs: stable across
    * engines, runs and cluster topologies, and appending new data never
    * reassigns an existing id (the properties `rand()`/`randomSplit`
    * lack). One map-side projection over the shared 1000-bucket space —
    * no shuffle, no count pass. Defaults: 800/100/100 permille. */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      valPermille: Int = 100,
      testPermille: Int = 100): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille < 1000,
      s"val+test permille must leave room for train, got $valPermille+$testPermille")
    val b = hashBucket(col(idCol), 1000)
    df.withColumn("split",
      when(b < lit(1000 - valPermille - testPermille), lit("train"))
        .when(b < lit(1000 - testPermille), lit("val"))
        .otherwise(lit("test")))
  }

  /** Stratified deterministic sample: per-stratum keep-rates in permille,
    * applied map-side — no shuffle, no count pass, no rand(). The usual
    * rebalancing pass (downsample the over-represented language / source
    * before training). Rates are a Seq, not a Map, so the generated
    * when-chain is deterministic. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      ratesPermille: Seq[(String, Int)],
      defaultPermille: Int = 0): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, permille)) =>
        when(col(stratumCol) === stratum, lit(permille)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 1000) < rate)
  }

  /** Rows whose `valueCol` sits in the top (1-q) fraction of the corpus
    * distribution — "keep the top decile by quality score".
    *
    * Scale shape: the quantile boundary is computed from a VALUE
    * HISTOGRAM, not a global sort of the corpus: `valueCol` is a rounded
    * score with bounded cardinality (≤ ~10^4 distinct values at 4dp), so
    * the groupBy collapses the corpus to a tiny frame, the cumulative
    * window runs over distinct values only (the unpartitioned window is
    * deliberate and safe at that size), and rows rejoin by value through
    * a broadcast. A `percent_rank` window straight over the corpus would
    * funnel 100 TB through one sort partition. */
  def topFractionByValue(df: DataFrame, valueCol: String, q: Double): DataFrame = {
    val hist = df.groupBy(valueCol).agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col(valueCol)).rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__cum_lt", coalesce(sum("__cnt").over(w), lit(0L)))
      .withColumn("__total", sum("__cnt").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      // int/int double division: IEEE-deterministic across engines
      .filter(col("__cum_lt").cast("double") / col("__total").cast("double") >= q)
      .select(col(valueCol))
    df.join(broadcast(cum), Seq(valueCol))
  }

  /** Within-document repetition statistics over word shingles — the
    * Gopher-style repetition filters (duplicate n-gram fraction, most-
    * common n-gram fraction) that catch degenerate boilerplate no
    * cross-document dedup sees. One explode + two key aggs per corpus
    * pass; ratios are int/int double divisions (engine-exact). */
  def repetitionStats(docs: DataFrame, n: Int = 3, textCol: String = "text"): DataFrame = {
    val hashes = docs
      .withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"), explode(shingleMd5Longs(col("__toks"), n, 15)).as("h"))
    hashes
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("total"), count(lit(1)).as("n_distinct"),
        max("cnt").as("top"))
      .select(
        col("doc_id"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("total").cast("double"), 4)
          .as("dup_ratio"),
        round(col("top").cast("double") / col("total").cast("double"), 4)
          .as("top_ratio"))
  }

  /** BM25 retrieval scoring (Lucene idf form) of the corpus against a
    * fixed query-term set — the lexical-retrieval side of training-data
    * search (e.g. "find documents about X to upweight"). Top-k by the
    * 4dp-ROUNDED score with doc_id tie-break so the cut is reproducible.
    *
    * Scale shape: one corpus explode feeds tf / df / doc-length aggs
    * (staged once, three compact key-shuffles); per-term scores join on
    * doc_id and the 2-value corpus stats broadcast. Only docs containing
    * a query term survive past the tf filter, so the scoring join is
    * output-sized, not corpus-sized. */
  def bm25TopDocs(
      docs: DataFrame,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val len = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = len.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    Dedup.releasing(
      tf.join(dfq, Seq("term"))
        .join(len, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("s",
          log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
            / (col("df").cast("double") + 0.5) + 1.0)
            * (col("tf").cast("double") * lit(k1 + 1.0))
            / (col("tf").cast("double")
              + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum("s"), 4).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(k),
      toks)
  }

  /** Hybrid retrieval by reciprocal-rank fusion: fuse a BM25 lexical
    * top-`kIn` list with an embedding-cosine top-`kIn` list as
    * `rrf(d) = Σ_lists 1/(rrfK + rank_list(d))` (Cormack et al.'s RRF —
    * the standard score-free fusion for RAG retrieval, robust because it
    * never compares raw scores across modalities). A doc missing from
    * one list contributes only the other term (rank reported as 0).
    *
    * Scale shape: each ranking is its own top-k plan (BM25: token
    * explode + two aggs; vector: broadcast-query corpus scan), and the
    * fusion is a full-outer join of two k-row lists — driver-trivial
    * regardless of corpus size. Ranks are taken over the ROUNDED bm25
    * (4dp) and raw per-row cosine, both deterministic across engines. */
  def hybridRrf(
      docs: DataFrame,
      queryVec: DataFrame,
      corpusVecs: DataFrame,
      terms: Seq[String],
      kIn: Int = 50,
      kOut: Int = 10,
      rrfK: Int = 60): DataFrame = {
    val lex = bm25TopDocs(docs, terms, kIn)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(desc("bm25"), col("doc_id"))).cast("long"))
      .select("doc_id", "lex_rank")
    val vec = Similarity.bruteKnn(queryVec, corpusVecs, kIn)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("vec_rank"))
    val invRank = (r: Column) =>
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")), lit(0.0))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", invRank(col("lex_rank")) + invRank(col("vec_rank")))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(kOut)
      .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
  }

  /** Per-document unigram language-model score: average negative
    * log-likelihood per token under the corpus unigram distribution —
    * the SQL-expressible proxy for the LM-perplexity quality filter
    * (docs full of rare tokens score high, boilerplate scores low;
    * filter both tails). A real pipeline swaps the unigram table for a
    * trained LM; the plan shape is identical.
    *
    * Scale shape: the exploded token frame is STAGED (persisted) once —
    * it has three consumers (the corpus-total agg, the term-count agg
    * and the scoring join's probe side), and without the stage each one
    * re-runs the full tokenize+explode over the corpus text (Catalyst
    * plans common subtrees per consumer). Term frequency is a
    * groupBy(term).count on the staged frame JOINED back by term — the
    * same integer as r21's count window, but Zipf-safe: the agg's
    * map-side partials collapse the hot term per partition before the
    * shuffle, and the join's hot probe partition is AQE-skew-splittable
    * where a WindowExec partition is not (r22 zipf ladder: the window's
    * worst-stage skew grew 1.0 → 1.8 over one decade on a ~6%-hot-token
    * corpus and wall-trailed the join shape at both rungs; at design
    * scale the hot term's window partition is the slowest-task wall).
    * The corpus token total is a 1-row broadcast. */
  def unigramLogLoss(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = toks.agg(count(lit(1)).as("__t_total"))
    val ctf = toks.groupBy("term").agg(count(lit(1)).as("ctf"))
    Dedup.releasing(
      toks
        .join(ctf, Seq("term"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(
          (lit(-1.0) * sum(log(col("ctf").cast("double") / col("__t_total").cast("double"))))
            / count(lit(1)).cast("double"), 4).as("nll")),
      toks)
  }

  /** Top TF-IDF term per document: `tf × ln(N / df)` with the rank taken
    * over the 4dp-ROUNDED score (ties broken by term) so the ordering is
    * reproducible by an engine whose `ln` differs in the last ulp.
    *
    * Scale shape: explode → one key-shuffled agg (term counts per doc),
    * STAGED (persisted) once for its two consumers — the df aggregate
    * and the scoring join's probe side (the r21 window computed both in
    * one pass, but its term-partitioned WindowExec is the skew trap; the
    * stage keeps the tokenize/explode/agg subtree planned ONCE, which is
    * what the window rewrite was for — r21 `Probe <sf> stages`: the duplicated
    * subtree was ~85% of the query's task time). df per term ≡ count of
    * tf rows with that term via groupBy(term).count joined back — the
    * identical integer, Zipf-safe (map-side partials collapse the hot
    * term; the join is AQE-skew-splittable, a window partition is not —
    * r22 zipf ladder). The corpus size N is a 1-row agg broadcast into
    * the projection. Both shuffles are on compact keys, text never
    * moves after the explode; the remaining window partitions by doc_id
    * (bounded by a document's distinct terms — no corpus-hot key). */
  def topTfidfTermPerDoc(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    Dedup.releasing(
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          col("tf").cast("double") *
            log(col("__n_docs").cast("double") / col("df").cast("double")), 4))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf")),
      tf)
  }

  /** Sequence packing: concatenate the corpus in doc_id order and chunk
    * it into fixed `budget`-token training sequences, reporting for each
    * document its global token offset and the sequence ids it spans —
    * the concat-and-chunk packing every LM pretraining run does.
    *
    * Scale shape: the global running offset is a DISTRIBUTED two-phase
    * prefix sum, never one unpartitioned window over the corpus. Docs
    * are range-sharded on doc_id (`shardWidth` ids per shard); phase 1
    * is a within-shard cumulative window (partitioned — parallel),
    * phase 2 computes per-shard totals (shard-count-sized frame), takes
    * their exclusive cumsum with a window over that tiny frame, and
    * broadcasts the shard base offsets back. At 100 TB the only
    * unpartitioned window runs over K shard rows. */
  def packSequences(
      docs: DataFrame,
      budget: Int,
      shardWidth: Long,
      textCol: String = "text",
      nTokensCol: Option[String] = None,
      carryCols: Seq[String] = Nil): DataFrame = {
    // `nTokensCol`: a PRE-COMPUTED token count — composed pipelines
    // (d35) already tokenized every surviving doc for the quality gate,
    // so re-running the regex split here would be a second full pass
    // over the corpus text. `carryCols`: payload columns riding the
    // shard windows unchanged, so a composed caller doesn't need a
    // post-pack join back to the corpus (the join's other side would
    // re-plan the whole upstream pipeline — Catalyst has no common
    // subtree reuse across differently-projected consumers).
    val nTok = nTokensCol.map(c => col(c).cast("long"))
      .getOrElse(size(tokens(col(textCol))).cast("long"))
    val counted = docs
      .select(col("doc_id") +: nTok.as("n_tokens") +:
        floor(col("doc_id").cast("double") / shardWidth).cast("long").as("__shard") +:
        carryCols.map(col): _*)
    val inShard = Window.partitionBy("__shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = counted
      .withColumn("__local", coalesce(sum("n_tokens").over(inShard), lit(0L)))
    val shardBase = counted
      .groupBy("__shard").agg(sum("n_tokens").as("__tot"))
      .withColumn("__base", coalesce(
        sum("__tot").over(Window.orderBy("__shard").rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .select("__shard", "__base")
    withLocal.join(broadcast(shardBase), Seq("__shard"))
      .withColumn("tok_offset", col("__base") + col("__local"))
      .withColumn("first_seq",
        floor(col("tok_offset").cast("double") / budget).cast("long"))
      .withColumn("last_seq",
        floor((col("tok_offset") + greatest(col("n_tokens"), lit(1L)) - 1)
          .cast("double") / budget).cast("long"))
      .select(col("doc_id") +: col("n_tokens") +: col("tok_offset") +:
        col("first_seq") +: col("last_seq") +:
        (col("last_seq") - col("first_seq") + 1).as("n_seqs") +:
        carryCols.map(col): _*)
  }

  /** Global rank of `freq` rows by (`countCol` DESC, `termCol` ASC) —
    * the vocabulary ranking a Zipf fit needs — WITHOUT funnelling the
    * whole table through one unpartitioned window sort.
    *
    * Scale shape (the [[packSequences]] two-phase pattern, applied to a
    * rank): rows are sharded on (count, term-prefix) — a prefix is
    * order-preserving for the term tie-break, so shards are contiguous
    * ranges of the global sort order. Phase 1 ranks WITHIN each shard
    * (partitioned window — parallel, and the pathological tie group,
    * e.g. the hapax-legomena count=1 band of a 10^9-term vocabulary,
    * splits across prefix shards instead of one sort partition). Phase
    * 2 computes per-shard sizes (one key agg), takes their exclusive
    * cumsum with a window over that shard-count-sized frame, and
    * broadcasts the base offsets back. The only unpartitioned window
    * runs over distinct (count, prefix) pairs — collapsed cardinality,
    * never the vocabulary. */
  def globalFreqRank(
      freq: DataFrame,
      countCol: String = "n",
      termCol: String = "term",
      prefixLen: Int = 2): DataFrame = {
    // null terms shard into "" (the minimal string) and sort first within
    // it (asc = nulls first) — same global order the unpartitioned
    // row_number gave them, and the null-unsafe equi-join below cannot
    // silently drop them
    val sharded = freq.withColumn(
      "__pfx", coalesce(substring(col(termCol), 1, prefixLen), lit("")))
    val inShard = Window.partitionBy(col(countCol), col("__pfx")).orderBy(termCol)
    val withLocal = sharded
      .withColumn("__local", row_number().over(inShard).cast("long"))
    val shardBase = sharded
      .groupBy(col(countCol), col("__pfx")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__base", coalesce(
        sum("__cnt").over(Window.orderBy(desc(countCol), col("__pfx"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(countCol), col("__pfx"), col("__base"))
    withLocal.join(broadcast(shardBase), Seq(countCol, "__pfx"))
      .withColumn("rnk", col("__base") + col("__local"))
      .drop("__pfx", "__local")
  }

  /** Per-source document cap: rank documents within each source by
    * quality (desc, doc_id tie-break) and keep the best `cap` — the
    * per-domain cap a web-corpus pipeline applies so no single domain
    * dominates training (RefinedWeb-style). The rank runs over the
    * 4dp-ROUNDED quality score so the cut is engine-reproducible.
    *
    * Scale shape: the bounded `graft_top_k` aggregate, NOT a
    * source-partitioned window — a window must sort every row of a
    * source inside one partition, so one colossal source serializes on
    * one task at 100×; the aggregate reduces each map partition to a
    * k-heap per source before the shuffle, so the exchange carries
    * partitions×sources×cap entries regardless of how big a source
    * gets, and no full-source sort exists anywhere in the plan
    * (PlanShapeSpec pins d30/d35 window-free). */
  def perSourceCap(docs: DataFrame, cap: Int, textCol: String = "text"): DataFrame = {
    val scored = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col("doc_id"), col("source"),
        qualityScoreFromTokens(col(textCol), col("__toks")).as("quality"))
    scored
      .groupBy("source")
      .agg(graft.functions.VectorFunctions
        .topKByScore(col("quality"), col("doc_id"), cap).as("__top"))
      .select(col("source"), posexplode(col("__top")))
      .select(
        col("col.id").as("doc_id"), col("source"),
        col("col.score").as("quality"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Corpus vocabulary-growth curve: bucket documents by doc_id range
    * and count, per bucket, the word types whose FIRST corpus occurrence
    * falls in that bucket, plus the cumulative vocabulary size — the
    * saturation diagnostic that tells you when more data stops adding
    * new vocabulary.
    *
    * Scale shape: explode → min(doc_id) per word (one key shuffle that
    * also dedups) → bucket agg; the cumulative window runs over the
    * bucket frame only (corpus_ids / bucketWidth rows). */
  def vocabGrowth(docs: DataFrame, bucketWidth: Long, textCol: String = "text"): DataFrame = {
    val first = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(min("doc_id").as("__first_doc"))
    first
      .withColumn("bucket",
        floor(col("__first_doc").cast("double") / bucketWidth).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
      .withColumn("vocab_size",
        sum("new_types").over(Window.orderBy("bucket").rowsBetween(
          Window.unboundedPreceding, 0)))
  }

  /** Training-mixture reweighting: per-stratum token shares and the
    * sampling weight that moves the mixture toward equal stratum
    * shares — the static data-mixing step (DoReMi-style reweighting
    * with fixed target weights) run before epoch sampling. The weight
    * is `min(1, target_share / actual_share)`: over-represented strata
    * are downsampled, under-represented ones keep everything (a batch
    * sampler can't mint data it does not have).
    *
    * Scale shape: token counting is map-side per row; one agg keyed by
    * stratum; shares divide by a 1-row broadcast total. Output is
    * strata-sized. */
  def mixtureWeights(
      docs: DataFrame,
      stratumCol: String,
      textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col(stratumCol), size(tokens(col(textCol))).cast("long").as("__nt"))
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
    val totals = per.agg(sum("n_tokens").as("__total"),
      count(lit(1)).as("__n_strata"))
    per.crossJoin(broadcast(totals))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__total").cast("double"), 6)
          .as("share"),
        round(least(lit(1.0),
          (col("__total").cast("double") / col("__n_strata").cast("double"))
            / col("n_tokens").cast("double")), 6).as("weight"))
  }

  /** Per-document boilerplate ratio: the fraction of token occurrences
    * that are corpus-boilerplate words, where a word is boilerplate when
    * it appears in ≥ dfPermille‰ of documents. The integer cross-
    * multiplied threshold (`df × 1000 ≥ n_docs × permille`) keeps the
    * cut exact — no float document fraction to diverge on.
    *
    * Scale shape: one explode staged and reused for document frequency,
    * per-doc totals, and the boilerplate-hit count; the boilerplate
    * vocabulary (tiny by construction — words in most documents) and
    * the 1-row corpus count are broadcast. */
  def boilerplateRatio(
      docs: DataFrame,
      dfPermille: Int,
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("word"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val boiler = toks.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") * 1000 >= col("__n") * dfPermille)
      .select("word")
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val hits = toks.join(broadcast(boiler), Seq("word"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    Dedup.releasing(
      perDoc.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          round(coalesce(col("n_boiler"), lit(0L)).cast("double")
            / col("n_tokens").cast("double"), 4).as("boiler_ratio")),
      toks)
  }

  /** Interpolated bigram language-model score per document: the average
    * negative log of `λ·P(w2|w1) + (1−λ)·P(w2)` over the document's
    * bigrams, with MLE probabilities from corpus counts — the standard
    * next-word-predictability quality signal one notch above d24's
    * unigram loss (catches scrambled word salads that unigram stats
    * rate as fluent).
    *
    * Scale shape: the tokenized corpus is STAGED (persisted) once and
    * feeds both the unigram explode and the bigram expansion — without
    * the stage each consumer re-runs the regex tokenize over the corpus
    * text (the r21 plan tokenized 4×/expanded bigrams 2×); the expanded
    * pairs frame is staged too for ITS two consumers (the bigram-count
    * agg and the scoring joins' probe side), so the expansion also runs
    * once. The bigram count is `pairs.groupBy(w1,w2).count` joined back
    * — the same integer as r21's (w1,w2) count window, but Zipf-safe:
    * map-side partials collapse the hot bigram before the shuffle and
    * the join is AQE-skew-splittable where a WindowExec partition is
    * not (r22 zipf ladder). The corpus total is derived as sum(cw) over
    * the unigram table (identical to counting all tokens) so no extra
    * corpus pass remains. Both count aggs and the probability joins
    * shuffle compact word keys. All probabilities are integer-count
    * ratios (IEEE-deterministic); the final mean is rounded to 4dp
    * (the d24 precedent the oracle reproduces). */
  def bigramLogLoss(
      docs: DataFrame,
      lambda: Double = 0.7,
      textCol: String = "text"): DataFrame = {
    val staged = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col("doc_id"), col("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = staged.select(col("doc_id"), explode(col("__toks")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("cw"))
    val total = uni.agg(sum(col("cw")).as("__t_total"))
    val pairs = staged
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] AS w1, __toks[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    Dedup.releasing(
      pairs
        .join(cb, Seq("w1", "w2"))
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(
          (lit(-1.0) * sum(log(
            lit(lambda) * col("cb").cast("double") / col("c1").cast("double")
              + lit(1.0 - lambda) * col("c2").cast("double")
              / col("__t_total").cast("double"))))
            / count(lit(1)).cast("double"), 4).as("nll")),
      staged, pairs)
  }

  /** RAG-style chunking: fixed-size token windows with overlap. A
    * document with n tokens yields ⌈(n−overlap)/stride⌉ chunks at
    * starts 0, stride, 2·stride, …; each chunk carries its token count
    * and an md5 content fingerprint (the chunk-store key a retrieval
    * index would use).
    *
    * Scale shape: entirely map-side — stage the token array once, then
    * `sequence`+`explode` per document; no shuffle anywhere, output
    * partitioning inherits the scan. At 100 TB this runs as a pure
    * projection pipeline inside whole-stage codegen around the two
    * array kernels. */
  def chunkWithOverlap(
      docs: DataFrame,
      chunkSize: Int,
      stride: Int,
      textCol: String = "text"): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need 0 < stride <= chunkSize")
    docs
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      // last chunk starts at the largest multiple of stride < n
      // (Spark's `/` is double division — floor it back to an int id)
      .withColumn("chunk_id",
        explode(sequence(lit(0), floor((col("__n") - 1) / stride).cast("int"))))
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_id") * stride + 1, lit(chunkSize)))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_md5"))
  }

  /** PII scrubbing: redact email addresses and long digit runs, report
    * per-document hit counts and the redacted-content fingerprint. The
    * regexes are deliberately ASCII-character-class only so every regex
    * engine (Java here, RE2 in the oracle) agrees byte-for-byte.
    *
    * Scale shape: pure per-row projection — regex extraction and
    * replacement are map-side, nothing shuffles. The regex cost is the
    * scan cost; at 100 TB this is the same single-pass shape as any
    * quality scorer. */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[a-z0-9.]+@[a-z0-9.]*[a-z]"
    val numRun = "[0-9]{3,}"
    val redacted =
      regexp_replace(regexp_replace(col(textCol), email, "<EMAIL>"), numRun, "<NUM>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(email), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(
        regexp_replace(col(textCol), email, "<EMAIL>"), lit(numRun), lit(0)))
        .cast("long").as("n_nums"),
      md5(redacted).as("redacted_md5"))
  }

  /** Dataset-card summary: the per-source statistics block every corpus
    * release ships (doc/token counts, length distribution, dominant
    * language, corpus share). One grouped aggregation over a staged
    * token count plus a window for the dominant language — two shuffles
    * on the (tiny) source key, no row ever carries text past the first
    * projection.
    *
    * Exact-percentile note: `percentile` on integer token counts is
    * deterministic and equals DuckDB's `quantile_cont` (proved by q25). */
  def datasetCard(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val perDoc = docs.select(
      col("source"), col("lang"), tokenCount(col(textCol)).as("__ntok"))
    val bySource = perDoc
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok").cast("long")).as("total_tokens"),
        round(avg(col("__ntok").cast("double")), 4).as("avg_tokens"),
        expr("percentile(__ntok, 0.5)").as("p50_tokens"),
        countDistinct(col("lang")).as("n_langs"))
    val topLang = perDoc
      .groupBy("source", "lang").agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("source").orderBy(desc("__c"), col("lang"))))
      .filter(col("__rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    val total = perDoc.agg(sum(col("__ntok").cast("long")).as("__corpus_tokens"))
    bySource
      .join(topLang, Seq("source"))
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("total_tokens"), col("avg_tokens"),
        col("p50_tokens"), col("n_langs"), col("top_lang"),
        round(col("total_tokens").cast("double")
          / col("__corpus_tokens").cast("double"), 4).as("token_share"))
  }

  /** Deterministic uniform in (0, 1) from an id — the md5-based stand-in
    * for `rand()` (reproducible across runs, engines, topologies).
    * 15 hex chars = 60 bits; the +0.5 keeps the value strictly inside
    * (0, 1) so `pow(u, 1/w)` never sees an exact 0 or 1. */
  def hashUniform(id: Column): Column =
    (md5Prefix60(id).cast("double") + lit(0.5)) /
      lit(1152921504606846976.0) // 2^60

  /** Weighted sample WITHOUT replacement, deterministic: the
    * Efraimidis–Spirakis A-ES scheme — each row gets key `u^(1/w)` for a
    * deterministic uniform `u` and weight `w`, and the k largest keys
    * ARE a weight-proportional sample without replacement. The mixture-
    * construction primitive ("sample 100k docs proportional to length /
    * quality") with none of `rand()`'s irreproducibility.
    *
    * Scale shape: the key is one map-side projection; the k largest
    * rows plan as TakeOrderedAndProject (per-partition top-k, then a
    * k-sized merge on the driver) — no global sort, no shuffle of the
    * corpus. Keys are rounded to 6dp (cross-engine pow parity, the d23
    * rounding rule) with the id as tie-break, so the selected set is
    * identical in the oracle. Non-positive weights are floored to 1
    * rather than feeding `pow(u, inf)`; fractional weights in (0, 1)
    * pass through untouched (they are valid A-ES weights — a normalized
    * quality score samples proportionally, it must not collapse to
    * uniform). */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int): DataFrame = {
    val wd = col(weightCol).cast("double")
    // NULL must floor like non-positive: `wd <= 0` is null for null
    // weights, and a null key would push the row past every real key —
    // silently unsampleable instead of uniformly weighted
    val w = when(wd.isNull || wd <= 0, lit(1.0)).otherwise(wd)
    df.withColumn("skey",
        round(pow(hashUniform(col(idCol)), lit(1.0) / w), 6))
      .orderBy(desc("skey"), col(idCol))
      .limit(k)
  }

  /** Count–Min-sketch heavy hitters with an oracle-enforced error gate
    * (the d34 pattern: the estimate itself is engine-specific, so the
    * checked output is the exact count plus a guarantee flag the oracle
    * expects TRUE). For each of the k most frequent tokens: `n_exact`,
    * and `cms_ok` = the CMS guarantee held — the estimate never
    * undercounts, and overcounts by at most eps·N (N = total tokens).
    *
    * The overcount bound is PROBABILISTIC: CMS guarantees it only with
    * probability `confidence` (here 99%) — an adversarial corpus could
    * legitimately trip it. The gate is still deterministic per
    * (corpus, seed): the sketch's counters are sums, so partition
    * order can't change them, and the fixed seed pins the hash rows —
    * the fixture corpus was verified to sit inside the bound, so the
    * oracle's TRUE expectation is stable. Re-derive the seed if the
    * fixture corpus ever changes and the gate trips.
    *
    * Scale shape: the sketch is ONE pass with fixed-size state
    * (eps/confidence-bounded width×depth counters, map-side
    * combinable) — at 100 TB it is the only affordable frequency
    * estimate; the exact top-k side exists to power the gate (and is
    * itself a hash-agg + TakeOrdered, no sort of the corpus). The
    * driver materializes exactly one sketch row and k term rows —
    * metadata-sized, like the IVF probe list. */
  def cmsHeavyHitters(
      docs: DataFrame,
      textCol: String,
      k: Int,
      eps: Double = 0.001,
      confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // both the sketch pass and the exact gate consume the exploded
    // terms — cache between the two actions, release before returning
    // (at 100 TB you would keep ONLY the sketch pass; the exact side,
    // and thus this cache, exists to power the oracle gate)
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val skRow = toks.agg(
        count_min_sketch(col("term"), lit(eps), lit(confidence), lit(seed))
          .as("sketch"),
        count(lit(1)).as("total")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]](0)))
      val total = skRow.getLong(1)
      val topK = toks.groupBy("term").agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), col("term"))
        .limit(k)
        .collect()
      topK.toSeq.map { r =>
        val (term, exact) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(term)
        (term, exact, est >= exact && est <= exact + (eps * total).toLong)
      }.toDF("term", "n_exact", "cms_ok")
    } finally toks.unpersist(false)
  }
}
