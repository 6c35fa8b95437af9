package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level sampling and sequence-packing operators for training-data
  * pipelines. Beyond-reference extensions; both are deterministic (pure
  * functions of the data, no RNG state), so they are reproducible across
  * re-runs, cluster sizes, AND engines — each has an exact DuckDB oracle.
  *
  * Scale design:
  *  - hash-mod sampling is a stateless per-row predicate — embarrassingly
  *    parallel, pushes down past nothing it needs to (evaluates on the
  *    scan), no shuffle, no driver state. This is how production corpora
  *    downsample: by CONTENT identity, not row position, so the same
  *    document keeps the same fate when files are re-split or re-ordered.
  *  - token packing assigns documents to fixed-budget bins with ONE
  *    window pass per shard. Packing is inherently sequential, so the
  *    operator first shards by key-hash (parallelism = nShards — each
  *    shard's window is an independent partition, sized by the caller,
  *    never a single global reducer) and packs greedily within a shard
  *    in a deterministic key order.
  */
object Corpus {

  /** Deterministic MD5-derived bucket in [0, n): uniform, content-keyed,
    * engine-portable (DuckDB: `('0x' || substr(md5(key), 1, 8))::UBIGINT
    * % n`). The first 8 hex chars of md5 are an unbiased 32-bit uniform,
    * plenty for percent-level sampling rates. */
  def hashBucket(key: Column, n: Int): Column =
    (conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % n).cast("int")

  /** Keep ~k/n of rows, chosen by content hash of `key`. */
  def sampleHashMod(df: DataFrame, key: String, k: Int, n: Int): DataFrame =
    df.where(hashBucket(col(key), n) < k)

  /** Leakage-safe train/val/test split: the split is decided by the
    * md5 bucket of each document's near-dup CLUSTER representative
    * ([[Dedup.connectedComponents]] over the caller's similarity pairs),
    * not the document itself — so exact and near duplicates can NEVER
    * straddle splits. Splitting by per-doc hash leaks: a train doc's
    * near-duplicate in the test set inflates eval (the contamination
    * mechanism the decontamination operators exist to detect — this
    * operator prevents the intra-corpus form by construction).
    *
    * `splits` are (name, percent) in declaration order, summing to 100.
    * Docs in no pair are singleton clusters (their own representative).
    * Scale shape: the CC label map is one row per edge-participating
    * node; assignment is a left join + stateless md5 CASE — the corpus
    * shuffles once, on doc_id, for the join. */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      splits: Seq[(String, Int)],
      checkpointDir: Option[String] = None): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100 &&
      splits.forall(_._2 > 0), s"splits must be positive and sum to 100: $splits")
    val cc = Dedup.connectedComponents(pairs, aCol, bCol,
      checkpointDir = checkpointDir)
    val rep = docs.select(col(idCol).as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("canon_id"), col("doc_id")).as("rep"))
    val bucket = hashBucket(col("rep"), 100)
    val withCum = splits.scanLeft(("", 0)) {
      case ((_, acc), (n, p)) => (n, acc + p) }.tail
    val splitCol = withCum.init.reverse.foldLeft(lit(withCum.last._1): Column) {
      case (acc, (n, c)) => when(bucket < c, lit(n)).otherwise(acc)
    }
    rep.select(col("doc_id"), col("rep"), splitCol.as("split"))
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006, algorithm A-ES; public literature): each row gets
    * key = u^(1/w) with u a content-keyed md5 uniform in (0,1), and the k
    * LARGEST keys are exactly a weighted sample without replacement —
    * a row's inclusion probability is proportional to its weight among
    * the remaining rows at each draw. The quality-weighted downsample of
    * a training-mix pipeline ("keep 1M documents, prefer high-quality
    * ones") in one expression, reproducible across re-runs, cluster
    * layouts, and engines (no RNG state — u is a pure function of `key`).
    *
    * Scale shape: the key is a stateless per-row expression evaluated at
    * the scan; `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * per-partition top-k heaps merged on the driver, no global sort, no
    * shuffle of the corpus. The sort key is rounded to 6 decimals BEFORE
    * selection so a 1-ulp `pow` difference between libm implementations
    * cannot flip rank order near the cutoff; ties then break by `key`
    * column, deterministic in any engine. */
  def weightedSample(df: DataFrame, key: String, weight: Column, k: Int): DataFrame = {
    val u32 = conv(substring(md5(col(key).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double")
    val u = (u32 + lit(0.5)) / lit(4294967296.0)
    df.withColumn("samp_key",
        round(pow(u, lit(1.0) / weight.cast("double")), 6))
      .orderBy(col("samp_key").desc, col(key).asc)
      .limit(k)
  }

  /** Stratified hash-mod sampling: per-stratum keep rates out of `n`
    * (e.g. downsample the dominant language, keep the rest whole — the
    * rebalancing step of every training-mix pipeline). Same stateless
    * per-row predicate as [[sampleHashMod]]: no shuffle, no per-stratum
    * window/sort (a per-stratum exact-count quota would partition the
    * corpus by stratum — a handful of giant skewed partitions at 100 TB;
    * hash-mod holds each stratum's rate to ±O(1/√rows) with zero
    * coordination). Unlisted strata get `defaultRate`. */
  def sampleStratified(
      df: DataFrame,
      key: String,
      stratum: Column,
      rates: Seq[(String, Int)],
      defaultRate: Int,
      n: Int = 100): DataFrame = {
    val thr = rates.foldRight(lit(defaultRate): Column) { case ((s, r), acc) =>
      when(stratum === s, lit(r)).otherwise(acc) }
    df.where(hashBucket(col(key), n) < thr)
  }

  /** Temperature-scaled source rebalancing — the multilingual-mix step of
    * every large-scale LM corpus (sampling exponent alpha in (0, 1]):
    * source `i` with `n_i` documents keeps rate `(n_min / n_i)^(1-alpha)`,
    * so the smallest source is kept whole and larger sources are
    * downsampled toward uniform as alpha → 0 (alpha = 1 keeps everything —
    * the natural-distribution end of the dial).
    *
    * Scale shape: ONE partial-aggregated per-source count (result is
    * source-cardinality-sized, tiny), rates turned into integer hash
    * thresholds out of `n`, broadcast-joined back, then the same stateless
    * per-row [[hashBucket]] predicate as [[sampleHashMod]] — no shuffle of
    * the corpus, no per-source window, deterministic by content identity.
    *
    * alpha = 0.5 uses `sqrt` explicitly: IEEE-754 sqrt is correctly
    * rounded in every engine, so the integer thresholds — and therefore
    * the kept set — are bit-identical to the DuckDB oracle (general `pow`
    * is only faithfully rounded and may differ in the last ulp across
    * libms, which could flip a row sitting exactly on a threshold). */
  def temperatureSample(
      df: DataFrame,
      key: String,
      sourceCol: String,
      alpha: Double,
      n: Int = 1000000): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"need 0 < alpha <= 1, got $alpha")
    val counts = df.groupBy(col(sourceCol).as("_src"))
      .agg(count(lit(1)).as("_cnt"))
    // n_min via an unpartitioned window over the AGGREGATED per-source
    // rows (source-cardinality-sized, the corpus_mix_weights precedent) —
    // NOT a second aggregation from `counts`' lineage, which would rescan
    // and re-count the corpus
    val nMin = min(col("_cnt")).over(Window.partitionBy())
    val ratio = nMin.cast("double") / col("_cnt").cast("double")
    val rate =
      if (alpha == 0.5) sqrt(ratio)
      else pow(ratio, lit(1.0 - alpha))
    val thr = counts
      .select(col("_src"), floor(lit(n.toDouble) * rate).cast("long").as("_thr"))
    df.join(broadcast(thr), df(sourceCol) === thr("_src"), "inner")
      .where(hashBucket(col(key), n) < col("_thr"))
      .drop("_src", "_thr")
  }

  /** Greedy fixed-budget sequence packing, sharded for parallelism:
    * documents are sharded by content hash (`nShards`-way), ordered
    * deterministically by key within each shard, and assigned the bin id
    * `floor(running_tokens_before / budget)` — the streaming-friendly
    * approximation every large-scale pretokenization pipeline uses
    * (documents larger than the budget get bins to themselves plus
    * spillover, same as the oracle). Output: one row per document with
    * its (shard, bin, offset-in-bin). */
  def packTokenBudget(
      df: DataFrame,
      key: String,
      tokensCol: String,
      budget: Long,
      nShards: Int): DataFrame = {
    val shard = hashBucket(col(key), nShards).as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(key), col(tokensCol).as("n_tokens"), shard)
      .withColumn("tokens_through", sum(col("n_tokens")).over(w))
      .select(col(key), col("shard"), col("n_tokens"),
        ((col("tokens_through") - col("n_tokens")) / budget).cast("long").as("bin"),
        ((col("tokens_through") - col("n_tokens")) % budget).cast("long").as("bin_offset"))
  }

  /** Deterministic epoch shuffle: a seeded, content-keyed global training
    * order. Every data-parallel training run needs each epoch's document
    * order to be (a) uniformly shuffled, (b) different per epoch, and
    * (c) REPRODUCIBLE across re-runs, restarts, and cluster sizes — so
    * the permutation must be a pure function of (seed, key), never of
    * partition layout or RNG state. Sort key = md5(seed # key): a seeded
    * uniform hash both engines compute bit-identically.
    *
    * The global sort is a range-partitioned distributed sort (parallel at
    * any scale); the dense ordinal comes from
    * [[graft.operators.Joins.zipWithOrdinal]] (per-partition offsets, one
    * lightweight count job) — NOT a row_number window over the full
    * corpus, which would funnel every row through one reducer. */
  def epochShuffle(df: DataFrame, key: String, seed: Long): DataFrame = {
    val sk = md5(concat_ws("#", lit(seed.toString), col(key).cast("string")))
    val sorted = df.select(col(key), sk.as("sk"))
      .orderBy(col("sk"), col(key)) // key tie-break: total order
    graft.operators.Joins.zipWithOrdinal(sorted, "epoch_ord").drop("sk")
  }

  /** Deterministic weighted source interleaving (stride scheduling) — the
    * training-mixture ORDER step: given a per-row weight expression (one
    * value per source), emit a global order in which each source recurs
    * with frequency proportional to its weight, spread evenly rather than
    * in blocks. Each row's stride key is `(rank_in_source + 0.5) / w`
    * (the classic stride scheduler / Smith's virtual-time rule): source
    * rows land at virtual times 0.5/w, 1.5/w, … — a weight-2 source
    * appears twice as often, uniformly, not front-loaded. Pure function
    * of (data, weights): reproducible across engines and cluster layouts.
    *
    * Scale shape: the per-source rank is a window PARTITIONED by source —
    * parallelism = number of sources, so this fits the common
    * many-sources corpus; ONE dominant source would bound the stage by
    * its own size (then compute that source's rank separately via
    * [[graft.operators.Joins.zipWithOrdinal]] and union). The merge is a
    * range-partitioned sort plus the per-partition-offset ordinal — no
    * global window, no single reducer. */
  def interleaveByWeight(
      df: DataFrame,
      keyCol: String,
      srcCol: String,
      weight: Column,
      ordCol: String = "interleave_ord"): DataFrame = {
    val w = Window.partitionBy(col(srcCol)).orderBy(col(keyCol))
    val ranked = df
      .withColumn("src_rank", row_number().over(w) - 1)
      .withColumn("stride_key", (col("src_rank") + lit(0.5)) / weight)
    graft.operators.Joins.zipWithOrdinal(
        ranked.orderBy(col("stride_key"), col(keyCol)), ordCol)
      .drop("src_rank", "stride_key")
  }

  /** Balanced output sharding — the corpus WRITE step: assign each row to
    * one of `nShards` output shards so per-shard work (size, token count)
    * is near-equal. Rows are ranked by the caller's `order` (heaviest
    * first for size balance — the longest-processing-time heuristic) and
    * dealt round-robin: shard = rank % nShards. With a monotone weight
    * order, any two shards' totals differ by at most one heaviest-row
    * weight per dealing cycle — bounded imbalance with NO weight
    * accounting, no driver state, and a permutation any engine replays
    * exactly (the order must be total: tie-break on a unique key).
    *
    * Scale shape: one range-partitioned sort + the per-partition-offset
    * ordinal ([[graft.operators.Joins.zipWithOrdinal]]) — no global
    * window, no single reducer; the downstream writer does
    * `.repartition(col(shardCol))` and streams each shard out. */
  def shardBalanced(
      df: DataFrame,
      order: Seq[Column],
      nShards: Int,
      shardCol: String = "shard"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val ranked = graft.operators.Joins.zipWithOrdinal(
      df.orderBy(order: _*), "shard_ord")
    ranked.withColumn(shardCol, (col("shard_ord") % nShards).cast("int"))
      .drop("shard_ord")
  }

  /** Fixed-size token-window document chunking with overlap — the
    * context-window prep step of every RAG indexing and long-document
    * pretokenization pipeline: each document's token stream is cut into
    * windows of `chunkSize` tokens advancing by `chunkSize - overlap`
    * (so consecutive chunks share `overlap` tokens), the final window
    * keeping whatever remains.
    *
    * Pure per-row array arithmetic (`sequence` + `transform` + `slice`,
    * all codegen'd) — map-only, no shuffle, no state: chunking
    * parallelizes perfectly at any scale, and output order inside a
    * document is the deterministic chunk index. Tokenization is the
    * corpus convention: bare single-space split, empty tokens kept, so
    * the DuckDB `string_split` oracle is bit-identical.
    *
    * Output: one row per chunk — (doc_id, chunk_id, start token offset,
    * n_chunk_tokens, chunk_text re-joined by single space). */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val n = size(split(col(textCol), " "))
    // ceil((n - overlap) / stride) windows; n <= chunkSize -> exactly 1
    val nChunks = when(n <= chunkSize, lit(1))
      .otherwise((n - lit(overlap) + lit(stride) - 1).cast("int") / lit(stride))
      .cast("int")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"),
        nChunks.as("nc"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("nc") - 1),
        i => array_join(
          slice(col("toks"), i * stride + 1, lit(chunkSize)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        (col("pos") * stride).cast("long").as("start_token"),
        size(split(col("col"), " ")).cast("long").as("n_chunk_tokens"),
        col("col").as("chunk_text"))
  }

  /** Content-defined chunking (FastCDC-style; Xia et al. 2016) — the
    * OTHER chunker next to [[chunkTokens]]'s fixed windows: boundaries
    * are placed where a rolling gear hash of the trailing `window`
    * codepoints ≡ 0 (mod `modulus`), clamped to [minLen, maxLen]. A
    * one-codepoint edit shifts every fixed-size chunk after it but only
    * the one or two content-defined chunks covering the edit, so
    * chunk-hash dedup (group by `chunk_hash`) stays stable under local
    * edits — the property chunk-level dedup needs on near-duplicate
    * crawl text.
    *
    * Scale shape: the boundary walk is ONE streaming pass per document
    * inside a codegen'd expression ([[graft.expressions.CdcChunkBounds]];
    * O(n) time, O(window) state) — map-only, zero shuffle, no
    * codepoint-level explode. The relational equivalent (explode one row
    * per character + window sum + iterative walk) survives only as the
    * test-scale oracle.
    *
    * Output: one row per chunk — (doc_id, chunk_idx, chunk_start,
    * chunk_end (1-based codepoint offsets, end exclusive→`(start, end]`),
    * chunk_len, chunk_hash = md5 of the chunk substring). */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      modulus: Int = 32,
      minLen: Int = 24,
      maxLen: Int = 96): DataFrame = {
    import graft.expressions.CdcFunctions.cdc_chunk_bounds
    docs
      .where(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        posexplode(cdc_chunk_bounds(col(textCol), window, modulus,
          minLen, maxLen)).as(Seq("chunk_idx", "b")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("b.start").cast("long").as("chunk_start"),
        col("b.end").cast("long").as("chunk_end"),
        (col("b.end") - col("b.start")).cast("long").as("chunk_len"),
        md5(col("_t").substr(col("b.start") + 1,
          col("b.end") - col("b.start"))).as("chunk_hash"))
  }

  /** Vocabulary build — the step before any tokenizer/embedding-table
    * training: corpus term counts, hapax-filtered at `minCount`, assigned
    * deterministic dense ids 1..V by (count DESC, term ASC) frequency rank.
    *
    * The ranking is a range-partitioned distributed sort +
    * [[graft.operators.Joins.zipWithOrdinal]] per-partition ordinal
    * offsets — NOT a no-partition `row_number` window: a 100 TB crawl's
    * cnt >= minCount term set (typos, URLs, numbers) runs to billions of
    * rows, and a global window would funnel all of them through ONE
    * reducer. The only corpus-sized work is the partial-aggregated count.
    * Ordering (cnt desc, term asc) is total, so ids are deterministic
    * under any partitioning. Id 0 is reserved for OOV (see
    * [[tokenizeToIds]]); assigned ids start at 1. */
  def buildVocab(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    graft.operators.Joins
      .zipWithOrdinal(vocab.orderBy(col("cnt").desc, col("term").asc), "token_id")
      .withColumn("token_id", col("token_id") + lit(1L))
  }

  /** Corpus tokenization against a built vocabulary — the step between
    * [[buildVocab]] and [[packTokenBudget]]/[[chunkTokens]] in every
    * pretokenization pipeline: each document's token stream becomes an
    * ordered `array<long>` of token ids; out-of-vocabulary tokens map to
    * the reserved `oovId` (0 by default — [[buildVocab]] ids start at 1).
    *
    * Scale shape: `posexplode` (map-only) → ONE broadcast left join
    * against the vocab table (a vocabulary is small by construction —
    * bounded by the tokenizer budget, not the corpus) → per-document
    * re-assembly. The `collect_list` groups by doc_id only, so its buffer
    * is bounded by a single document's length — never corpus-sized — and
    * `array_sort` on (pos, id) structs restores token order
    * deterministically under any partitioning.
    *
    * Output: (doc_id, n_tokens, token_ids array<long>). */
  def tokenizeToIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      oovId: Long = 0L): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
    tok.join(broadcast(vocab.select(col("term"), col("token_id"))),
        Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(oovId)).as("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          e => e.getField("tid")).as("token_ids"))
  }

  /** Per-source document cap: keep at most `n` documents per source
    * (domain / crawl host / feed), preferring the highest `score` — the
    * domain-diversity guard every web-scale corpus applies so one prolific
    * host cannot dominate the training mix.
    *
    * Ranking uses the k-bounded [[TopK]] Aggregator, NOT a window: a
    * `row_number over (partition by source)` would shuffle EVERY document
    * of a heavy domain onto one reducer (the exact skew the cap exists to
    * fight), while the Aggregator's partial aggregation ships at most `n`
    * (score, id) entries per partition per source — the buffer is bounded
    * no matter how many billions of pages one domain has. Ordering
    * (score desc, id asc) is total, so the kept set and ranks are
    * deterministic under any partitioning. Rows with NULL/NaN scores are
    * dropped (they cannot rank; mirrors every downstream quality gate). */
  def sourceCap(
      docs: DataFrame,
      sourceCol: String,
      idCol: String,
      score: Column,
      n: Int): DataFrame = {
    val tk = udaf(TopK.topK(n))
    docs.select(col(sourceCol).as("source"), score.as("score"),
        col(idCol).as("doc_id"))
      .where(!isnan(col("score")) && !col("score").isNull)
      .groupBy(col("source"))
      .agg(tk(col("score"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — hashed n-gram
    * features, public literature): score every document by how much more
    * likely its hashed unigram+bigram features are under the TARGET
    * distribution (rows matching `targetPred`, e.g. a trusted
    * high-quality source) than under the RAW corpus distribution.
    * `log_w = Σ_grams ln p̂_target(bucket) − ln p̂_raw(bucket)` with
    * Laplace-smoothed bucket probabilities; resampling keeps the
    * highest-weight raw docs to shift the corpus toward the target.
    *
    * Scale shape: gram → bucket is a stateless md5 expression
    * ([[hashBucket]]), so the feature space is FIXED at `buckets` rows no
    * matter the corpus size. One exploded gram scan (persisted — it feeds
    * the count pass and the scoring pass) → a `buckets`-bounded groupBy
    * carrying (bucket, is_target) partial counts → the tiny log-ratio
    * table broadcast-joins back onto the gram stream → per-doc sum/count
    * partial agg. The corpus is never shuffled except by doc_id at the
    * final agg; totals ride a broadcast single-row aggregate, not a
    * driver collect.
    *
    * Engine-portable math: bucket log-ratios are
    * `ln((ct+1)·(Tr+B) / ((cr+1)·(Tt+B)))` — the products are
    * integer-exact in doubles (< 2^53), then ONE division and ONE `ln`
    * per bucket, mirrored op-for-op by the DuckDB oracle. */
  def dsirLogWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      buckets: Int = 1024): DataFrame = {
    // token array hoisted into its own projection before the per-position
    // `transform` lambda (r19, same fix as TextAnalysis.bigramStream):
    // higher-order-function lambdas evaluate interpreted with no common-
    // subexpression elimination, so an inline split(text) inside the
    // lambda re-tokenized the document per element_at call per position.
    val t = col("__toks")
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat(element_at(t, i + 1), lit(" "),
          element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    // project the gram STRING away before the persist (optimization-guide
    // §2.3 "project before the exchange" applied to the materialization):
    // downstream consumers only ever read (doc_id, is_target, b) — the
    // bucket id — so persisting the raw gram text (~10-20 bytes/row, the
    // widest column by far) only inflated the cached/spilled bytes both
    // passes re-read. Result-identical: `gram` fed nothing but hashBucket.
    val grams = docs.select(col(idCol).as("doc_id"),
        coalesce(targetPred, lit(false)).as("is_target"),
        split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"), col("is_target"),
        explode(concat(t, bigrams)).as("gram"))
      .select(col("doc_id"), col("is_target"),
        hashBucket(col("gram"), buckets).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bucketCounts is consumed TWICE — once by the totals broadcast, once
    // by the log-ratio projection — and each broadcast subtree is planned
    // independently (no exchange reuse across broadcast builds), so
    // without a persist the full gram stream was re-aggregated per
    // consumer: THREE cached-stream scans per query (totals job, logRatio
    // job, final join). Persisting the ≤`buckets`-row aggregate (r19
    // verdict #2) makes it one aggregation and two gram scans — the
    // fundamental minimum, since the complete bucket table must exist
    // before any gram can be scored.
    val bucketCounts = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = bucketCounts.agg(sum(col("cr")).as("tr"),
      sum(col("ct")).as("tt"))
    val logRatio = bucketCounts.crossJoin(broadcast(totals))
      .select(col("b"),
        log((col("ct") + 1).cast("double") * (col("tr") + buckets) /
          ((col("cr") + 1).cast("double") * (col("tt") + buckets)))
          .as("lw"))
    grams.join(broadcast(logRatio), Seq("b"))
      .groupBy(col("doc_id"), col("is_target"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(col("lw")).as("log_w"))
  }

  /** Symbol wrapping used by the BPE segmentation encoding: every symbol
    * is wrapped as OPEN||sym||CLOSE (U+001F / U+001E — control chars no
    * corpus text contains), so merging the adjacent pair (l, r) is a plain
    * `replace(seg, OPEN l CLOSE OPEN r CLOSE, OPEN lr CLOSE)`. TWO
    * distinct wrappers matter: with a single shared delimiter, adjacent
    * pair occurrences share the middle delimiter char, so replace's
    * resume-after-match scan skips every second merge in a run ("wewewe"
    * would become we,w,ewe). With disjoint full-symbol matches, replace's
    * left-to-right non-overlapping scan IS canonical greedy BPE merge
    * application — identically in Spark and DuckDB (both resume after the
    * replaced region), proven adversarially in BpeSpec. */
  val BpeOpen = ""
  val BpeClose = ""
  /** End-of-word sentinel for BYTE-LEVEL BPE (Sennrich's `</w>` as one
    * dedicated symbol): appended after each word's byte symbols so merges
    * can learn word-final variants and any byte sequence round-trips.
    * U+0002 -- outside the byte alphabet (see [[byteAlphabet]]), below
    * every ASCII char so the (left ASC, right ASC) tie-break agrees
    * between Java UTF-16 and DuckDB UTF-8 binary order. */
  val BpeEow = "\u0002"

  /** GPT-2's byte->unicode bijection (public: openai/gpt-2 encoder.py
    * bytes_to_unicode): printable bytes map to themselves, the rest shift
    * into U+0100.. -- every byte becomes ONE visible char, so the
    * char-level merge machinery works verbatim over byte symbols and
    * pure-printable-ASCII corpora are byte-for-char identical to the
    * char-level mode (which is what lets the DuckDB chain oracle replay
    * the byte gate). */
  private[graft] val byteAlphabet: Array[Char] = {
    val direct = (('!' to '~') ++ ('\u00a1' to '\u00ac') ++ ('\u00ae' to '\u00ff')).toSet
    val out = new Array[Char](256)
    var shift = 0
    (0 until 256).foreach { b =>
      if (direct(b.toChar)) out(b) = b.toChar
      else { out(b) = (256 + shift).toChar; shift += 1 }
    }
    out
  }
  private[graft] lazy val byteAlphabetInv: Map[Char, Byte] =
    byteAlphabet.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** A word's byte-level symbol sequence: UTF-8 bytes through
    * [[byteAlphabet]], then the [[BpeEow]] sentinel. */
  private[graft] def byteSymbols(w: String): Array[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length + 1)
    var i = 0
    while (i < bytes.length) {
      out(i) = byteAlphabet(bytes(i) & 0xff).toString; i += 1
    }
    out(bytes.length) = BpeEow
    out
  }

  /** Inverse of the byte-level encoding for ONE word's concatenated
    * subtokens: strip the sentinel, map alphabet chars back to bytes,
    * decode UTF-8 -- the round-trip proof that byte-level BPE is lossless
    * on arbitrary input (BpeSpec: emoji/CJK). */
  def bpeByteDecode(subtokens: Seq[String]): String = {
    val chars = subtokens.mkString.filterNot(_ == BpeEow.head)
    new String(chars.map(byteAlphabetInv).toArray,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** (w, cnt): the corpus word histogram — single-space split, empty
    * tokens dropped, one partial-aggregated groupBy. The only corpus-sized
    * work of every tokenizer trainer here. */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** The `maxWords` most frequent word types with their counts, ties by
    * word (TakeOrderedAndProject: per-partition heaps, k-bounded driver
    * state). */
  private def wordHistogram(docs: DataFrame, textCol: String,
      maxWords: Int): Array[(String, Long)] =
    // eager by design: the trainers run on the driver over this table
    wordCounts(docs, textCol)
      .orderBy(col("cnt").desc, col("w").asc).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Subword BPE merge training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units" — public literature):
    * learn `numMerges` byte-pair merges from the corpus, most-frequent
    * adjacent symbol pair first, ties broken by (left ASC, right ASC) so
    * the merge list is a deterministic pure function of the corpus.
    *
    * Scale shape — the shape every production tokenizer trainer
    * (SentencePiece, HF tokenizers) uses: the ONLY corpus-sized work is
    * the distributed word-frequency histogram (one partial-aggregated
    * groupBy); the merge loop then runs over the histogram, which is
    * vocabulary-bounded, not corpus-bounded — capped at the `maxWords`
    * most frequent word types (TakeOrderedAndProject: per-partition heaps,
    * k-bounded driver state, the IVF-centroid discipline). A 100 TB crawl
    * has billions of word TYPES but the frequency mass is Zipf: the top
    * 100k-1M types carry ~all pair statistics, which is why the cap is the
    * standard practice and not an approximation knob that moves results on
    * realistic data. Merges within words only; no end-of-word marker (the
    * whitespace-pretokenized variant — word boundaries are never crossed).
    *
    * Returns one row per merge: (rank 1..N, left, right, merged = left||right,
    * pair_cnt), in merge order. Stops early if no pair occurs twice. */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 1000000,
      byteLevel: Boolean = false): DataFrame = {
    require(numMerges > 0, s"bpeTrain: numMerges must be positive, got $numMerges")
    val spark = docs.sparkSession
    val hist = wordHistogram(docs, textCol, maxWords)
    // word type -> current symbol segmentation: chars initially, or the
    // byte alphabet + end-of-word sentinel in byte-level (GPT-2-class)
    // mode — the merge machinery below is representation-agnostic
    var segs: Array[(Array[String], Long)] =
      if (byteLevel) hist.map { case (w, c) => (byteSymbols(w), c) }
      else hist.map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // most frequent pair; ties by (left ASC, right ASC) — symbols are
        // corpus text (ASCII here), where Java UTF-16 and DuckDB UTF-8
        // binary orders agree
        val ((l, r), pc) = counts.minBy { case ((a, b), c) =>
          (-c, a, b) }(Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.String))
        merges += ((rank, l, r, l + r, pc))
        segs = segs.map { case (s, c) =>
          if (s.length < 2) (s, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += l + r; i += 2 // greedy left-to-right, non-overlapping
              } else { out += s(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "merged", "pair_cnt")
  }

  /** BPE encoding against a trained merge list. Two physical paths, one
    * semantics (sequential merge replay — applying merges 1..N in rank
    * order, each greedily left-to-right, reproduces exactly the
    * training-time segmentation; words never seen in training still
    * encode down to characters/bytes plus whatever learned merges apply):
    *
    *  - merge lists ≤ 2048, char mode: the merges inline as chained
    *    `replace` calls in ONE whole-stage-codegen'd expression — no
    *    join, no shuffle, no state (and the form the DuckDB oracle
    *    replays);
    *  - larger lists (production tokenizers ship 32k+) or byte-level
    *    mode: [[bpeEncodeSeq]], the broadcast-merge-table matcher over
    *    `mapPartitions` — a 32k-rule greedy matcher is not a Catalyst
    *    expression (the multimodal-codec precedent), but the plan shape
    *    is the same: map-only, zero shuffle, corpus streams through once.
    *
    * Both paths are differentially proven equal in BpeSpec.
    * Output: (doc_id, n_subtokens, subtokens array<string> in document
    * order). `byteLevel` encodes over [[byteSymbols]] (UTF-8 bytes +
    * end-of-word sentinel) with merges from
    * `bpeTrain(..., byteLevel = true)`. */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame,
      byteLevel: Boolean = false): DataFrame = {
    // eager by design: the merges are the plan itself — inlined replace
    // calls or the matcher's closure table (CorpusSpec pins the jobs)
    val ms: Array[(String, String)] = merges
      .orderBy(col("rank").asc)
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    if (byteLevel || ms.length > 2048)
      return bpeEncodeSeq(docs, idCol, textCol, ms, byteLevel)
    val (o, c) = (BpeOpen, BpeClose)
    def encodeWord(w: Column): Column = {
      // Spark's split keeps trailing empties (Java Pattern.split limit -1)
      // — filter them so the wrapped form has no spurious empty symbol
      val chars = filter(split(w, ""), ch => length(ch) > 0)
      val seg0 = array_join(transform(chars, ch => concat(lit(o), ch, lit(c))), "")
      val segN = ms.foldLeft(seg0) { case (seg, (l, r)) =>
        org.apache.spark.sql.functions.replace(
          seg, lit(o + l + c + o + r + c), lit(o + l + r + c))
      }
      filter(split(org.apache.spark.sql.functions.replace(segN, lit(o), lit("")),
        c), x => length(x) > 0)
    }
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    docs
      .select(col(idCol).as("doc_id"),
        flatten(transform(words, encodeWord(_))).as("subtokens"))
      .where(size(col("subtokens")) > 0)
      .select(col("doc_id"), size(col("subtokens")).cast("long").as("n_subtokens"),
        col("subtokens"))
  }

  /** The production-size BPE encode path: SEQUENTIAL MERGE REPLAY as a
    * greedy matcher over `mapPartitions` with the merge table broadcast
    * in the task closure (numMerges rows — tokenizer-budget-bounded by
    * definition, a 32k vocab is ~1 MB).
    *
    * Semantics are identical to the chained-replace form by construction:
    * per word, repeatedly find the LOWEST-rank merge not yet passed whose
    * pair occurs in the current symbol sequence and apply it greedily
    * left-to-right — skipping absent merges is free, so this IS "apply
    * merges 1..N in order" in O(word²) instead of O(N·word). Newly-formed
    * pairs matching an already-passed rank are NOT revisited, exactly like
    * the replace chain (and the trainer's own per-iteration application).
    *
    * Scale shape: map-only, zero shuffle, no driver round-trips after the
    * one vocabulary-bounded merge collect; a per-partition WORD-TYPE cache
    * (bounded, Zipf-friendly: the head stays hot across documents) makes
    * the amortized cost per token O(1) on natural language. */
  private[graft] def bpeEncodeSeq(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ms: Array[(String, String)],
      byteLevel: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val sep = BpeOpen // never occurs inside a symbol — the wrap invariant
    encodeWords[Array[String]](docs, idCol, textCol, Seq(
        StructField("n_subtokens", LongType, nullable = false),
        StructField("subtokens", ArrayType(StringType, containsNull = false)))) { () =>
      val n = ms.length
      val lArr = new Array[String](n + 1)
      val rArr = new Array[String](n + 1)
      val ranks = new java.util.HashMap[String, Integer](n * 2)
      var k = 0
      while (k < n) {
        lArr(k + 1) = ms(k)._1; rArr(k + 1) = ms(k)._2
        ranks.put(ms(k)._1 + sep + ms(k)._2, Integer.valueOf(k + 1))
        k += 1
      }
      (word: String) => {
        var syms: Array[String] =
          if (byteLevel) byteSymbols(word)
          else word.split("").filter(_.nonEmpty)
        var next = 1 // lowest rank still applicable (sequential replay)
        var done = syms.length < 2
        while (!done) {
          var best = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = ranks.get(syms(i) + sep + syms(i + 1))
            if (r != null && r.intValue >= next && r.intValue < best)
              best = r.intValue
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val l = lArr(best); val rr = rArr(best); val m = l + rr
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == rr) {
                out += m; j += 2 // greedy left-to-right, non-overlapping
              } else { out += syms(j); j += 1 }
            }
            syms = out.toArray
            next = best + 1
            done = syms.length < 2
          }
        }
        syms
      }
    } { (id, words) =>
      val sub = scala.collection.mutable.ArrayBuffer.empty[String]
      words.foreach(sub ++= _)
      org.apache.spark.sql.Row(id, sub.length.toLong, sub.toSeq)
    }
  }

  /** Write a merge table in the public GPT-2 tokenizer `merges.txt`
    * format (openai/gpt-2 — plain text: a `#version` comment line, then
    * one `left right` pair per line in rank order). Merge tables are
    * tokenizer-budget-bounded by definition (32k-50k rows, ~1 MB), so the
    * driver-side collect is a model-artifact write, not a corpus read —
    * the same discipline as the vocab builders. */
  def bpeSaveMerges(merges: DataFrame, path: String): Unit = {
    // eager by design: a save is an action — it writes the file now
    val rows = merges.orderBy(col("rank").asc)
      .select(col("left"), col("right"))
      .collect().map(r => s"${r.getString(0)} ${r.getString(1)}")
    val out = ("#version: 0.2" +: rows).mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a pretrained BPE merge table from the public GPT-2 `merges.txt`
    * format — the ingestion path production pipelines use far more often
    * than self-training: encode a new corpus with a PUBLISHED tokenizer.
    * Returns (rank, left, right, merged) in file order, directly usable by
    * [[bpeEncode]]; a real GPT-2 file is byte-level over the SAME
    * bytes_to_unicode alphabet as [[byteAlphabet]] (deliberately), so
    * `bpeEncode(..., byteLevel = true)` replays it faithfully.
    *
    * Scale shape: the file is read distributed (`spark.read.text` +
    * per-file line ordinals via zipWithIndex — order-stable because
    * Hadoop text splits preserve in-file line order and the file is one
    * split at tokenizer sizes); `#`-comment and blank lines are skipped
    * without disturbing rank order. */
  def bpeLoadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.sparkContext.textFile(path).zipWithIndex()
      .map { case (l, i) => (i, l) }.toDF("line_nr", "line")
    val pairs = lines
      .where(!col("line").startsWith("#") && length(trim(col("line"))) > 0)
      .select(col("line_nr"), split(col("line"), " ").as("p"))
      .where(size(col("p")) === 2)
    graft.operators.Joins.zipWithOrdinal(pairs.orderBy(col("line_nr")), "rk")
      .select((col("rk") + 1).cast("int").as("rank"),
        col("p").getItem(0).as("left"), col("p").getItem(1).as("right"),
        concat(col("p").getItem(0), col("p").getItem(1)).as("merged"))
  }

  /** Write a (token, id) vocabulary in the public GPT-2 `vocab.json`
    * format (one JSON object mapping token string to integer id). */
  def bpeSaveVocab(vocab: DataFrame, path: String): Unit = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // eager by design: a save is an action — it writes the file now
    val rows = vocab.select(col("token"), col("id").cast("long"))
      .collect().map(r => s""""${esc(r.getString(0))}": ${r.getLong(1)}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("{", ", ", "}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a pretrained tokenizer vocabulary from the public GPT-2
    * `vocab.json` format → (token, id). Parsed with json4s (on Spark's own
    * classpath); a tokenizer vocab is model-artifact-sized, so the single
    * driver-side read is bounded like the merge table's. */
  def bpeLoadVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.json4s._
    import spark.implicits._
    val txt = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val entries = jackson.JsonMethods.parse(txt) match {
      case JObject(fields) => fields.collect {
        case (tok, JInt(id)) => (tok, id.toLong)
        case (tok, JLong(id)) => (tok, id)
      }
      case other => throw new IllegalArgumentException(
        s"bpeLoadVocab: expected one JSON object, got ${other.getClass}")
    }
    entries.toDF("token", "id")
  }

  /** GPT-2-style vocabulary from a merge table: base symbols first (ids
    * 0..K-1 in symbol order), then merged tokens in merge order (ids K..),
    * first occurrence winning when two merge paths concat to the same
    * string — exactly how the published vocab.json files are laid out. */
  def bpeVocabFromMerges(base: DataFrame, merges: DataFrame): DataFrame = {
    // dedup FIRST and derive the merged-id offset from the deduped count —
    // a non-distinct `base` would otherwise gap/shift every merged-token
    // id past the emitted base-id range (ADVICE r15 #4)
    val b0 = base.select(col("sym")).distinct()
    // eager by design: the base count is a literal offset of every merged
    // id (CorpusSpec pins the jobs)
    val k = b0.count()
    val b = graft.operators.Joins
      .zipWithOrdinal(b0.orderBy(col("sym")), "id")
      .select(col("sym").as("token"), col("id"))
    val m = merges.groupBy(col("merged").as("token"))
      .agg(min(col("rank")).cast("long").as("rk"))
      .select(col("token"), (col("rk") - 1 + k).as("id"))
    b.unionByName(m)
  }

  /** WordPiece piece inventory — the BERT-family tokenizer's vocabulary,
    * built by a deterministic frequency rule instead of the original
    * likelihood training (which is implementation-defined): every single
    * codepoint occurring in any word, plus the top-`k` substrings of
    * length 2..`maxPieceLen` by corpus occurrence weight (each substring
    * position of each word counts once per word occurrence), total-ordered
    * by (weight DESC, piece ASC) so the cut at `k` is deterministic.
    *
    * Scale shape: the only corpus-sized work is the word-count partial
    * aggregate; substring explosion runs over word TYPES (vocabulary-
    * bounded — Heaps' law, not corpus-sized) weighted by the counts, and
    * the top-k is a TakeOrderedAndProject, never a global window. Singles
    * are kept unconditionally so greedy encoding can always advance.
    *
    * Output: (piece, weight, kind 'char'|'sub'). */
  def wordpieceVocab(
      docs: DataFrame,
      textCol: String,
      k: Int = 150,
      maxPieceLen: Int = 6): DataFrame = {
    val wc = wordCounts(docs, textCol)
    // singles via substr(w, p, 1) over codepoint positions — NOT
    // split(w, ""), which cuts at Java chars and would split a surrogate
    // pair into two broken pieces the codepoint-based encoder can never
    // match (the oracle's substr is codepoint-based; so is this)
    val chars = wc
      .select(col("w"), col("cnt"),
        explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w").substr(col("p"), lit(1)).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("weight"))
      .select(col("piece"), col("weight"), lit("char").as("kind"))
    val subs = wc
      .select(col("w"), col("cnt"),
        explode(sequence(lit(1), length(col("w")))).as("p"))
      .select(col("w"), col("cnt"), col("p"),
        explode(sequence(lit(2), lit(maxPieceLen))).as("l"))
      .where(col("p") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("p"), col("l")).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("weight"))
      .orderBy(col("weight").desc, col("piece").asc)
      .limit(k)
      .select(col("piece"), col("weight"), lit("sub").as("kind"))
    chars.unionByName(subs)
  }

  /** WordPiece greedy encode — longest-match-first over the
    * [[wordpieceVocab]] inventory, the BERT tokenization algorithm
    * (Devlin et al. 2019; the matcher, not the likelihood trainer): at
    * each position take the LONGEST vocab piece that prefixes the rest of
    * the word; pieces after the first render with the `##` continuation
    * marker; a word with an unmatchable position becomes `[UNK]` whole
    * (the standard WordPiece failure mode — with singles in the
    * inventory it only fires on words with codepoints unseen at build
    * time). Greedy differs from BPE's merge replay on real text, which is
    * why it earns its own operator rather than a vocab swap.
    *
    * Scale shape: the corpus work is posexplode + ONE broadcast join +
    * the bounded per-document reassembly (the [[tokenizeToIds]]
    * discipline); the sequential matcher runs once per word TYPE over
    * `mapPartitions` with the piece set broadcast in the closure
    * (tokenizer-budget-bounded), amortizing to O(1) per corpus token.
    *
    * Output: (doc_id, n_pieces, piece_text — pieces space-joined in
    * document order). */
  def wordpieceEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      maxPieceLen: Int = 6): DataFrame = {
    import org.apache.spark.sql.types._
    // eager by design: the piece set lives in the matcher's closure
    // (CorpusSpec pins the jobs)
    val pieces: Array[String] =
      vocab.select(col("piece")).collect().map(_.getString(0))
    val tok = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
    val types = tok.select(col("w")).distinct()
    val outSchema = StructType(Seq(
      StructField("w", StringType, nullable = true),
      StructField("w_pieces", StringType, nullable = false),
      StructField("w_n", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val encoded = types.mapPartitions { it =>
      val set = new java.util.HashSet[String](pieces.length * 2)
      pieces.foreach(set.add)
      // positions and lengths are CODEPOINTS (both engines' substr
      // semantics), so the matcher works over a codepoint array — a
      // surrogate pair can never be split by a length cut
      def greedy(w: String): (String, Long) = {
        val cps = w.codePoints().toArray
        val len = cps.length
        val sb = new java.lang.StringBuilder
        var n = 0L
        var p = 0
        while (p < len) {
          var l = math.min(maxPieceLen, len - p)
          var hit = -1
          while (l >= 1 && hit < 0) {
            if (set.contains(new String(cps, p, l))) hit = l
            l -= 1
          }
          if (hit < 0) return ("[UNK]", 1L) // unmatchable -> whole-word UNK
          if (n > 0L) sb.append(" ##")
          sb.append(new String(cps, p, hit))
          n += 1L
          p += hit
        }
        (sb.toString, n)
      }
      it.map { r =>
        val w = r.getString(0)
        val (txt, n) = greedy(w)
        org.apache.spark.sql.Row(w, txt, n)
      }
    }(enc)
    tok.join(broadcast(encoded), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w_n")).as("n_pieces"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w_pieces")))),
          e => e.getField("w_pieces")), " ").as("piece_text"))
      .select(col("doc_id"), col("n_pieces"), col("piece_text"))
  }

  /** Deterministic negative sampling for contrastive / retrieval training:
    * for each query document, the k pseudo-random corpus negatives under a
    * content hash of the (query, candidate) PAIR, excluding candidates
    * from the query's own source (the standard in-batch-negatives leakage
    * guard — a "negative" from the same crawl domain is too often a soft
    * positive). Reproducible on any cluster layout: the sample is a pure
    * function of the ids, like [[sampleHashMod]].
    *
    * Scale shape: the query set is broadcast (bounded, like the ANN query
    * side in [[Similarity]]); the corpus streams through ONE projection +
    * filter and lands in a k-bounded [[TopK]] partial aggregate — map-side
    * combine ships O(k) per partition per query, never a per-query window
    * or corpus shuffle. Hash ranks are 32-bit (exact in double).
    */
  def negativeSample(
      corpus: DataFrame,
      idCol: String,
      sourceCol: String,
      queries: DataFrame,
      k: Int): DataFrame = {
    val tk = udaf(TopK.topK(k))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(sourceCol).as("q_source")))
    val pairHash = conv(substring(md5(
        concat(col("query_id").cast("string"), lit(":"),
          col("neg_id").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    corpus.select(col(idCol).as("neg_id"), col(sourceCol).as("source"))
      .join(q, col("source") =!= col("q_source") &&
        col("neg_id") =!= col("query_id"))
      // TopK orders score DESC: negate so the SMALLEST hashes win
      .withColumn("score", -pairHash.cast("double"))
      .groupBy(col("query_id"))
      .agg(tk(col("score"), col("neg_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neg_id"),
        (-col("col.score")).cast("long").as("pair_hash"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  // ------------------------------------------------------------------
  // Unigram-family tokenizer: shortest-path (Viterbi) segmentation over
  // a piece table — the OTHER major subword family next to BPE
  // (SentencePiece's unigram LM, Kudo 2018; minimal-token segmentation
  // per PathPiece). Two scoring regimes share one lattice:
  //  - the ORACLE-GATED integer regime ([[unigramEncode]]): minimize
  //    piece count, tie-break by maximal summed piece frequency, then
  //    lexicographically smallest path — every comparison is exact
  //    integer/string, so Spark and DuckDB agree bit-for-bit (the
  //    decimal(18,2) lesson applied to tokenization: no float logs in
  //    the cross-engine contract);
  //  - the EM-TRAINED float regime ([[unigramTrainEm]] +
  //    [[unigramEncodeLogp]]): true unigram log-probabilities fitted by
  //    expectation-maximization, spec-gated (float DP is exact within
  //    one engine but cross-engine log/exp ulp drift makes a SQL oracle
  //    dishonest).
  // Scale shape mirrors BPE: corpus-sized work is ONE word-histogram
  // partial aggregate (Heaps-bounded output); piece scoring explodes
  // substrings of word TYPES only; encode is map-only with the bounded
  // piece table in the task closure and a per-partition word cache.
  // ------------------------------------------------------------------

  /** All ≤`maxLen`-char substring positions of each word TYPE, weighted
    * by corpus occurrence count — the piece-candidate stream. Bounded:
    * |types| × maxWordLen × maxLen rows, never corpus-sized. */
  private def pieceCandidates(docs: DataFrame, textCol: String,
      maxLen: Int): DataFrame = {
    val subsArr = flatten(transform(
      sequence(lit(1), length(col("w"))), i =>
        transform(
          sequence(lit(1), least(lit(maxLen), length(col("w")) - i + lit(1))),
          n => col("w").substr(i, n))))
    wordCounts(docs, textCol).select(explode(subsArr).as("sub"), col("cnt"))
      .groupBy(col("sub")).agg(sum(col("cnt")).as("cnt"))
  }

  /** The piece table: top-`topK` substrings by (count DESC, piece ASC)
    * UNION every single character — SentencePiece's character-coverage
    * guarantee, so every word in the training corpus is segmentable.
    *
    * Plan shape: the corpus-sized work is the word histogram's partial
    * aggregate; ranking is a [[org.apache.spark.sql.Dataset.limit]] over
    * an ordered bounded table (TakeOrderedAndProject — per-partition
    * heaps, no global sort exchange, the [[weightedSample]] posture), and
    * the char tier joins back anti-broadcast. Both branches read one
    * shared aggregate whose exchange is reused (ReuseExchange). */
  def unigramPieces(docs: DataFrame, textCol: String,
      maxLen: Int = 4, topK: Int = 60): DataFrame = {
    val counts = pieceCandidates(docs, textCol, maxLen)
    val top = counts.orderBy(col("cnt").desc, col("sub").asc).limit(topK)
    val chars = counts.where(length(col("sub")) === 1)
      .join(broadcast(top.select(col("sub"))), Seq("sub"), "left_anti")
    top.unionByName(chars)
  }

  /** Collected piece table for the encode closure — bounded by
    * construction (topK + alphabet size), the [[bpeTrain]] posture of a
    * capped driver-side table. */
  def unigramPieceTable(docs: DataFrame, textCol: String,
      maxLen: Int = 4, topK: Int = 60): Array[(String, Long)] = {
    // eager by design: the caller gets a driver-side table
    val t = unigramPieces(docs, textCol, maxLen, topK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(t.length <= (1 << 20),
      s"unigram: piece table ${t.length} exceeds the closure budget")
    t
  }

  /** Every edge (pre, j) of a word's segmentation lattice in forward
    * order — for each end j = 1..L, the starts j − n of the pieces of
    * length n = 1..min(maxLen, j) — the traversal of the Viterbi passes
    * and of the EM forward pass. */
  private def forEachEdge(L: Int, maxLen: Int)(edge: (Int, Int) => Unit): Unit = {
    var j = 1
    while (j <= L) {
      var n = 1
      while (n <= math.min(maxLen, j)) {
        edge(j - n, j)
        n += 1
      }
      j += 1
    }
  }

  /** Exact-integer Viterbi segmentation of one word: minimize piece
    * count, tie-break maximal summed frequency, then lexicographically
    * smallest pipe-joined path. Prefix ties have equal path LENGTHS
    * (equal piece count ⇒ equal separator count), so the per-position
    * lexicographic minimum extends to the global one — the DP tie-break
    * is sound. Throws on a word outside the table's character coverage
    * (loud, never a silent skip). */
  private[graft] def unigramSegment(word: String,
      pm: java.util.HashMap[String, java.lang.Long],
      maxLen: Int): (Int, Long, String) = {
    val L = word.length
    val bnp = new Array[Int](L + 1)
    java.util.Arrays.fill(bnp, Int.MaxValue)
    val btot = new Array[Long](L + 1)
    val bpath = new Array[String](L + 1)
    bnp(0) = 0; btot(0) = 0L; bpath(0) = ""
    forEachEdge(L, maxLen) { (pre, j) =>
      if (bnp(pre) != Int.MaxValue) {
        val piece = word.substring(pre, j)
        val c = pm.get(piece)
        if (c != null) {
          val cnp = bnp(pre) + 1
          val ctot = btot(pre) + c.longValue
          val better0 = cnp < bnp(j) ||
            (cnp == bnp(j) && ctot > btot(j))
          val tie = cnp == bnp(j) && ctot == btot(j)
          if (better0 || tie) {
            val cpath = if (pre == 0) piece else bpath(pre) + "|" + piece
            if (better0 || cpath.compareTo(bpath(j)) < 0) {
              bnp(j) = cnp; btot(j) = ctot; bpath(j) = cpath
            }
          }
        }
      }
    }
    if (bnp(L) == Int.MaxValue)
      throw new IllegalArgumentException(
        s"unigram: word '$word' is not segmentable - the piece table " +
          "lacks character coverage for it")
    (bnp(L), btot(L), bpath(L))
  }

  /** MLM training-example prep (BERT-style): mask `pct`% of tokens by
    * content hash — deterministic across re-runs, cluster layouts, and
    * engines — as ONE map-only projection (zero exchanges). Positions are
    * assigned over the RAW split (empties included) and empties filtered
    * AFTER, the same order a SQL unnest produces, so messy spacing cannot
    * desynchronize the (doc, position) hash between engines. Emits the
    * masked input, position-ordered targets (NULL when nothing masked),
    * and counts; documents with no tokens emit nothing. */
  def mlmMask(docs: DataFrame, idCol: String, textCol: String,
      pct: Int = 15): DataFrame = {
    require(pct >= 0 && pct <= 100, s"mlmMask: pct must be 0..100, got $pct")
    val raw = split(col(textCol), " ")
    val idx = sequence(lit(1), size(raw))
    val pos = filter(
      zip_with(raw, idx, (w, i) => struct(w.as("w"), i.as("i"))),
      s => length(s.getField("w")) > 0)
    val z = transform(pos, s => struct(s.getField("w").as("w"),
      (hashBucket(concat_ws("#", lit("mask"), col(idCol),
        s.getField("i")), 100) < pct).as("m")))
    // r20 (the r19 HOF-hoist audit extended here): `z` — one md5-bucket
    // hash PER TOKEN — was referenced by four output expressions and
    // re-evaluated per reference (~4 md5 passes per document); `hit`
    // re-filtered it again per ITS three consumers. Both are bound once
    // in their own projections (multi-consumer non-cheap expressions are
    // never collapsed back by CollapseProject). Values are bit-identical:
    // same expressions, evaluated once instead of four times. The
    // no-token filter tests `pos` BEFORE hashing (`z` keeps its length):
    // a filter on `size(__z)` above the projections is pushed below them
    // with `z` inlined, which hashed every token a second time.
    val hit = filter(col("__z"), s => s.getField("m"))
    docs.where(size(pos) > 0)
      .select(col(idCol).as("doc_id"), z.as("__z"))
      .select(col("doc_id"), col("__z"), hit.as("__hit"))
      .select(col("doc_id"),
        array_join(transform(col("__z"), s =>
          when(s.getField("m"), lit("<mask>")).otherwise(s.getField("w"))),
          " ").as("input_text"),
        when(size(col("__hit")) > 0,
          array_join(transform(col("__hit"), s => s.getField("w")), " "))
          .otherwise(lit(null)).as("targets"),
        size(col("__hit")).cast("long").as("n_masked"),
        size(col("__z")).cast("long").as("n_tokens"))
  }

  /** Per-partition word-type memo budget shared by every word-level
    * encoder ([[bpeEncodeSeq]], the unigram encoders): a pathological
    * all-distinct partition cannot grow the cache unboundedly, and after
    * a clear the Zipf head refills within a few documents. */
  private[graft] val WordCacheCap = 200000

  /** The map-only per-document encode loop of every word-level encoder
    * ([[bpeEncodeSeq]], [[encodeCorpus]]): `docs` as (doc_id, text); per
    * partition `mkEncode()` builds the word encoder ONCE (its tables live
    * in the closure), each non-empty single-space-split word is encoded
    * through a bounded word-type memo ([[WordCacheCap]]), and `row` turns
    * (doc_id, the document's encoded words in order) into a row of schema
    * doc_id +: `fields`. Documents with no words (null/empty text) emit
    * nothing — the SQL oracles' joins drop them identically. */
  private def encodeWords[W <: AnyRef](
      docs: DataFrame, idCol: String, textCol: String,
      fields: Seq[org.apache.spark.sql.types.StructField])(
      mkEncode: () => String => W)(
      row: (Any, scala.collection.mutable.ArrayBuffer[W]) => org.apache.spark.sql.Row)
      : DataFrame = {
    val src = docs.select(col(idCol).as("doc_id"),
      col(textCol).cast("string").as("text"))
    val enc = org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(src.schema("doc_id") +: fields))
    src.mapPartitions { it =>
      val encode = mkEncode()
      val cache = new java.util.HashMap[String, W]()
      it.flatMap { r =>
        val text = r.getString(1)
        if (text == null) Iterator.empty
        else {
          val words = text.split(" ")
          val out = scala.collection.mutable.ArrayBuffer.empty[W]
          var wi = 0
          while (wi < words.length) {
            val w = words(wi)
            if (w.nonEmpty) {
              var s = cache.get(w)
              if (s == null) {
                s = encode(w)
                if (cache.size >= WordCacheCap) cache.clear()
                cache.put(w, s)
              }
              out += s
            }
            wi += 1
          }
          if (out.isEmpty) Iterator.empty else Iterator.single(row(r.get(0), out))
        }
      }
    }(enc)
  }

  /** Shared encode core for the unigram regimes ([[encodeWords]] with the
    * per-partition segment function built by `mkSeg`): pipe-joined word
    * paths joined with spaces, the piece count and, `withScore`, the
    * summed log-probability. */
  private def encodeCorpus(
      docs: DataFrame, idCol: String, textCol: String, withScore: Boolean)(
      mkSeg: () => String => (String, Int, Double)): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("encoded", StringType, nullable = false),
      StructField("n_tokens", LongType, nullable = false))
    encodeWords[(String, Int, Double)](docs, idCol, textCol,
      if (withScore) base :+ StructField("logp", DoubleType, nullable = false)
      else base)(mkSeg) { (id, segs) =>
      val sb = new StringBuilder
      var nTok = 0L
      var score = 0.0
      var i = 0
      while (i < segs.length) {
        val s = segs(i)
        if (i > 0) sb.append(' ')
        sb.append(s._1)
        nTok += s._2
        score += s._3
        i += 1
      }
      if (withScore) org.apache.spark.sql.Row(id, sb.toString, nTok, score)
      else org.apache.spark.sql.Row(id, sb.toString, nTok)
    }
  }

  /** Map-only corpus encode under the exact-integer objective: per doc,
    * each word's Viterbi path (pieces pipe-joined) joined by spaces, plus
    * the total piece count ([[encodeCorpus]] over [[unigramSegment]]). */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
      pieces: Array[(String, Long)], maxLen: Int = 4): DataFrame =
    encodeCorpus(docs, idCol, textCol, withScore = false) { () =>
      val pm = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
      pieces.foreach { case (s, c) => pm.put(s, java.lang.Long.valueOf(c)) }
      (w: String) => {
        val (np, _, path) = unigramSegment(w, pm, maxLen)
        (path, np, 0.0)
      }
    }

  /** Unigram-LM training by expectation-maximization over the capped
    * word-TYPE histogram (Kudo 2018 §3.2; the corpus-sized work is the
    * same ONE histogram aggregate as [[bpeTrain]] — EM itself runs on the
    * driver over bounded types × bounded lattice positions).
    *
    * Per round: E-step computes expected piece counts by forward-backward
    * over each word's segmentation lattice (probabilities in log space,
    * summed via log-sum-exp); M-step renormalizes; then the lowest-
    * expected-count pieces are pruned toward `vocabSize` (never below
    * character coverage). Returns (piece, logProb), logs base e.
    * Likelihood is non-decreasing within every EM round between prunes
    * (asserted in CorpusSpec). */
  def unigramTrainEm(
      docs: DataFrame,
      textCol: String,
      maxLen: Int = 4,
      vocabSize: Int = 60,
      emIters: Int = 2,
      pruneRounds: Int = 3,
      maxWords: Int = 1000000): Array[(String, Double)] = {
    val hist = wordHistogram(docs, textCol, maxWords)
    // seed pieces: every <=maxLen substring of the word types, prob
    // proportional to weighted occurrence count
    val seed = scala.collection.mutable.HashMap.empty[String, Double]
    hist.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var n = 1
        while (n <= math.min(maxLen, w.length - i)) {
          val s = w.substring(i, i + n)
          seed(s) = seed.getOrElse(s, 0.0) + c.toDouble
          n += 1
        }
        i += 1
      }
    }
    var probs: Map[String, Double] = {
      val tot = seed.values.sum
      seed.iterator.map { case (s, c) => s -> c / tot }.toMap
    }
    def logSumExp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    val likTrace = Seq.newBuilder[Double]
    var round = 0
    while (round < pruneRounds) {
      var iter = 0
      while (iter < emIters) {
        val expected = scala.collection.mutable.HashMap.empty[String, Double]
        var lik = 0.0
        hist.foreach { case (w, wc) =>
          val L = w.length
          // forward: alpha(j) = logsum over n of alpha(j-n) + logp(piece)
          val alpha = Array.fill(L + 1)(Double.NegativeInfinity)
          alpha(0) = 0.0
          forEachEdge(L, maxLen) { (pre, j) =>
            probs.get(w.substring(pre, j)).foreach { p =>
              alpha(j) = logSumExp(alpha(j), alpha(pre) + math.log(p))
            }
          }
          val z = alpha(L)
          if (z != Double.NegativeInfinity) {
            lik += wc * z
            // backward
            val beta = Array.fill(L + 1)(Double.NegativeInfinity)
            beta(L) = 0.0
            var i2 = L - 1
            while (i2 >= 0) {
              var n = 1
              while (n <= math.min(maxLen, L - i2)) {
                probs.get(w.substring(i2, i2 + n)).foreach { p =>
                  beta(i2) = logSumExp(beta(i2), math.log(p) + beta(i2 + n))
                }
                n += 1
              }
              i2 -= 1
            }
            // expected count of each lattice edge: alpha(i)+logp+beta(j)-z
            var i3 = 0
            while (i3 < L) {
              var n = 1
              while (n <= math.min(maxLen, L - i3)) {
                val s = w.substring(i3, i3 + n)
                probs.get(s).foreach { p =>
                  val e = math.exp(alpha(i3) + math.log(p) + beta(i3 + n) - z)
                  expected(s) = expected.getOrElse(s, 0.0) + wc * e
                }
                n += 1
              }
              i3 += 1
            }
          }
        }
        likTrace += lik
        val tot = expected.values.sum
        probs = expected.iterator.map { case (s, e) => s -> e / tot }.toMap
        iter += 1
      }
      // prune toward vocabSize: keep all single chars (coverage), then the
      // highest-probability multi-char pieces
      if (round < pruneRounds - 1) {
        val (chars, multi) = probs.partition(_._1.length == 1)
        val budget = math.max(0, vocabSize - chars.size)
        val kept = multi.toSeq.sortBy { case (s, p) => (-p, s) }.take(budget)
        val sum = chars.values.sum + kept.map(_._2).sum
        probs = (chars ++ kept).map { case (s, p) => s -> p / sum }.toMap
      }
      round += 1
    }
    unigramLikTrace = likTrace.result()
    probs.toSeq.sortBy { case (s, p) => (-p, s) }
      .map { case (s, p) => (s, math.log(p)) }.toArray
  }

  /** Likelihood trace of the most recent [[unigramTrainEm]] call (driver-
    * side diagnostics; CorpusSpec asserts monotonicity within EM rounds). */
  @volatile private[graft] var unigramLikTrace: Seq[Double] = Nil

  /** Float Viterbi over one word under trained log-probs: maximize the
    * summed piece log-probability (fewer pieces win implicitly — every
    * added piece costs its negative log-prob). */
  private[graft] def unigramSegmentLogp(word: String,
      pm: java.util.HashMap[String, java.lang.Double],
      maxLen: Int): (String, Int, Double) = {
    val L = word.length
    val bs = Array.fill(L + 1)(Double.NegativeInfinity)
    val bn = new Array[Int](L + 1)
    val bp = new Array[String](L + 1)
    bs(0) = 0.0; bp(0) = ""
    forEachEdge(L, maxLen) { (pre, j) =>
      if (bs(pre) != Double.NegativeInfinity) {
        val lp = pm.get(word.substring(pre, j))
        if (lp != null) {
          val c = bs(pre) + lp.doubleValue
          if (c > bs(j)) {
            bs(j) = c; bn(j) = bn(pre) + 1
            bp(j) = if (pre == 0) word.substring(pre, j)
              else bp(pre) + "|" + word.substring(pre, j)
          }
        }
      }
    }
    if (bs(L) == Double.NegativeInfinity)
      throw new IllegalArgumentException(
        s"unigram: word '$word' is not segmentable under the trained table")
    (bp(L), bn(L), bs(L))
  }

  /** Viterbi encode under TRAINED log-probs ([[encodeCorpus]] over
    * [[unigramSegmentLogp]]); spec-gated — float scores stay within one
    * engine. */
  def unigramEncodeLogp(docs: DataFrame, idCol: String, textCol: String,
      pieces: Array[(String, Double)], maxLen: Int = 4): DataFrame =
    encodeCorpus(docs, idCol, textCol, withScore = true) { () =>
      val pm = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      pieces.foreach { case (s, c) => pm.put(s, java.lang.Double.valueOf(c)) }
      (w: String) => unigramSegmentLogp(w, pm, maxLen)
    }
}
