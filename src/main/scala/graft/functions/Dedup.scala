package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * Beyond-reference extensions (the reference has no aggregation at all,
  * SURVEY.md §2.7); designed 100-TB-first:
  *
  *  - exact dedup — one hash-partitioned aggregation, no data movement
  *    beyond the groupBy shuffle;
  *  - MinHash + LSH banding — signatures are computed scan-side (per-row
  *    higher-order functions inside codegen), candidate generation shuffles
  *    only (band_idx, band_hash, doc_id) tuples, and exact verification
  *    touches only candidate pairs. This is the standard shingle→minhash→
  *    band→bucket-join pipeline;
  *  - SimHash — 52-bit fingerprint per document (fits a long exactly via
  *    power-of-two doubles ≤ 2^52), hamming-comparable with `bit_count`;
  *  - exact n-gram Jaccard — explode/equi-join/count, the SQL-oracle-able
  *    exact path (quadratic only within shingle-sharing groups).
  *
  * All hash math stays below 2^62 so Spark 4's ANSI overflow checks never
  * trip: base hashes are reduced mod the Mersenne prime 2^31-1 before the
  * (a*h + b) universal-hash step.
  */
object Dedup {

  /** Mersenne prime 2^31-1: universal-hash modulus. */
  private val P = 2147483647L

  /** DEFAULT document-frequency cap for the shingle-keyed near-dup
    * candidate generators ([[jaccardPrefixPairs]], [[containmentPairs]],
    * [[sharedSubstringPairs]]; [[ngramJaccardPairs]] inherits it through
    * its prefix delegation). Measured, not guessed (r18): candidate pairs
    * from any shingle-keyed equi-join grow as Σ df² over shingle document
    * frequencies, and df grows with corpus size (Heaps-law vocabulary
    * growth keeps per-shingle df rising ~10× per 10× rows on the staged
    * corpora: max df 7 → 25 → 85 → 855 at sf0.01/0.1/1/10). 128 sits in
    * the decade gap between the largest oracle-scale df (85 at sf1 — so
    * every oracle-verified scale is PROVABLY exact under the default) and
    * the sf10 regime, where shingles with df > 128 carry 99.6% of the
    * Σ df² pair space (1.47e10 of 1.48e10) — the uncapped forms measured
    * 22–56× growth per 10× rows or a 50 GB spill-disk wall there
    * (BENCH_SPOT_sf10.json), while Σ_kept df² ≤ 128·Σ df keeps the capped
    * candidate space linear in corpus size by construction. Semantics
    * under the cap are documented per operator (subset with exact values
    * for the prefix/containment/substring family); pass `None` for the
    * uncapped audit form. */
  val DefaultMaxDocFreq: Int = 128

  /** DEFAULT LSH bucket-size cap for [[minHashLshPairs]] (and the
    * [[nearDupPairs]] recommended entry point). Measured (r17 sf1→sf10
    * decade probe): uncapped band buckets grow with template/boilerplate
    * cluster size and the self-join's candidate volume is Σ bucket² —
    * 22.1× growth per 10× rows at 500k docs; with this cap the same gate
    * holds 4.49×. Natural near-dup clusters on every oracle-verified
    * corpus are ≤ 6 docs, so the default is provably exact there
    * (oracle-gated `dedup_minhash_capped` / `dedup_neardup_default`:
    * a planted 40-doc template cluster is dropped, nothing else moves).
    * A bucket above the cap is template/boilerplate — stage-1 exact or
    * paragraph dedup territory, not pairwise near-dup's job. Pass
    * `Int.MaxValue` for the uncapped audit form. */
  val DefaultMaxBucketSize: Int = 32

  /** MinHash signature column: k minima of universal hashes over the
    * shingle set. Shingle strings are hashed once (xxhash64 mod P — the
    * codegen'd [[graft.expressions.XxHash64ModArray]] loop, bit-identical
    * to `transform(sh, s -> pmod(xxhash64(s), P))` but without the HOF:
    * higher-order functions interpreted the lambda per element AND kept
    * the downstream [[graft.expressions.MinHashSignature]] expression off
    * the whole-stage-codegen path), then the k×n minima loop runs fully
    * codegen'd. */
  def minhashSignature(shinglesCol: Column, k: Int = 64, seed: Long = 42L): Column = {
    val hashed = graft.expressions.LshFunctions.xxhash64_mod_array(shinglesCol, P)
    graft.expressions.MinHashFunctions.minhash_signature(hashed, k, seed)
  }

  /** Persistence of every multi-consumer near-dup stage: spill-safe at
    * cluster scale, where the stage would be a checkpointed intermediate
    * table; it stays for the query's lifetime (callers clear the cache,
    * Spark evicts LRU). */
  private val Spill = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** (doc_id, extra…, sh): each document's distinct `n`-word shingle set,
    * the first stage of every shingle-keyed near-dup operator. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int, extra: Column*): DataFrame =
    docs.select((col(idCol).as("doc_id") +: extra :+
      TextOps.shingles(col(textCol), n).as("sh")): _*)

  /** [[shingleSets]] without the documents that have no shingle. */
  private def nonEmptySets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleSets(docs, idCol, textCol, n).where(size(col("sh")) > 0)

  /** Document frequency `df` per shingle `s` of an exploded shingle stream
    * (shingles are distinct within a doc, so occurrences = documents). */
  private def docFreq(exploded: DataFrame): DataFrame =
    exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))

  /** The heavy-shingle cap: `exploded` without the shingles of more than
    * `cap` documents (`df` from [[docFreq]]). Broadcast the HEAVY set
    * (small by definition — it's the cap's point) and anti-join:
    * broadcasting the complement ("rare") would ship nearly the whole
    * shingle vocabulary of a natural-language corpus through the driver.
    * `None` keeps every shingle. */
  private def dropHeavy(exploded: DataFrame, df: => DataFrame,
      maxDocFreq: Option[Int]): DataFrame = maxDocFreq match {
    case Some(cap) =>
      exploded.join(broadcast(df.where(col("df") > cap).select("s")), Seq("s"), "left_anti")
    case None => exploded
  }

  /** Exact shared-shingle counts, column `as`, per pair doc_a < doc_b of
    * an exploded (doc_id, s, h = xxhash64(s)) stream: an equi-self-join
    * keyed on the hash with the string itself verified in the same
    * condition — exactness is untouched (string equality still gates
    * every matched row) but the sort/compare hot loop works on longs
    * first, measured 13% faster than the string-keyed join at sf0.1. */
  private def sharedCounts(exploded: DataFrame, as: String): DataFrame =
    exploded.alias("a").join(exploded.alias("b"),
        col("a.h") === col("b.h") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as(as))

  /** The exploded (doc_id, s, h = xxhash64(s)) stream of `sh` under the
    * heavy-shingle cap ([[dropHeavy]]). */
  private def cappedHashed(sh: DataFrame, maxDocFreq: Option[Int]): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    dropHeavy(exploded, docFreq(exploded), maxDocFreq)
  }

  /** Exact intersection counts `inter` of every shingle-sharing pair of
    * `sh` ([[sharedCounts]] over `exploded`), with both set sizes
    * `sz_a`, `sz_b`. */
  private def interWithSizes(sh: DataFrame, exploded: DataFrame): DataFrame =
    bothSides(sharedCounts(exploded, "inter"),
      sh.select(col("doc_id"), size(col("sh")).as("sz")), "sz")

  /** (doc_id, sz, s): every shingle of `sh` beside its set's size. */
  private def sizedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))

  /** `pairs` (doc_a, doc_b, …) with `perDoc`'s column `v` of each side
    * joined on as `v_a` and `v_b`. */
  private def bothSides(pairs: DataFrame, perDoc: DataFrame, v: String): DataFrame =
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col(v).as(s"${v}_a")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col(v).as(s"${v}_b")), "doc_b")

  /** The exact verifier: candidate pairs whose shingle-set Jaccard, over
    * the full sets of `sh`, reaches `threshold` — (doc_a, doc_b, jaccard),
    * no false positives whatever generated the candidates. */
  private def verifiedJaccard(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    bothSides(cand, sh, "sh")
      .withColumn("jaccard", TextOps.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Containment of each side in the other from an `inter` count and the
    * two set sizes; pairs whose larger containment reaches `threshold`. */
  private def containments(pairs: DataFrame, szA: Column, szB: Column,
      threshold: Double): DataFrame =
    pairs
      .withColumn("cont_a_in_b", col("inter").cast("double") / szA.cast("double"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / szB.cast("double"))
      .where(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("cont_a_in_b"), col("cont_b_in_a"))

  /** The prefix filter (AllPairs/PPJoin): the rows of `ranked` (doc_id,
    * sz, s, df) inside their document's prefix — the first
    * `sz - ceil(t*sz) + 1` shingles under the global (df asc, s asc)
    * rarity order — with their position `pos`. Two sets reaching `t`
    * must share a prefix shingle, so candidates drawn from prefixes lose
    * nothing. The per-doc window runs over thousands of small
    * partitions, never one reducer. ceil(t*sz - 1e-9): the epsilon only
    * ever LENGTHENS the prefix (a 1-ulp wobble can add a candidate —
    * harmless, verification is exact — but never lose one). */
  private def prefixRows(ranked: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("s").asc)
    ranked
      .withColumn("pos", row_number().over(w))
      .where(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
  }

  /** Exact duplicate groups by content fingerprint (hash-groupBy).
    * Returns (fp, keep_id, n_copies): the retained representative is the
    * minimum id — deterministic under any partitioning. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Paragraph-level exact dedup — the C4/Dolma SUB-document pass: a
    * boilerplate paragraph (nav text, license header, disclaimer) repeats
    * across millions of pages that are each globally unique, so document
    * dedup never touches it. Each document is split at `sep`; every
    * distinct paragraph is kept ONLY at its canonical first occurrence —
    * the (min doc_id, then min position) site, deterministic under any
    * partitioning — and documents are reassembled from their kept
    * paragraphs in original order (a document whose every paragraph is
    * canonical elsewhere drops entirely).
    *
    * Scale shape: posexplode (map-only) → ONE hash aggregation keyed by
    * the paragraph's md5 FINGERPRINT finds the canonical site
    * (`min(struct(doc_id, pos))` partial agg, map-side combined, never a
    * corpus-wide window — and the shuffle ships 16-byte digests, not
    * KB-scale paragraph text) → an equi-join back on the digest → per-doc
    * ordered re-assembly whose collect state is bounded by a single
    * document's length. Content identity by md5 is the same convention
    * [[exact]] ships. Output: (doc_id, n_paras, text) — deduped documents
    * only. */
  def dedupParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String): DataFrame = {
    val parts = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("fp", md5(col("para").cast("binary")))
    val canon = parts.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    parts.join(canon, Seq("fp"))
      .where(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          e => e.getField("para")), sep).as("text"))
  }

  /** THE RECOMMENDED NEAR-DUP ENTRY POINT (r18 — the [[graft.functions.Similarity.annTopK]]
    * pattern applied to the jaccard family): near-duplicate document pairs
    * at `threshold` Jaccard over word shingles, with the measured
    * scale-contract configuration and no tuning knobs. Routes to
    * MinHash+LSH at 16 bands × 4 rows — the S-curve catches j ≥ 0.8 pairs
    * with P > 0.999 per pair (lower just above the threshold), and every
    * candidate is exact-verified (no false positives). The output matches
    * the exact Jaccard answer on every oracle-verified corpus (oracle
    * `dedup_neardup_default` proves hash-equality against brute-force
    * SQL); in general it is probabilistic — recall ≥ 0.999 per pair at
    * j ≥ 0.8 — with the [[DefaultMaxBucketSize]] heavy-bucket guard engaged:
    * sub-linear candidate growth measured at the sf1→sf10 decade (4.49×
    * per 10× rows vs 22.1× uncapped, BENCH_SPOT_sf10.json).
    *
    * Pipeline placement: run [[exact]] (and [[dedupParagraphs]] for
    * boilerplate) FIRST — a >32-doc identical-template cluster is
    * stage-1's job and is deliberately dropped by the bucket guard here.
    * For thresholds below ~0.7 the 16×4 S-curve loses recall; use
    * [[jaccardPrefixPairs]] (exact, df-capped by default) instead.
    *
    * What NOT to use for corpus-scale near-dup: the uncapped audit twins
    * (`maxBucketSize = Int.MaxValue`, `maxDocFreq = None`) — measured
    * 22–56× growth per 10× rows or a spill-disk wall at 500k docs; they
    * exist as differential-testing oracles, not defaults. */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleLen: Int = 3): DataFrame =
    minHashLshPairs(docs, idCol, textCol, shingleLen,
      bands = 16, rowsPerBand = 4, threshold = threshold)

  /** THE RECOMMENDED EMBEDDING NEAR-DUP ENTRY POINT (r19 — the
    * [[nearDupPairs]] pattern applied to the embedding family, closing
    * the last scaladoc-only scale steering): near-duplicate vector pairs
    * at `threshold` cosine, with geometry derived FROM THE CORPUS by
    * [[graft.functions.Similarity.lshGeometryForCorpus]] — plane count
    * grows ~log₂(n) so the random-pair candidate mass per row stays
    * under `budgetPerRow` (candidate volume ~linear in corpus size BY
    * CONSTRUCTION, never the fixed-geometry n²·bands·2^-planes), and
    * among admissible settings the solver maximizes expected recall at
    * exactly cos = θ. That expected recall is RETURNED next to the
    * pairs — log it; what degrades at scale is visible, not hidden.
    * Every candidate is exact-verified (no false positives); on every
    * oracle-verified corpus the output hash-equals the exact all-pairs
    * answer (`dedup_neardup_embeddings` gate).
    *
    * The corpus `count()` runs once per call (footer-metadata read for a
    * plain parquet scan). For thresholds below ~0.6 prefer
    * [[graft.functions.Similarity.cosinePairsExact]] when the output
    * itself is quadratic and computable, or lower `budgetPerRow` and
    * accept the returned recall — at low θ no hyperplane geometry can
    * hold recall ≥ 1−1e-5 while pruning (measured and documented at
    * [[graft.functions.Similarity.cosinePairsLsh]]). */
  def nearDupEmbeddings(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      budgetPerRow: Double = 32.0,
      dim: Int = 64): (DataFrame, Double) =
    // eager by design: the corpus size picks the plane count and band
    // geometry, which shape the plan itself (and the returned recall), so
    // it cannot wait for the caller's action (DedupSpec pins the job)
    Similarity.cosinePairsLshScaled(emb, idCol, vecCol, threshold,
      corpusSize = emb.count(), budgetPerRow = budgetPerRow, dim = dim)

  /** MinHash+LSH near-duplicate pairs, exact-verified.
    *
    * bands×rowsPerBand hash functions; a pair becomes a candidate if any
    * band agrees, then exact shingle Jaccard filters to `threshold`. With
    * 16×4 the S-curve catches j≥0.8 pairs with P > 0.999. Shuffle volume:
    * bands (small tuples) + candidate pairs only — never all-pairs.
    *
    * `maxBucketSize` defaults to the measured [[DefaultMaxBucketSize]]
    * guard (r18 — the cap IS the default, not a dial): band buckets above
    * the cap are dropped before the quadratic self-join. Results are a
    * subset of the uncapped answer (no false positives); on every
    * oracle-verified corpus natural buckets are ≤ 6, so the default is
    * exact there. `Int.MaxValue` = the uncapped audit form (super-linear
    * at scale — BENCH_SPOT_sf10.json measured 22.1× per 10× rows).
    */
  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val k = bands * rowsPerBand
    // The shingle+signature stage feeds FOUR consumers (both sides of the
    // band self-join, both sides of the verify join). Without persistence
    // Spark recomputes the O(k·|shingles|) signature per consumer — 4× the
    // dominant cost.
    val sh = nonEmptySets(docs, idCol, textCol, shingleLen).persist(Spill)
    val withSig = sh.withColumn("sig", minhashSignature(col("sh"), k, seed))
    val bandDf = withSig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => hash(slice(col("sig"), j * lit(rowsPerBand) + lit(1), lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    // Heavy-bucket guard (r17, measured at the sf1→sf10 decade): the band
    // self-join's candidate volume is Σ bucket² — ONE boilerplate/template
    // cluster of B near-identical docs lands all B rows in the same bucket
    // in EVERY band and contributes O(bands·B²) candidate pairs of
    // near-zero marginal information (they all collapse to one keeper
    // anyway). The standard web-scale guard: drop buckets above a size
    // cap BEFORE the quadratic join — a co-partitioned partial-agg +
    // semi-join on the same (band_idx, band_hash) key the self-join
    // shuffles on, so the guard adds no extra exchange pattern and the
    // mega-buckets never reach the pair space. Uncapped growth measured
    // 22.1× per 10× rows at 500k docs; capped forms of the same family
    // hold ~4–10× (BENCH_SPOT_sf10.json).
    val banded =
      if (maxBucketSize == Int.MaxValue) bandDf
      else {
        // the guard makes bandDf a THREE-consumer plan (the bucket-count
        // aggregate plus both sides of the self-join) while persistence
        // sits at the pre-signature `sh` stage — without its own persist
        // the O(k·|shingles|) signature+explode stage recomputes per
        // consumer (ADVICE r17 #3). Same lifetime note as `sh`.
        val bandP = bandDf.persist(Spill)
        val ok = bandP.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("bucket_n"))
          .where(col("bucket_n") <= maxBucketSize)
          .drop("bucket_n")
        bandP.join(ok, Seq("band_idx", "band_hash"))
      }
    val a = banded.alias("a")
    val b = banded.alias("b")
    val candidates = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(candidates, sh, threshold)
  }

  /** Bit j of a nonnegative value < 2^52, extracted with exact power-of-two
    * double math (Spark's shift builtins only take literal shift amounts;
    * doubles are exact for values ≤ 2^52, so this is lossless). */
  private def bitAt(v: Column, j: Column): Column =
    pmod(floor(v.cast("double") / pow(lit(2.0), j)).cast("long"), lit(2L))

  /** 52-bit SimHash fingerprint over the distinct-token set. Bit j is set
    * when the majority of token hashes have bit j set. Powers of two ≤ 2^52
    * are exact in double, so the fold stays overflow-safe and precise. */
  def simhash(textCol: Column, bits: Int = 52): Column = {
    require(bits <= 52, "bits > 52 would lose precision in the double fold")
    val th = transform(array_distinct(TextOps.tokens(textCol)),
      t => pmod(xxhash64(t), lit(1L << 52)))
    // lambda-let binding (r19): higher-order-function lambdas evaluate
    // interpreted with no subexpression elimination, so referencing `th`
    // directly inside the per-bit fold re-tokenized and re-hashed the
    // document once PER BIT (52×). Binding the hash array as the single
    // element of a 1-element array makes every inner reference a cheap
    // lambda-variable read; values are bit-identical (same fold over the
    // same array).
    def fold(ths: Column): Column = aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0.0),
      (acc, j) => acc + when(
        aggregate(ths, lit(0L), (a2, h) => a2 + bitAt(h, j) * 2L - 1L) > 0L,
        pow(lit(2.0), j)).otherwise(lit(0.0)))
    element_at(transform(array(th), ths => fold(ths)), 1).cast("long")
  }

  /** SimHash near-dup candidate pairs by hamming distance, banded on
    * 13-bit chunks (a pair within hamming distance 3 of a 52-bit hash must
    * agree on at least one of 4 chunks). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // fp feeds both sides of the chunk self-join — persist to avoid
    // recomputing the O(bits·|tokens|) fingerprint fold twice.
    val withFp = docs.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("fp"))
      .persist(Spill)
    val chunks = withFp.select(col("doc_id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(3)),
        j => pmod(floor(col("fp").cast("double") / pow(lit(2.0), j * lit(13))).cast("long"),
          lit(8192L)))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val a = chunks.alias("a")
    val b = chunks.alias("b")
    a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Connected-components duplicate clustering: every node of the
    * undirected near-dup edge set gets the MINIMUM node id reachable from
    * it — its cluster's canonical representative (the "keep lowest doc_id
    * per duplicate cluster" step that follows any pairwise dedup:
    * pairwise output alone over-deletes when A~B and B~C but the pipeline
    * drops both B and C against different keepers).
    *
    * Algorithm: min-label propagation WITH pointer jumping (the HashToMin
    * family — "Connected Components in MapReduce and Beyond", Rastogi et
    * al., public literature). Each round every node takes the min of (its
    * own label, its neighbors' labels, its label's label): the third term
    * is the pointer jump — labels chase their own target through the
    * current label map, so label reach DOUBLES per round and convergence
    * is O(log diameter) rounds instead of O(diameter). That matters
    * twice: a pathological near-dup chain (paginated boilerplate) no
    * longer costs one full shuffle round per hop, and the driver loop
    * issues ~4 jobs for any realistic cluster shape instead of ~15.
    * Per round: one hash-partitioned equi-join + partial-aggregated
    * groupBy (neighbor min) and one self-join of the label map (jump) —
    * no all-pairs, no driver state. Convergence is detected from a flag
    * computed IN the same row (`improved` = new < old), so materializing
    * the round's labels and testing the fixpoint is ONE action with no
    * extra join. The loop is bounded by `maxIter` with a loud failure
    * rather than a silent wrong answer (2^maxIter diameter headroom);
    * each round's labels are checkpointed and the previous round's
    * checkpoint blocks explicitly freed, so lineage AND storage stay
    * bounded at two label maps regardless of round count.
    *
    * Returns (doc_id, canon_id) for every node that appears in an edge;
    * callers left-join singletons back with canon_id = doc_id. */
  private def checkpointBlocks(ds: org.apache.spark.sql.Dataset[_]) =
    ds.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** `checkpointDir`: when set, per-round materialization uses RELIABLE
    * checkpoints (`df.checkpoint()` into this directory — typically on the
    * cluster's DFS) instead of `localCheckpoint()`. localCheckpoint stores
    * partitions in executor block storage and does NOT survive executor
    * loss — acceptable for short jobs, not for a multi-hour 100 TB CC run
    * where losing one executor at round 18 restarts everything (round-7
    * verdict #6). Reliable mode trades per-round write bandwidth for
    * fault tolerance; checkpoint files are cleaned by Spark only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, otherwise
    * the caller owns the directory's lifecycle. */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // localCheckpoint (eager), NOT persist: `labels` appears THREE times in
    // each round's plan (neighbor-min, hop, jump), so with lineage intact
    // the logical plan would grow 3^round copies of the full edge-derivation
    // subtree — measured as seconds of DRIVER analysis/optimization time by
    // round 2 even with every round's data cached. Checkpointing truncates
    // the plan to the materialized partitions, so per-round plan size (and
    // driver overhead) is CONSTANT regardless of round count. The
    // materialized label map is one row per edge-participating node, stored
    // across executors (MEMORY_AND_DISK) — scales horizontally.
    //
    // Checkpoint blocks bypass the CacheManager (catalog.clearCache() does
    // NOT free them), so each round's blocks are released EXPLICITLY via
    // the LogicalRDD handle once the next round is materialized — without
    // that, a long session pins O(rounds) label maps + the edge set until
    // some future GC runs the ContextCleaner. Only the final round's
    // blocks stay alive: the returned DataFrame reads them.
    //
    // Both directions come from ONE pass over the edges: a union of the
    // forward and reversed projections would evaluate the whole pair
    // derivation twice.
    val sym = ckpt(edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // init fuses what would be round 0: label₀ = min(node, min neighbor).
    // One partial-aggregated groupBy over the edge set — it both dedups
    // the node set (replacing a distinct) and gives every node its 1-hop
    // minimum before the first join round runs.
    var labels = ckpt(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"),
        least(col("src"), col("mn")).as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor minima: edge (src ← dst's label), then min over src's
      // neighborhood — partial aggregation combines map-side
      val nbrMin = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("label")).as("nbr_min"))
      // pointer jump: resolve each node's CANDIDATE label one more hop
      // through the current map. Every label value is itself a node of the
      // same component (labels only ever flow from reachable nodes), so
      // the inner join is total.
      val hop = labels.join(nbrMin, "node")
        .select(col("node"), col("label").as("old"),
          least(col("label"), col("nbr_min")).as("l1"))
      val jump = labels.select(col("node").as("l1"), col("label").as("l2"))
      // eager checkpoint materializes the round; the convergence flag is
      // computed IN the row, so testing the fixpoint reads checkpointed
      // partitions — no extra join, no lineage growth
      val next = ckpt(hop.join(jump, "l1")
        .select(col("node"), least(col("l1"), col("l2")).as("label"),
          (least(col("l1"), col("l2")) < col("old")).as("improved")))
      // eager by design: whether to run another round is decided on this
      // round's data before the next round is built (DedupSpec pins the
      // jobs)
      val changed = next.where(col("improved")).limit(1).count()
      // `next` is materialized — the previous round's checkpoint blocks
      // are dead now; free them instead of waiting for a GC
      checkpointBlocks(labels).foreach(_.unpersist(false))
      labels = next.select(col("node"), col("label"))
      converged = changed == 0L
      iter += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxIter rounds — " +
        "cluster diameter exceeds the bound; raise maxIter")
    checkpointBlocks(sym).foreach(_.unpersist(false))
    // The final round's checkpoint blocks (which also carry the dead
    // `improved` column) bypass the CacheManager — catalog.clearCache()
    // would never reclaim them, so a long-lived session would pin one
    // label map per connectedComponents call. Copy the labels into a
    // CacheManager-managed persist, materialize it, then free the
    // checkpoint blocks: the returned DataFrame reads the managed cache
    // and is reclaimed by the caller's clearCache(). (Recomputation of
    // the managed copy after the blocks are freed would fail, but
    // MEMORY_AND_DISK spills rather than evicts — losing these blocks
    // requires executor failure, which localCheckpoint itself already
    // does not survive.)
    val out = labels.select(col("node").as("doc_id"), col("label").as("canon_id"))
      .persist(Spill)
    // eager: the managed copy must hold the labels before the blocks it
    // reads go
    out.count()
    checkpointBlocks(labels).foreach(_.unpersist(false))
    out
  }

  /** Incremental ingest dedup: which docs of a NEW batch are genuinely
    * fresh against an EXISTING corpus — the daily-ingest step of a living
    * training corpus (re-crawled pages must not re-enter). Content-hash
    * anti-join: batch hashes against the corpus's distinct hash set, then
    * an in-batch keep-min collapse (the batch itself may carry duplicates).
    * The anti-join is a plain equi-join on the digest, so the planner
    * picks the right physical form per scale: at test scale the distinct
    * digest set is under the broadcast threshold and broadcasts; at corpus
    * scale it exceeds it and the join hash-partitions on the digest —
    * nothing quadratic either way. In production the corpus digest set
    * would be a bucketed table so re-ingest anti-joins are exchange-free. */
  def incremental(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bh = batch.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
    val ch = corpus.select(md5(col(textCol)).as("h")).distinct()
    bh.join(ch, Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("h"))
  }

  /** Benchmark decontamination: for every NON-eval document, the number of
    * distinct word n-grams it shares with the eval set — the train/test
    * contamination check every LLM training pipeline runs before a corpus
    * ships (docs with n_hits > 0 are quarantined or stripped).
    *
    * Shape: the eval side's distinct shingle set is SMALL by construction
    * (benchmarks are thousands of documents, the corpus is billions), so it
    * broadcasts — the train side is one linear explode probed against the
    * broadcast hash set, no shuffle until the per-doc count aggregation
    * (partial map-side). A 100 TB corpus pays one scan; nothing quadratic,
    * nothing driver-side. */
  def contamination(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalPred: Column,
      shingleLen: Int = 8): DataFrame =
    contaminationHits(docs, idCol, textCol, evalPred, shingleLen, bloom = None)

  /** Bloom-pruned [[contamination]] — EXACTLY the same result through the
    * scale path for when the eval side outgrows a broadcast hash set: a
    * full benchmark battery plus its augmentations runs to hundreds of
    * millions of distinct grams, too big to ship to every task as an
    * exact set but fine as a Bloom filter (~1.2 GB at fpp=0.01 for 1e9
    * keys vs tens of GB exact). The train side's exploded gram stream is
    * probed SCAN-SIDE against `might_contain(xxhash64(gram))` — false
    * positives pass, false negatives cannot — so only the matching
    * sliver (true hits + fpp of the rest) reaches the equi-join that
    * removes the false positives and the per-doc aggregation behind it.
    * The join stays exact, so the result (and the DuckDB oracle) is
    * bit-identical to [[contamination]]; the Bloom probe only shrinks
    * what the exchange carries — the same inversion [[graft.operators.Joins.bloomAntiJoin]]
    * documents, applied to the contamination probe.
    *
    * At test scale the planner still broadcasts the eval grams; at corpus
    * scale that join hash-partitions and the probe is what keeps the
    * shuffled gram volume ~(hits + fpp·corpus) instead of the whole
    * corpus. */
  def contaminationBloom(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalPred: Column,
      shingleLen: Int = 8,
      expectedGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame =
    contaminationHits(docs, idCol, textCol, evalPred, shingleLen,
      bloom = Some((expectedGrams, fpp)))

  /** The body of [[contamination]] and, with `bloom` = (expected grams,
    * fpp), of [[contaminationBloom]]: per non-eval document, the distinct
    * eval grams it holds. */
  private def contaminationHits(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalPred: Column,
      shingleLen: Int,
      bloom: Option[(Long, Double)]): DataFrame = {
    // sh feeds both the eval-gram build and the train probe — persist so
    // the corpus (and the 8-gram pass) is read once.
    // A NULL predicate must not drop the doc from BOTH sides (`where(p)`
    // and `where(!p)` each discard NULLs) — normalize to false so every
    // doc lands on exactly one side and is contamination-checked.
    val sh = shingleSets(docs, idCol, textCol, shingleLen,
      coalesce(evalPred, lit(false)).as("is_eval")).persist(Spill)
    val grams = sh.where(col("is_eval"))
      .select(explode(col("sh")).as("g")).distinct()
    // the Bloom build and the join both read the eval grams
    val evalGrams = if (bloom.isDefined) grams.persist(Spill) else grams
    val trainAll = sh.where(!col("is_eval"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val train = bloom.fold(trainAll) { case (expectedGrams, fpp) =>
      val bf = evalGrams.stat.bloomFilter(xxhash64(col("g")), expectedGrams, fpp)
      trainAll.where(graft.expressions.BloomFunctions.bloom_might_contain(
        xxhash64(col("g")), bf))
    }
    train.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hits"))
  }

  /** Shared-long-substring near-dup pairs — the exact-substring duplication
    * criterion ("Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, public literature), token-windowed: two documents
    * pair when they share at least one contiguous `windowTokens`-token
    * span. Unlike whole-document Jaccard this catches PARTIAL overlap — a
    * syndicated paragraph, a quoted license block, a boilerplate footer
    * inside otherwise-unrelated pages — whose global similarity is far
    * below any jaccard threshold.
    *
    * Same scale discipline as [[ngramJaccardPairs]]: distinct windows per
    * doc (one codegen'd shingle pass), exploded hash-keyed equi-self-join
    * (string verified in the condition), quadratic only within groups
    * sharing a span. `maxDocFreq` drops ubiquitous spans before pairing —
    * for this operator that is not just a cost cap but the standard
    * boilerplate guard (a span in thousands of documents is template, not
    * plagiarism); results under a cap are a subset (no false positives).
    * Defaults to the measured [[DefaultMaxDocFreq]] (r18): on every
    * oracle-verified corpus 20-token window dfs never approach the cap
    * (max window df 1 at sf1, 3 at sf0.01), so the default output is
    * provably the exact answer there, while at corpus scale the cap is
    * what keeps the span-keyed pair space linear. `None` = uncapped audit
    * form. Returns (doc_a, doc_b, n_shared) with n_shared = count of
    * distinct shared spans. */
  def sharedSubstringPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      maxDocFreq: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    val sh = nonEmptySets(docs, idCol, textCol, windowTokens)
    sharedCounts(cappedHashed(sh, maxDocFreq), "n_shared")
  }

  /** Exact n-gram Jaccard pairs — delegates to the prefix-filtered
    * AllPairs/PPJoin discipline ([[jaccardPrefixPairs]]), passing
    * `maxDocFreq` THROUGH (r19, ADVICE r18 #1 — previously `None`
    * silently became the prefix path's own 128 default, so the API's
    * universal "`None` = no cap" convention was violated and the
    * lossless exact answer was unreachable from this entry point):
    *   - default `Some(DefaultMaxDocFreq)`: the measured scale-safe
    *     shape — candidate generation drops shingles with document
    *     frequency above the cap, results are a SUBSET of the exact
    *     answer with bit-identical jaccard values (verification runs on
    *     the full shingle arrays); on every oracle-verified corpus the
    *     cap never bites and the output is provably exact.
    *   - `None`: the truly uncapped LOSSLESS exact form (the prefix
    *     filter alone is lossless) — the audit twin; its prefix-pair
    *     space grows as Σ df² with corpus size, do not use at scale.
    * The former default — exploding EVERY shingle into an
    * equi-self-join — went quadratic in the heaviest shingle's document
    * frequency (sf1 spot-bench: 133× growth at 10× rows vs the prefix
    * family's 15-25×; r12 verdict #2 retired it). That plan survives as
    * [[ngramJaccardLowerBound]], whose cap has a DIFFERENT contract
    * (capped lower-bound jaccard values, oracle-gated
    * `dedup_jaccard_capped`). */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame =
    jaccardPrefixPairs(docs, idCol, textCol, shingleLen, threshold, maxDocFreq)

  /** The explode-all-shingles equi-self-join form with the LOWER-BOUND
    * `maxDocFreq` dial (oracle-gated `dedup_jaccard_capped`): shingles
    * appearing in more than `maxDocFreq` documents are dropped BEFORE
    * pairing, so the computed intersection (and thus jaccard, over FULL
    * denominators) is a lower bound — results are a subset of the exact
    * answer with RECOMPUTED values, a recall/cost dial with no false
    * positives. The cap itself bounds the plan: every post-filter shingle
    * group has ≤ cap rows, so candidates are ≤ cap·occurrences — linear
    * in corpus size by construction. (This differs from
    * [[jaccardPrefixPairs]]' cap, which only prunes CANDIDATE generation
    * and keeps surviving pairs' values exact.) Also the
    * differential-testing twin DedupSpec holds the prefix path against.
    * Do NOT use uncapped (`None`) at scale: candidate count is quadratic
    * in the heaviest shingle's document frequency. */
  def ngramJaccardLowerBound(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // sh feeds sizes (×2) and the pair generation — persist once.
    // A postings-list formulation (groupBy shingle + HOF pair expansion)
    // re-measured within noise of the self-join; a df>=2 shingle
    // prefilter measured NO win (the extra aggregation costs what the
    // pruned join saves). Revisit only if shuffle becomes the bottleneck
    // at cluster scale.
    val sh = shingleSets(docs, idCol, textCol, shingleLen).persist(Spill)
    interWithSizes(sh, cappedHashed(sh, maxDocFreq))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs — Broder's containment coefficient
    * C(A in B) = |A∩B| / |A| on word-shingle sets: flags the inclusion
    * dedup case symmetric Jaccard structurally misses (a short document
    * quoted whole inside a long one has tiny Jaccard but containment ~1 —
    * the dominant shape of eval-set contamination and boilerplate
    * inclusion). Both directions emitted, thresholded on the larger one.
    *
    * Candidate generation is PREFIX-FILTERED (r11 verdict #2 — the former
    * full shingle self-join was the repo's one plan-level scale-killer: a
    * boilerplate shingle shared by 10^5 docs yields 10^10 candidate rows).
    * A pair passes iff |A∩B| >= t·min(|A|,|B|), so the SMALLER side S must
    * share at least ceil(t·|S|) shingles with the other side — its first
    * |S| − ceil(t·|S|) + 1 shingles under the global (df asc, shingle asc)
    * order cannot all be missed. Candidates therefore join every doc's
    * PREFIX against the full shingle stream (either side of a qualifying
    * pair could be the smaller one, and each contributes its own prefix),
    * and every candidate is verified EXACTLY against the persisted shingle
    * arrays — the filter is lossless, same discipline as
    * [[jaccardPrefixPairs]]. Common (boilerplate) shingles land at the END
    * of the frequency order and drop out of every long document's prefix.
    *
    * `maxDocFreq`: additionally drop shingles appearing in more than this
    * many documents from candidate generation — the [[ngramJaccardPairs]]
    * heavy-hitter escape hatch for corpora where even (1−t)-length
    * prefixes of template-heavy docs still reach boilerplate. Verification
    * stays exact on the FULL shingle arrays, so capped results are a
    * subset of the exact answer with bit-identical containment values —
    * a recall/cost dial with no false positives. Defaults to the measured
    * [[DefaultMaxDocFreq]] (r18 — the uncapped form hit a 50 GB spill-disk
    * wall at 500k docs, BENCH_SPOT_sf10.json; on every oracle-verified
    * corpus the default never bites and the output is provably exact).
    * `None` = the uncapped audit form; do not use at scale. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    val sh = nonEmptySets(docs, idCol, textCol, shingleLen).persist(Spill)
    val explodedAll = sizedShingles(sh)
    val dfCounts = docFreq(explodedAll)
    // the optional heavy-hitter cap prunes BOTH sides of candidate
    // generation
    val exploded = dropHeavy(explodedAll, dfCounts, maxDocFreq)
    // candidates join on the 64-bit HASH ALONE — unlike ngramJaccardPairs
    // (whose intersection COUNTS must be exact, so it re-verifies the
    // string in the join), a false candidate here is harmless: every
    // candidate pair is verified exactly against the full shingle arrays
    // below, so a hash collision costs one extra verification, never a
    // wrong row. Shipping only (doc_id, h) halves the candidate shuffle's
    // row width vs carrying the shingle string.
    // r19 optimization round NOTE: extending the jaccardPrefixPairs PPJoin
    // positional filter to this join was implemented and MEASURED WORSE at
    // every scale (sf0.1: 3.5 s → 4.7 s; sf1→sf10 decade: 141 s → 172 s,
    // growth 9.86× → 14.1×): containment's positional bound needs a
    // position on the FULL side too, and computing the (df-join + per-doc
    // window) over ALL occurrences — instead of only the prefix — costs
    // more than the pruned candidates save. Reverted; the prefix ⋈ full
    // shape below stands.
    val prefix = prefixRows(exploded.join(dfCounts, "s"), threshold)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val full = exploded.select(col("doc_id"), xxhash64(col("s")).as("h"))
    // prefix ⋈ full (not prefix ⋈ prefix: only the SMALLER side's prefix
    // is guaranteed to hit, and either side may be the smaller one)
    val cand = prefix.alias("a").join(full.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    containments(
      bothSides(cand, sh, "sh").withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")),
      size(col("sh_a")), size(col("sh_b")), threshold)
  }

  /** The pre-r12 full-self-join containment form — kept as the
    * differential-testing oracle for [[containmentPairs]] (DedupSpec
    * asserts equality across thresholds). Quadratic in the heaviest
    * shingle's document frequency; do not use at scale. */
  private[graft] def containmentPairsBrute(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, shingleLen).persist(Spill)
    containments(interWithSizes(sh, cappedHashed(sh, None)),
      col("sz_a"), col("sz_b"), threshold)
  }

  /** Prefix-filtered exact Jaccard pairs — the AllPairs/PPJoin candidate
    * discipline (Bayardo et al. 2007, Xiao et al. 2011; public
    * literature). Same output as [[ngramJaccardPairs]] — every pair with
    * shingle-set Jaccard >= `threshold` — but candidate generation joins
    * only on each document's PREFIX: its `|d| - ceil(t*|d|) + 1` rarest
    * shingles under one global (document-frequency asc, shingle asc)
    * order. Two sets with Jaccard >= t must share at least one prefix
    * token (|a∩b| >= ceil(t*|a|), so the first |a|-ceil(t*|a|)+1 ordered
    * elements of `a` cannot all be missed), so the filter is lossless;
    * everything the prefix join surfaces is then verified exactly. The
    * candidate join additionally applies the AllPairs LENGTH filter and
    * the PPJoin POSITIONAL filter (both lossless — see the inline note),
    * which the r19 decade probe measured cutting the candidate space
    * 6.1× at 500k docs (19.2M → 3.1M pairs at t=0.7).
    *
    * Why it matters at 100 TB: [[ngramJaccardPairs]] explodes EVERY
    * shingle into the self-join, so a boilerplate shingle shared by 10^5
    * docs contributes 10^10 candidate rows unless `maxDocFreq` caps it
    * (changing the answer). Here common shingles land at the END of the
    * frequency order and drop out of every long document's prefix — the
    * join ships ~(1-t)·corpus shingle occurrences, candidates concentrate
    * on genuinely rare overlap, and the answer is still exact.
    *
    * `maxDocFreq` (default the measured [[DefaultMaxDocFreq]] — r18, the
    * cap IS the default): shingles above the document-frequency cap are
    * additionally dropped from CANDIDATE GENERATION. The prefix discipline
    * alone is lossless but not bounded — prefixes are rank-relative, so
    * once Heaps-law vocabulary growth pushes mid-frequency dfs up with
    * corpus size, prefix-shingle pair counts grow as Σ df² and the r17
    * sf10 probe measured this operator exhausting 50 GB of spill disk at
    * 500k docs; under the cap Σ_kept df² ≤ cap·Σ df is linear in corpus
    * size. Verification stays exact on the FULL shingle arrays, so capped
    * results are a SUBSET of the exact answer with bit-identical jaccard
    * values — a pair is lost only when every prefix witness it has is
    * boilerplate (df > cap). On every oracle-verified corpus (max df 85
    * at sf1) the default never bites and the output is provably exact.
    * `None` = the uncapped lossless audit form; do not use at scale.
    *
    * Shuffle shape: df-count aggregation; rank assignment via
    * [[graft.operators.Joins.zipWithOrdinal]] over the range-sorted vocab
    * (no single-partition window); a per-DOC window for prefix positions
    * (partitioned by doc_id — thousands of small partitions, never one
    * reducer); rank-keyed equi-self-join (long keys, no string compare —
    * rank is unique per shingle); verification joins candidate pairs back
    * to the persisted shingle arrays. */
  def jaccardPrefixPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    val sh = nonEmptySets(docs, idCol, textCol, shingleLen).persist(Spill)
    val exploded = sizedShingles(sh)
    // Global canonical rarity order = the (df asc, shingle asc) PAIR
    // itself: a total order needs no dense ordinal, so the former
    // zipWithOrdinal stage (a full vocabulary range-sort + offset job,
    // r10) is gone — the df aggregate joins straight back and the window
    // sorts on (df, s) with identical positions. Candidates then
    // equi-join on the shingle (hash first, string verified — the
    // ngramJaccardPairs long-key discipline), which rank equality was
    // 1:1 with anyway. Measured 1.9x on the gate at sf0.1 (5.3s -> 2.8s).
    val dfCounts = docFreq(exploded)
    // the heavy-hitter cap filters the joined stream BEFORE the window, so
    // prefix positions run over the kept shingles with sz still FULL —
    // same structure as containmentPairs' capped path (dropping rows can
    // only PROMOTE rarer shingles into the prefix, never lose a rare
    // witness; recall loss comes solely from the dropped heavy shingles
    // themselves, verification stays exact). No new exchange: the df join
    // and the per-doc window already exist in the uncapped plan.
    val kept = maxDocFreq match {
      case Some(cap) => exploded.join(dfCounts, "s").where(col("df") <= cap)
      case None => exploded.join(dfCounts, "s")
    }
    val prefix = prefixRows(kept, threshold)
      .select(col("doc_id"), col("sz"), col("pos"), xxhash64(col("s")).as("h"))
    // candidates join on the 64-bit hash ALONE (r12, same reasoning as
    // containmentPairs): every candidate is verified exactly against the
    // full shingle arrays below, so a hash collision costs one extra
    // verification, never a wrong row — and the candidate shuffle ships
    // (doc_id, sz, pos, h) instead of carrying the shingle string.
    //
    // TWO further LOSSLESS prunes in the join condition (r19 — measured
    // at the sf1→sf10 decade, where the raw prefix-pair space grew 25×
    // per 10× rows under Heaps vocabulary growth; together they cut
    // candidates 19.2M → 3.1M at sf10 for identical output):
    //  - LENGTH filter (AllPairs): jaccard ≥ t forces t·|a| ≤ |b| ≤ |a|/t
    //    (inter ≤ min, union ≥ max ⇒ j ≤ min/max).
    //  - POSITIONAL filter (PPJoin, Xiao et al. 2011): a shared prefix
    //    occurrence at positions (i, j) of the canonical order bounds the
    //    overlap above by 1 + min(|a|−i, |b|−j) AT THE PAIR'S FIRST shared
    //    occurrence (no common shingle can strictly precede the first
    //    match in both docs — it would itself be an earlier match in both
    //    prefixes), and jaccard ≥ t needs inter ≥ ⌈t/(1+t)·(|a|+|b|)⌉.
    //    A pair is kept when ANY of its shared occurrences passes — a
    //    superset of textbook ppjoin's first-occurrence check, so the
    //    true pair always survives via its first occurrence; extra
    //    survivors only cost exact verification. The ceil epsilon only
    //    ever WEAKENS the filter (1-ulp wobble keeps a pair, never loses
    //    one — the prefix-length epsilon discipline).
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") * lit(1.0) >= lit(threshold) * col("a.sz") &&
          col("a.sz") * lit(1.0) >= lit(threshold) * col("b.sz") &&
          lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >=
            ceil(lit(threshold) / (lit(1.0) + threshold) *
              (col("a.sz") + col("b.sz")) - lit(1e-9)))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, sh, threshold)
  }
}
