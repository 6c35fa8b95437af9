package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.dsl.Dsl._
import graft.functions.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis, TextNormalize}
import graft.operators.{EventLog, Joins}
import graft.sources.Tables
import graft.gates.GateSupport._

/** Deduplication family (exact, MinHash/LSH, SimHash, substring,
  * connected components, incremental, decontamination).
  *
  * Split out of SparkEntry (round-9 advice #8) purely for file size; the
  * driver surface is unchanged — SparkEntry.queries/oracleSql concatenate
  * every family. Scaladoc on each entry cites the reference behavior it
  * re-expresses.
  */
object DedupGates {

  import GateSupport.{shingleCte, jaccardPairsSql, natEdgesCtes}

  /** Every vector pair `a.vec_id < b.vec_id` of `e` with its cosine. */
  private val cosinePairsCte =
    s"""p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosineSql("a", "b")} AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)"""

  /** dedup_semantic oracle: min-label closure over the θ=0.45 cosine
    * edges as `rounds` UNROLLED hop+jump CTE rounds — the Spark
    * operator's own pointer-jumping recurrence
    * ([[graft.functions.Dedup.connectedComponents]]: hop = min(own,
    * neighbor labels), jump = label-of-label) expressed in plain SQL.
    * The previous recursive reach-set closure materializes
    * Σ component² (node, label) pairs, and the sf1 semantic graph has a
    * GIANT component (16.7k of 20k nodes in one cluster at θ=0.45 on
    * isotropic vectors) — the reach form ran unbounded-hours there
    * while this form runs ~40 s. Every CTE is MATERIALIZED: DuckDB 1.0
    * inlines multi-referenced CTEs, and each round references the
    * previous twice — un-hinted, the expansion is 2^rounds. 24 hop+jump
    * rounds cover any diameter the Spark side (maxIter 20 + its own
    * convergence check, green at sf1) can have converged under; a
    * non-converged unroll would surface as a loud hash mismatch, never
    * a silent pass. Proven EQUAL to the reach form at sf0.001/sf0.01. */
  private def semanticCcSql(rounds: Int): String = {
    val body = (0 until rounds).map { k =>
      s"""h$k AS MATERIALIZED (SELECT l.node, least(l.lab, coalesce(m.nb, l.lab)) AS lab
           FROM l$k l LEFT JOIN (SELECT ed.a AS node, min(lb.lab) AS nb
                                 FROM edges ed JOIN l$k lb ON lb.node = ed.b
                                 GROUP BY ed.a) m USING (node)),
         l${k + 1} AS MATERIALIZED (SELECT h.node, least(h.lab, j.lab) AS lab
           FROM h$k h JOIN h$k j ON j.node = h.lab)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    ${cosineSql("a", "b")} AS cos
             FROM e a JOIN e b ON a.vec_id < b.vec_id),
       pe AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE cos >= 0.45),
       edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pe
                 UNION ALL SELECT id_b, id_a FROM pe),
       l0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lab FROM e),
       $body
     SELECT em.vec_id, l.lab AS canon_id, (l.lab = em.vec_id) AS kept
     FROM e em JOIN l$rounds l ON l.node = em.vec_id"""
  }

  /** (doc_id, text) of the documents plus 40 identical boilerplate docs
    * (ids 900000+): a planted template cluster that puts 40 rows in one
    * LSH bucket per band. */
  private def withPlantedTemplate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = s.range(40).select(
      (col("id") + 900000L).as("doc_id"),
      lit("the same boilerplate template navigation footer text " +
        "repeated verbatim across every crawled page").as("text"))
    docs.unionByName(planted)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on a content fingerprint.
    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    }),


    // URL dedup — the FIRST dedup stage of web-scale pipelines (CCNet/
    // FineWeb dedupe by canonical URL before any text pass): the corpus
    // has no URL column, so each doc gets a deterministic one whose
    // VARIANT dimensions (http/https, www., host case, utm_ tracking
    // params, trailing slash, fragment) are hash-chosen per doc while the
    // canonical identity is (source, doc_id % 50) — every group of ~N/100
    // byte-DIFFERENT urls must collapse to one canonical key. Map-only
    // canonicalization (codegen'd regex/array expressions) + one
    // hash-groupBy, the dedup_exact shuffle budget.
    // Chunk-level cross-document duplication over CONTENT-DEFINED chunks
    // ([[graft.functions.Corpus.cdcChunks]]) — the storage/crawl-dedup
    // composition CDC exists for: chunks whose md5 appears in 2+
    // documents, with occurrence counts. One map-only chunking pass +
    // one hash-groupBy on chunk_hash (the dedup_exact shuffle budget);
    // because boundaries are content-defined, a shared passage is found
    // even when its byte offset differs between the documents.
    "dedup_cdc_cross" -> ((s, dir) => {
      Corpus.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          window = 16, modulus = 32, minLen = 24, maxLen = 96)
        .groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"),
          min(col("chunk_len")).as("chunk_len"))
        .where(col("n_docs") >= 2)
    }),


    "dedup_url" -> ((s, dir) => {
      def h(tag: String) = graft.functions.Corpus.hashBucket(
        concat(lit(tag + "#"), col("doc_id").cast("string")), 2)
      val gid = (col("doc_id") % 50).cast("string")
      val url = concat(
        when(h("scheme") === 0, lit("http://")).otherwise(lit("https://")),
        when(h("www") === 0, lit("www.")).otherwise(lit("")),
        when(h("case") === 0, upper(concat(col("source"), lit(".example.com"))))
          .otherwise(concat(col("source"), lit(".example.com"))),
        lit("/p/"), gid,
        when(h("slash") === 0, lit("/")).otherwise(lit("")),
        when(h("utm") === 0, concat(lit("?utm_source=feed&id="), gid))
          .otherwise(concat(lit("?id="), gid)),
        when(h("frag") === 0, lit("#top")).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          TextNormalize.urlCanonicalize(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
    }),


    // Paragraph-level dedup (the C4/Dolma sub-document pass): boilerplate
    // that repeats across globally-unique pages survives document dedup —
    // this drops every repeated paragraph except its (min doc_id, min pos)
    // canonical site and reassembles the survivors. The corpus is flat
    // single-line text, so the gate synthesizes paragraph structure
    // deterministically (8-word paragraphs, '\n'-joined) — the tiny word
    // vocabulary makes cross-document paragraph collisions real, so the
    // dedup BINDS; the oracle replays the same framing and keep rule.
    "dedup_paragraphs" -> ((s, dir) =>
      Dedup.dedupParagraphs(paraStagedDocs(t(s, dir, "documents")), "doc_id", "text", "\n")),


    // Normalization-then-dedup — the composition normalization exists
    // for: byte-different trivial variants (case, whitespace runs,
    // lead/trail padding) must collapse to ONE group. The corpus is
    // already clean, so each doc gets a deterministically-messied twin
    // (id + 100000): leading spaces, uppercased prefix, a trailing
    // space+tab. After nfc→fold→collapse, twin == original, so every
    // group is exactly {id, id+100000} (modulo pre-existing exact dups)
    // with the original id canonical. One hash-groupBy shuffle.
    "dedup_normalized" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val twins = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("  "), upper(substring(col("text"), 1, 15)),
          substring(col("text"), 16, 1000000), lit(" \t")).as("text"))
      val clean = TextNormalize.collapseWhitespace(
        TextNormalize.foldCase(TextNormalize.nfc(col("text"))))
      docs.select(col("doc_id"), col("text")).unionByName(twins)
        .select(col("doc_id"), md5(clean.cast("binary")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
    }),


    // Exact n-gram Jaccard near-dup pairs (SQL-oracle-able exact path).
    // Asymmetric containment pairs (Broder): |A∩B|/|A| flags the
    // short-doc-quoted-in-long-doc inclusion that symmetric Jaccard
    // structurally misses — the dominant eval-contamination shape. Same
    // one-shingle-pass + hash-keyed intersection machinery as the Jaccard
    // form; both directions emitted, thresholded on the larger.
    // The corpus's natural near-dups are symmetric, so the gate PLANTS
    // the asymmetric case (the containment operator's reason to exist):
    // for doc_id < 10 a derived fragment doc (first 12 words, id+100000)
    // is unioned in — its shingles are a subset of the parent's, so
    // containment(fragment in parent) = 1.0 while Jaccard stays tiny.
    // Any regression that breaks the asymmetric direction loses those
    // rows and the hash.
    "dedup_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val fragments = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 100000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
      graft.functions.Dedup.containmentPairs(docs.unionByName(fragments),
        "doc_id", "text", shingleLen = 3, threshold = 0.8)
    }),


    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, threshold = 0.8)
    }),


    // The maxDocFreq DIAL of the exact path, oracle-checked (r12 — it was
    // spec-only): shingles in more than 5 documents are dropped before
    // pairing, so the computed intersections are LOWER bounds and the
    // result is a subset with recomputed jaccards. At this corpus's df
    // range (max 7) the cap bites on ~half the surviving pairs' VALUES,
    // so a capped-path bug that miscounts kept shingles breaks the hash —
    // not just the row set.
    "dedup_jaccard_capped" -> ((s, dir) => {
      Dedup.ngramJaccardLowerBound(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, threshold = 0.8, maxDocFreq = Some(5))
    }),


    // Edit-distance VERIFICATION of near-dup candidates — the
    // character-level second opinion a shingle signal can't give (word
    // reorderings share shingle sets; levenshtein catches them).
    // Quadratic per pair, so it runs on the CANDIDATE pairs only (the
    // scale discipline of every verify stage) over a bounded 400-char
    // prefix; both engines implement classic unit-cost Levenshtein.
    "dedup_edit_distance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // candidate pairs via the LOSSLESS prefix filter (identical pair
      // set to ngramJaccardPairs, DedupSpec): the sf1 spot-bench measured
      // the exact-explode form at 132x growth vs 22x for the prefix path
      val pairs = Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val ta = docs.select(col("doc_id").as("doc_a"),
        substring(col("text"), 1, 400).as("ta"))
      val tb = docs.select(col("doc_id").as("doc_b"),
        substring(col("text"), 1, 400).as("tb"))
      pairs.join(ta, "doc_a").join(tb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"))
    }),


    // Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin candidate
    // discipline): candidates join only on each doc's rarest-shingle
    // prefix under a global df order — lossless filter, exact verify —
    // so the result is IDENTICAL to brute-force Jaccard at the same
    // threshold. Run at t=0.7 (vs the exploded path's 0.8) so the gate
    // also exercises a different cutoff; the oracle is the same
    // brute-force SQL with 0.7.
    "dedup_jaccard_prefix" -> ((s, dir) => {
      Dedup.jaccardPrefixPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, threshold = 0.7)
    }),


    // MinHash+LSH near-dup pairs, exact-verified. Same oracle as the exact
    // path: with 16 bands × 4 rows the S-curve catches j>=0.8 with
    // P>0.999, so the verified output equals the exact answer.
    "dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
    }),


    // MinHash+LSH with the heavy-bucket guard BITING: 40 planted
    // identical boilerplate docs put 40 rows in one bucket per band —
    // every one of their bands exceeds maxBucketSize=32, so the guard
    // drops the whole template cluster's 780 pairs BEFORE the band
    // self-join, while every natural bucket (clusters ≤6 at the oracled
    // SFs) passes untouched. The capped output over the PLANTED corpus
    // therefore equals exact Jaccard pairs over the ORIGINAL corpus —
    // the same brute oracle as the uncapped gate, now proving both that
    // the cap removes the mega-bucket and that it removes nothing else.
    "dedup_minhash_capped" -> ((s, dir) => {
      Dedup.minHashLshPairs(withPlantedTemplate(s, dir), "doc_id", "text",
        shingleLen = 3, bands = 16, rowsPerBand = 4, threshold = 0.8,
        maxBucketSize = 32)
    }),


    // THE KNOB-FREE NEAR-DUP DEFAULT (r18 — the annTopK pattern applied
    // to the jaccard family, r17 verdict #1): Dedup.nearDupPairs with no
    // tuning arguments, over the same planted 40-doc template cluster as
    // dedup_minhash_capped. What a naive caller now gets BY DEFAULT must
    // (a) drop the template mega-bucket (every planted band bucket is
    // over the built-in DefaultMaxBucketSize guard) and (b) equal exact
    // brute-force Jaccard over the original corpus on everything else —
    // the same sharp oracle that proved the opt-in cap, now proving the
    // shipped default.
    "dedup_neardup_default" -> ((s, dir) => {
      Dedup.nearDupPairs(withPlantedTemplate(s, dir), "doc_id", "text")
    }),


    // SimHash fingerprints (hash family not DuckDB-expressible: rows-only;
    // hamming behavior spec-verified in DedupSpec).
    // Differential gate (r8): the fingerprint values are xxhash64-based
    // (not DuckDB-expressible), but two REAL invariants of the
    // implementation are checkable booleans: simhash is a pure function of
    // the distinct-token SET (the majority vote sums sign bits — order
    // free), so the fingerprint of the token-REVERSED document must be
    // identical (catches any position-dependent or non-commutative drift);
    // and every fingerprint must fit the documented 52-bit range.
    "dedup_simhash" -> ((s, dir) => {
      val fp = Dedup.simhash(col("text"))
      val reversedText = concat_ws(" ", reverse(split(col("text"), " ")))
      t(s, dir, "documents").select(
        col("doc_id"),
        (fp === Dedup.simhash(reversedText)).as("order_invariant"),
        (fp >= 0L && fp < lit(1L << 52)).as("in_range"))
    }),


    // Duplicate-CLUSTER resolution on top of pairwise dedup: connected
    // components over the near-dup edge set, every doc labeled with its
    // cluster's minimum doc_id (the keeper). Pairwise output alone
    // over-deletes on A~B, B~C chains; this is the transitive-closure
    // step every production dedup pipeline runs after candidate pairing.
    // Edges = exact n-gram Jaccard pairs (the oracle-able pair source)
    // UNION a planted 3-hop chain per doc_id < 50 (id—id+100000—
    // id+200000—id+300000): the chain's far end resolves to the REAL
    // doc's cluster minimum only if labels propagate multiple hops, so
    // the oracle (DuckDB recursive CTE) checks true transitivity, not
    // just 1-hop pair symmetry. Output covers docs ∪ chain nodes;
    // singletons map to themselves.
    "dedup_cluster_cc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // prefix-filtered pair generation — same pairs, scale-safe
      // (sf1 spot-bench: the exact-explode form timed out here)
      val natural = Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val low = docs.select(col("doc_id")).where(col("doc_id") < 50)
      def shifted(by: Long) = low.select((col("doc_id") + by).as("doc_id"))
      val chain = low.select(col("doc_id").as("doc_a"),
          (col("doc_id") + 100000L).as("doc_b"))
        .unionByName(low.select((col("doc_id") + 100000L).as("doc_a"),
          (col("doc_id") + 200000L).as("doc_b")))
        .unionByName(low.select((col("doc_id") + 200000L).as("doc_a"),
          (col("doc_id") + 300000L).as("doc_b")))
      val cc = Dedup.connectedComponents(
        natural.unionByName(chain), "doc_a", "doc_b")
      val nodes = docs.select(col("doc_id"))
        .unionByName(shifted(100000L)).unionByName(shifted(200000L))
        .unionByName(shifted(300000L)).distinct()
      nodes.join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canon_id"), col("doc_id")).as("canon_id"))
    }),


    // Exact-substring duplication (Lee et al.): doc pairs sharing any
    // contiguous 20-token span — catches partial overlap (syndicated
    // paragraphs, quoted blocks) that whole-doc jaccard misses. Exploded
    // hash-keyed equi-join, never all-pairs.
    "dedup_substring" -> ((s, dir) => {
      Dedup.sharedSubstringPairs(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 20)
    }),


    // The same operator with the boilerplate/heavy-hitter dial ENGAGED
    // (round-7 verdict #4): spans appearing in more than maxDocFreq
    // documents are dropped before pairing, which is what keeps the pair
    // space from going quadratic on template text at large scale factors.
    // The oracle applies the identical HAVING df <= cap filter, so the
    // dial itself is hash-verified, not just the uncapped exact form.
    "dedup_substring_capped" -> ((s, dir) => {
      Dedup.sharedSubstringPairs(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 20, maxDocFreq = Some(3))
    }),


    // Incremental ingest dedup: a synthesized "today's crawl" batch (every
    // 11th doc re-ingested under a new id, half byte-identical to the
    // corpus copy, half genuinely extended) anti-joined against the
    // existing corpus's content hashes — the byte-identical half must
    // vanish, the fresh half survives with an in-batch keep-min collapse.
    // Both engines synthesize the identical batch (md5 parity is already
    // proven by dedup_exact).
    "dedup_incremental" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = corpus.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" fresh content"))).as("text"))
      Dedup.incremental(batch, corpus, "doc_id", "text")
    }),


    // Canonical selection by QUALITY, not min-id: per near-dup cluster,
    // keep the highest-quality member (doc_id breaks exact quality ties)
    // — what a production dedup actually ships, since the lowest id is
    // arbitrarily often the worst copy. Clusters come from the same
    // pointer-jumping CC as dedup_cluster_cc; the keeper is one
    // partial-aggregated max(struct(quality, doc_id)) per cluster — no
    // window over the corpus, no skew on singleton clusters. Quality is
    // the text_quality expression, already proven IEEE-identical to the
    // oracle.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // prefix-filtered pair generation — same pairs, scale-safe
      // (sf1 spot-bench: 134x growth with the exact-explode form)
      val pairs = Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val member = docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("canon_id"), col("doc_id")).as("canon_id"))
      // fused one-pass signals (bit-identical to the regex-composed form,
      // TextSignalsSpec) — the 5-regex quality scan was measurable here
      val q = docs.select(col("doc_id"),
        TextAnalysis.qualityScoreFromSignals(
          TextAnalysis.signals(col("text"))).as("quality"))
      member.join(q, "doc_id")
        .groupBy(col("canon_id"))
        .agg(max(struct(col("quality"), col("doc_id"))).as("m"))
        .select(col("canon_id"), col("m.doc_id").as("keep_id"),
          col("m.quality").as("keep_quality"))
    }),


    // SemDeDup-style SEMANTIC dedup (the public SemDeDup recipe: embedding
    // near-dup pairs → transitive clusters → one kept representative per
    // cluster) — end-to-end composition of three oracle-proven stages:
    // cosine pairs at θ=0.45 (where the synthetic corpus has natural
    // pairs), the same pointer-jumping CC as dedup_cluster_cc, and a
    // deterministic min-id representative. Output: every vector, its
    // cluster canon, and whether semantic dedup keeps it.
    "dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pairs = Similarity.cosinePairsLsh(emb, "vec_id", "embedding", 0.45)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      emb.select(col("vec_id"))
        .join(cc, col("vec_id") === col("doc_id"), "left")
        .select(col("vec_id"),
          coalesce(col("canon_id"), col("vec_id")).as("canon_id"),
          (coalesce(col("canon_id"), col("vec_id")) === col("vec_id")).as("kept"))
    }),


    // Embedding near-dup pairs at a LOOSE audit threshold (0.45). The
    // auto plan here is the exact-verify cross join: at θ < 0.6 no
    // hyperplane-LSH geometry prunes (the 64×4 banding that holds recall
    // admits ~98% of all random pairs as candidates — measured), so the
    // banded plan is the same Θ(n²) plus a 64× explosion, a distinct,
    // and two fetch joins; the exact plan is 3.5× faster for the
    // identical answer (see cosinePairsLsh scaladoc). Subquadratic
    // embedding dedup lives at realistic thresholds — the θ=0.9 gate
    // below is the banded scale path.
    "dedup_embedding_cosine" -> ((s, dir) => {
      Similarity.cosinePairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
    }),


    // The same operator at a REALISTIC near-dup threshold (θ=0.9): the
    // threshold-aware geometry picks NARROW (many-plane) bands here, so
    // a random pair collides in a band with probability 2^-planes ≈ 1e-4
    // instead of the 4-plane setting's 1/16 — the candidate join stays
    // truly subquadratic as the corpus grows (the 4-plane geometry's
    // cost visibly doubled when the r5 twin-planting doubled the corpus).
    // Oracle is the exact all-pairs SQL at the same threshold.
    //
    // The synthetic corpus has no natural pair above cos ≈ 0.60, so the
    // raw θ=0.9 comparison was two EMPTY result sets (r4 advice #2). Each
    // vector gets a planted twin (vec_id+100000, 2·v): doubling is exact
    // in both engines (power of two), cosine-invariant, and SIGN-invariant
    // per hyperplane, so every {v, 2v} pair is a guaranteed ≥0.9 hit the
    // banded path must surface — the oracle now compares n non-empty rows.
    // Recall on non-identical signatures is SimilaritySpec's planted
    // perturbed-pair test; this gate proves the end-to-end plumbing.
    "dedup_embedding_cosine_t90" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Similarity.cosinePairsLsh(emb.unionByName(twins), "vec_id", "embedding", 0.9)
    }),


    // THE KNOB-FREE EMBEDDING NEAR-DUP DEFAULT (r19 — the
    // dedup_neardup_default pattern for the embedding family): same
    // planted-twin corpus as t90, but through Dedup.nearDupEmbeddings,
    // whose geometry is derived from the corpus size by the budgeted
    // solver (candidates ~linear in n by construction, expected recall
    // returned). Twins are sign-identical on every hyperplane, so they
    // collide in EVERY band regardless of the solved geometry — the
    // planted pairs are deterministic hits — and the synthetic corpus
    // has no natural pair near 0.9, so the knob-free output must
    // hash-equal the exact all-pairs SQL at the same threshold.
    "dedup_neardup_embeddings" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Dedup.nearDupEmbeddings(emb.unionByName(twins), "vec_id", "embedding")._1
    })
  )

  /** Exact all-pairs cosine ≥ 0.9 over the planted-twin corpus — shared
    * by `dedup_embedding_cosine_t90` and `dedup_neardup_embeddings`
    * (identical planting, identical exact answer; one definition). */
  private val twinCosine90Sql =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            e AS (SELECT vec_id, v FROM base
                  UNION ALL
                  SELECT vec_id + 100000 AS vec_id,
                         list_transform(v, x -> x * 2) AS v
                  FROM base),
            $cosinePairsCte
       SELECT id_a, id_b, cos FROM p WHERE cos >= 0.9"""

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT MD5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1""",

    // the corpus_cdc_chunks oracle wrapped in the cross-doc aggregate —
    // one definition of the chunking, two gates
    "dedup_cdc_cross" ->
      s"""SELECT chunk_hash,
                 COUNT(DISTINCT doc_id) AS n_docs,
                 COUNT(*) AS n_occurrences,
                 MIN(doc_id) AS first_doc,
                 MIN(chunk_len) AS chunk_len
          FROM (${CorpusGates.oracleSql("corpus_cdc_chunks")}) c
          GROUP BY chunk_hash
          HAVING COUNT(DISTINCT doc_id) >= 2""",

    // same hash-chosen variant synthesis, the same canonicalization
    // (host lowercased / www-stripped, path slash-stripped, utm_ params
    // filtered IN ORDER, scheme+fragment dropped), the same group-keep
    "dedup_url" ->
      """WITH h AS (
           SELECT doc_id, source, CAST(doc_id % 50 AS VARCHAR) AS gid,
                  ('0x' || substr(md5('scheme#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hs,
                  ('0x' || substr(md5('www#'    || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hw,
                  ('0x' || substr(md5('case#'   || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hc,
                  ('0x' || substr(md5('utm#'    || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hu,
                  ('0x' || substr(md5('slash#'  || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hl,
                  ('0x' || substr(md5('frag#'   || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 2 AS hf
           FROM documents),
         u AS (
           SELECT doc_id,
                  (CASE WHEN hs = 0 THEN 'http://' ELSE 'https://' END) ||
                  (CASE WHEN hw = 0 THEN 'www.' ELSE '' END) ||
                  (CASE WHEN hc = 0 THEN upper(source || '.example.com')
                        ELSE source || '.example.com' END) ||
                  '/p/' || gid ||
                  (CASE WHEN hl = 0 THEN '/' ELSE '' END) ||
                  (CASE WHEN hu = 0 THEN '?utm_source=feed&id=' || gid
                        ELSE '?id=' || gid END) ||
                  (CASE WHEN hf = 0 THEN '#top' ELSE '' END) AS url
           FROM h),
         c AS (
           SELECT doc_id,
                  regexp_replace(lower(regexp_extract(
                      regexp_replace(url, '^([a-zA-Z]+:)?//', ''),
                      '^([^/?#]+)', 1)), '^www\.', '') ||
                  regexp_replace(regexp_extract(
                      regexp_replace(url, '^([a-zA-Z]+:)?//', ''),
                      '^[^/?#]*([^?#]*)', 1), '/$', '') ||
                  (CASE WHEN array_to_string(list_filter(
                           string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_')), '&') <> ''
                        THEN '?' || array_to_string(list_filter(
                           string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_')), '&')
                        ELSE '' END) AS canon_url
           FROM u)
       SELECT canon_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
       FROM c GROUP BY 1""",

    // same 8-word framing + (min doc_id, min pos) keep rule + '\n' rejoin
    "dedup_paragraphs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              f AS (SELECT doc_id, ws,
                           unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS pos
                    FROM d),
              p AS (SELECT doc_id, pos,
                           array_to_string(ws[pos*8+1 : pos*8+8], ' ') AS para
                    FROM f),
              c1 AS (SELECT para, MIN(doc_id) AS cdoc FROM p GROUP BY 1),
              c2 AS (SELECT p.para, p.doc_id AS cdoc, MIN(p.pos) AS cpos
                     FROM p JOIN c1 ON p.para = c1.para AND p.doc_id = c1.cdoc
                     GROUP BY 1, 2),
              kept AS (SELECT p.doc_id, p.pos, p.para
                       FROM p JOIN c2 ON p.para = c2.para
                                     AND p.doc_id = c2.cdoc AND p.pos = c2.cpos)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
                string_agg(para, chr(10) ORDER BY pos) AS text
         FROM kept GROUP BY doc_id""",

    // same shingle sets; containment divides the intersection by EACH
    // side's size, keeping pairs where the larger direction clears the
    // bar. Candidates via the shared-shingle inverted index (r15 verdict
    // #1 — containment > 0 needs a shared shingle, so it's lossless;
    // proven equal to the brute pair form at sf0.001/sf0.01).
    "dedup_containment" ->
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  array_to_string(string_split(text, ' ')[1:12], ' ') AS text
           FROM documents WHERE doc_id < 10),
              s AS (SELECT doc_id, string_split(text, ' ') AS w FROM planted),
              t AS (SELECT doc_id,
                           list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w)-1) ]) AS sh
                    FROM s WHERE len(w) >= 3),
              e AS (SELECT doc_id, unnest(sh) AS g FROM t),
              sz AS (SELECT doc_id, len(sh) AS z FROM t),
              x AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                    FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
                CAST(i AS DOUBLE) / CAST(za.z AS DOUBLE) AS cont_a_in_b,
                CAST(i AS DOUBLE) / CAST(zb.z AS DOUBLE) AS cont_b_in_a
         FROM x JOIN sz za ON x.doc_a = za.doc_id
                JOIN sz zb ON x.doc_b = zb.doc_id
         WHERE greatest(CAST(i AS DOUBLE) / CAST(za.z AS DOUBLE),
                        CAST(i AS DOUBLE) / CAST(zb.z AS DOUBLE)) >= 0.8""",

    // cap mirrored: kept = shingles with document frequency <= 5;
    // intersections over kept shingles, DENOMINATOR sizes stay FULL
    // (the operator divides the capped intersection by the true union)
    "dedup_jaccard_capped" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              t AS (SELECT doc_id,
                           list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w)-1) ]) AS sh
                    FROM s WHERE len(w) >= 3),
              e AS (SELECT doc_id, unnest(sh) AS g FROM t),
              kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 5),
              ek AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g)),
              inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                               COUNT(*) AS i
                        FROM ek a JOIN ek b ON a.g = b.g AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              sz AS (SELECT doc_id, len(sh) AS z FROM t)
         SELECT doc_a, doc_b,
                CAST(i AS DOUBLE) / CAST(za.z + zb.z - i AS DOUBLE) AS jaccard
         FROM inter
         JOIN sz za ON inter.doc_a = za.doc_id
         JOIN sz zb ON inter.doc_b = zb.doc_id
         WHERE CAST(i AS DOUBLE) / CAST(za.z + zb.z - i AS DOUBLE) >= 0.8""",

    "dedup_ngram_jaccard" -> jaccardPairsSql(0.8),

    // same candidate pairs (inverted-index jaccard ≥ 0.8), classic
    // unit-cost levenshtein on the same 400-char prefixes
    "dedup_edit_distance" ->
      s"""WITH p AS (${jaccardPairsSql(0.8)})
         SELECT p.doc_a, p.doc_b,
                CAST(levenshtein(substr(da.text, 1, 400), substr(db.text, 1, 400)) AS INT)
                  AS edit_dist
         FROM p JOIN documents da ON da.doc_id = p.doc_a
                JOIN documents db ON db.doc_id = p.doc_b""",

    // prefix filtering is lossless and verification exact, so the oracle
    // is exact Jaccard at the gate's 0.7 threshold (candidates via the
    // equally-lossless inverted index) — the candidate discipline must
    // not change the answer
    "dedup_jaccard_prefix" -> jaccardPairsSql(0.7),

    "dedup_minhash_lsh" -> jaccardPairsSql(0.8),

    // the heavy-bucket guard drops EXACTLY the planted 40-doc template
    // cluster (every one of its band buckets is over-cap) and nothing
    // else, so the capped output over the planted corpus equals exact
    // Jaccard pairs over the original table
    "dedup_minhash_capped" -> jaccardPairsSql(0.8),

    // the knob-free default must behave exactly like the proven capped
    // configuration: planted template cluster dropped by the built-in
    // bucket guard, every natural pair exact — same brute oracle
    "dedup_neardup_default" -> jaccardPairsSql(0.8),

    // transitive closure of the near-dup graph in pure SQL: DuckDB's
    // recursive CTE floods every node's reachable set (UNION dedups, so
    // it terminates), then min(lab) per node = the cluster minimum —
    // exactly the fixpoint min-label propagation converges to
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE
           $shingleCte,
           $natEdgesCtes,
           low AS (SELECT doc_id FROM documents WHERE doc_id < 50),
           chain AS (SELECT doc_id AS da, doc_id + 100000 AS db FROM low
                     UNION ALL
                     SELECT doc_id + 100000, doc_id + 200000 FROM low
                     UNION ALL
                     SELECT doc_id + 200000, doc_id + 300000 FROM low),
           pe AS (SELECT da, db FROM nat UNION ALL SELECT da, db FROM chain),
           edges AS (SELECT da AS a, db AS b FROM pe
                     UNION ALL SELECT db, da FROM pe),
           reach AS (SELECT a AS node, a AS lab FROM edges
                     UNION
                     SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.node),
           cc AS (SELECT node, min(lab) AS canon FROM reach GROUP BY node),
           -- explicit DISTINCT over UNION ALL: inside WITH RECURSIVE,
           -- DuckDB carves a trailing UNION arm off as a pseudo-recursive
           -- term and skips deduplicating it against the base — a plain
           -- SELECT body sidesteps that parse entirely
           nodes AS (SELECT DISTINCT doc_id FROM (
                       SELECT doc_id FROM documents
                       UNION ALL SELECT da FROM chain
                       UNION ALL SELECT db FROM chain))
         SELECT n.doc_id AS doc_id, coalesce(cc.canon, n.doc_id) AS canon_id
         FROM nodes n LEFT JOIN cc ON cc.node = n.doc_id""",

    "dedup_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
              batch AS (SELECT doc_id + 500000 AS doc_id,
                               CASE WHEN doc_id % 2 = 0 THEN text
                                    ELSE text || ' fresh content' END AS text
                        FROM corpus WHERE doc_id % 11 = 0),
              bh AS (SELECT doc_id, md5(text) AS h FROM batch),
              ch AS (SELECT DISTINCT md5(text) AS h FROM corpus)
         SELECT min(bh.doc_id) AS doc_id, bh.h AS h
         FROM bh LEFT JOIN ch ON bh.h = ch.h
         WHERE ch.h IS NULL
         GROUP BY bh.h""",

    // same transitive closure as dedup_cluster_cc (natural edges only),
    // then per-cluster arg-max on (quality, doc_id) via a DESC row_number
    // — lexicographic on the same IEEE doubles the text_quality oracle
    // already matches bit-for-bit
    "dedup_keep_best" ->
      s"""WITH RECURSIVE
           $shingleCte,
           $natEdgesCtes,
           edges AS (SELECT da AS a, db AS b FROM nat
                     UNION ALL SELECT db, da FROM nat),
           reach AS (SELECT a AS node, a AS lab FROM edges
                     UNION
                     SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.node),
           cc AS (SELECT node, min(lab) AS canon FROM reach GROUP BY node),
           member AS (SELECT d.doc_id, coalesce(cc.canon, d.doc_id) AS canon_id
                      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
           b AS (SELECT doc_id,
                        ${qualityInputsSql()}
                 FROM documents),
           -- NULLIF mirrors the engine's try_divide NULL-on-zero (a
           -- zero-length text would otherwise be NaN here, and DuckDB
           -- sorts NaN GREATER than any value while Spark's struct max
           -- ranks the NULL-quality row last — the divergence would
           -- SELECT the keeper, not just shade a value)
           q AS (SELECT doc_id,
                        ${qualityScoreSql()} AS quality
                 FROM b),
           r AS (SELECT m.canon_id, q.doc_id, q.quality,
                        row_number() OVER (PARTITION BY m.canon_id
                                           ORDER BY q.quality DESC NULLS LAST,
                                                    q.doc_id DESC) AS rn
                 FROM member m JOIN q USING (doc_id))
         SELECT canon_id, doc_id AS keep_id, quality AS keep_quality
         FROM r WHERE rn = 1""",

    // NULL-on-zero convention (r4 advice #4): the engine maps zero-norm
    // cosines to NULL via try_divide; plain DuckDB division would give
    // NaN, and DuckDB sorts/compares NaN GREATER than any value, so the
    // oracle encodes the same convention explicitly (NULL never passes
    // the >= threshold filter in either engine).
    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              $cosinePairsCte
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45""",

    // exact all-pairs cosine edges (the SQL proven by
    // dedup_embedding_cosine) + the Spark operator's own hop+jump
    // min-label recurrence unrolled (see [[semanticCcSql]] — the
    // recursive reach closure is component²-quadratic and the sf1
    // semantic graph has a 16.7k-node giant component)
    "dedup_semantic" -> semanticCcSql(24),

    "dedup_embedding_cosine_t90" -> twinCosine90Sql,

    // ONE exact SQL for both θ=0.9 gates: the knob-free entry's solved
    // geometry must reproduce the same exact answer the pinned-geometry
    // gate does (twins collide in every band under ANY geometry)
    "dedup_neardup_embeddings" -> twinCosine90Sql,

    "dedup_simhash" ->
      """SELECT doc_id, true AS order_invariant, true AS in_range
         FROM documents""",

    // slice + array_to_string builds the identical space-joined window
    // strings the codegen'd shingle expression emits
    "dedup_substring" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              t AS (SELECT doc_id,
                           list_distinct([ array_to_string(w[i:i+19], ' ')
                                           for i in range(1, len(w) - 18) ]) AS sh
                    FROM s WHERE len(w) >= 20),
              e AS (SELECT doc_id, unnest(sh) AS g FROM t)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // identical shingling, plus the HAVING df <= 3 heavy-hitter filter the
    // Spark side applies via its maxDocFreq anti-join
    "dedup_substring_capped" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              t AS (SELECT doc_id,
                           list_distinct([ array_to_string(w[i:i+19], ' ')
                                           for i in range(1, len(w) - 18) ]) AS sh
                    FROM s WHERE len(w) >= 20),
              e AS (SELECT doc_id, unnest(sh) AS g FROM t),
              kept AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 3),
              ek AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (g))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         FROM ek a JOIN ek b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    "dedup_normalized" ->
      """WITH twins AS (
           SELECT doc_id + 100000 AS doc_id,
                  '  ' || upper(substr(text, 1, 15)) || substr(text, 16, 1000000)
                       || ' ' || chr(9) AS text
           FROM documents),
           all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM twins),
           norm AS (
           SELECT doc_id,
                  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS clean
           FROM all_docs)
         SELECT md5(clean) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
         FROM norm GROUP BY 1"""
  )
}
