package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.dsl.Dsl._
import graft.functions.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis, TextNormalize}
import graft.operators.{EventLog, Joins}
import graft.sources.Tables
import graft.gates.GateSupport._

/** Text analysis / quality / normalization and multimodal gates.
  *
  * Split out of SparkEntry (round-9 advice #8) purely for file size; the
  * driver surface is unchanged — SparkEntry.queries/oracleSql concatenate
  * every family. Scaladoc on each entry cites the reference behavior it
  * re-expresses.
  */
object TextGates {

  /** Quality-classifier gate knobs: feature dimension and the SEEDED
    * weight vector — one Scala generator feeds the Spark plan and the
    * oracle's VALUES table, so both engines score with byte-identical
    * decimals in [-0.5, 0.5] at 6 decimal places. */
  private[gates] val qcDim = 64
  private[gates] lazy val qcWeights: Seq[java.math.BigDecimal] =
    (0 until qcDim).map { i =>
      val h = TextAnalysis.mdBucketDriver(s"qw#$i", 1000001)
      java.math.BigDecimal.valueOf((h - 500000).toLong).movePointLeft(6)
    }
  private[gates] val qcBias = new java.math.BigDecimal("0.010000")

  /** Each document's text bytes as a PCM16 WAV record (one sample per
    * byte) — the input of the WAV gates. */
  private def pcm16Wavs(s: SparkSession,
      dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    Multimodal.encodeAsBinary(t(s, dir, "documents"), "doc_id", "text")
      .as[Multimodal.MediaRecord]
      .mapPartitions(_.map(r =>
        Multimodal.MediaRecord(r.doc_id, Multimodal.encodeWavPcm16(r.media), "wav")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis — corpus-wide top-k n-gram frequencies (the classic
    // "what boilerplate dominates this corpus" pipeline op): codegen'd
    // shingles explode → hash-aggregate → TakeOrderedAndProject.
    "text_ngram_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(graft.functions.TextOps.shingles(col("text"), 3)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram").asc)
        .limit(20)
    }),


    // Language ID: stopword-hit argmax (cheap function-word heuristic).
    "text_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        TextAnalysis.langHits(col("text"), "en").as("en_hits"))
    }),


    // Quality scoring: integer counts + deterministic double ratios.
    "text_quality" -> ((s, dir) => {
      val sig = TextAnalysis.qualitySignals(col("text"))
      // quality stays UNROUNDED: the expression tree mirrors the oracle
      // op-for-op so the doubles are IEEE-identical, while rounding can hit
      // decimal round-half ties (found at sf0.1: 0.5143125 rounded up by
      // Spark, down by DuckDB).
      t(s, dir, "documents").select(
        col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+
          TextAnalysis.qualityScore(col("text")).as("quality"): _*)
    }),


    // Token counting: whitespace + BPE-ish regex + chars/4 heuristic.
    "text_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"),
        TextAnalysis.approxTokenCount(col("text")).as("approx_tokens"))
    }),


    // Gopher-style repetition signals: duplicate-word mass and top-word
    // mass per document — the boilerplate/spam indicators a quality gate
    // thresholds on. Explode + two partial-aggregated groupBys: linear
    // per-row work, shuffles carry (doc_id, word) tuples — scales where
    // a per-row O(d²) HOF lambda would not.
    "text_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
    }),


    // PII redaction: plant deterministic synthetic emails/phone numbers on
    // every 5th doc (both engines synthesize the identical string — the
    // clean corpus has none naturally), then scrub with patterns from the
    // backtracking-free regex subset Java and RE2 agree on. Map-only,
    // codegen'd regexp_replace — a stateless scan stage at any scale.
    // k-anonymity audit — the privacy check next to PII redaction: group
    // the corpus by its quasi-identifier tuple (source, lang, coarse
    // length bucket) and report every group smaller than k=5, i.e. the
    // documents a joiner could re-identify from metadata alone. One
    // partial-aggregated groupBy + HAVING: the dedup_exact shuffle
    // budget at any corpus size.
    "pii_k_anonymity" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"),
          expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") < 5)
    }),


    "pii_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
          lit("\\+?1-555-[0-9]{4}"), lit("<PHONE>")).as("clean"))
    }),


    // Unigram-LM cross-entropy quality signal (the KenLM-style fluency
    // proxy): vocabulary built from the corpus itself, per-doc mean of
    // -ln p(token) folded in position order for cross-engine bit
    // stability (AUDIT form — the production sum/count scale path is
    // TextAnalysis.unigramCrossEntropy, spec-proven to agree within 1e-9).
    "text_perplexity" -> ((s, dir) => {
      TextAnalysis.unigramCrossEntropyAudit(t(s, dir, "documents"), "doc_id", "text")
    }),


    // Text normalization pipeline: boilerplate-line strip → Unicode NFC →
    // case fold → whitespace collapse. The documents corpus is already
    // clean lowercase ASCII, so the gate SYNTHESIZES a messy form
    // deterministically inside the query — uppercase prefix line, a
    // copyright footer, a decomposed-accent + tab + double-space tail —
    // with plain SQL both engines run, then normalizes it; every stage
    // must round-trip bit-identically through DuckDB's nfc_normalize /
    // lower / regexp_replace to pass.
    "text_normalize" -> ((s, dir) => {
      val messy = concat(
        upper(substring(col("text"), 1, 40)), lit("\n"),
        lit("Copyright 2024 ALL RIGHTS RESERVED"), lit("\n"),
        col("text"), lit("\n"),
        lit("  Cafe\u0301 \t du  Monde ")) // decomposed e + U+0301: NFC must compose
      t(s, dir, "documents")
        .select(col("doc_id"), TextNormalize.normalize(messy).as("clean"))
    }),


    // HTML boilerplate stripping: the gate stages each document inside
    // deterministic markup (head with style+script blocks, tags, escaped
    // entities — built by concat from doc_id so both engines construct the
    // IDENTICAL string), then strips it back to clean text. Codegen'd
    // regexp chain, backreference-free so RE2 (DuckDB) and java.util.regex
    // agree; per-row at the scan, no shuffle.
    "text_strip_html" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><style type=\"text/css\">p{margin:0}</style>" +
          "<script>track(\""), col("doc_id"), lit("\")</script></head>" +
          "<body><h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><br/><a href=\"/d/"), col("doc_id"),
        lit("\">&lt;more&gt; &amp; &quot;info&quot;</a></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.stripHtml(html).as("clean"))
        .withColumn("n_clean_chars", length(col("clean")))
    }),


    // PII scrub: the redaction stage every published-corpus pipeline runs
    // (C4/Dolma-style). Same staging discipline as text_strip_html: both
    // engines build the IDENTICAL pii-bearing string from doc_id (email ×
    // 1-2, phone, ipv4), then the scrub's three sequential RE2-safe
    // regexp_replace passes redact it, with per-category counts probed on
    // the text exactly as the prior pass left it. Map-only, per-row at
    // the scan, zero exchanges at any scale.
    "text_pii_scrub" -> ((s, dir) => {
      val enriched = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" alt b"), col("doc_id").cast("string"),
            lit("@foo.org"))).otherwise(lit("")),
        lit(" call +1 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextNormalize.piiScrub(enriched).as("s"))
        .select(col("doc_id"), col("s.text").as("text"),
          col("s.n_email").as("n_email"), col("s.n_phone").as("n_phone"),
          col("s.n_ip").as("n_ip"))
    }),


    // Per-(doc, term) TF-IDF (keyword extraction / lexical retrieval
    // weight): integer tf & df aggregation, one equi-join against the
    // Zipf-bounded term table, broadcast scalar N — the only floating
    // step is the final tf·ln(N/df). minTf=2 drops the hapax tail before
    // the join (the scale dial, engaged here and mirrored by HAVING).
    "text_tfidf" -> ((s, dir) => {
      TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text", minTf = 2L)
    }),


    // Interpolated Kneser–Ney bigram cross-entropy (d=0.75) — the
    // standard LM smoothing over the raw conditional text_bigram_xent:
    // discounted seen-bigram mass redistributed via continuation
    // probability. All KN quantities from the Zipf-bounded type table;
    // per-doc position-ordered fold (the audit-form summation parity).
    "text_kneser_ney" -> ((s, dir) => {
      TextAnalysis.kneserNeyCrossEntropy(t(s, dir, "documents"),
        "doc_id", "text")
    }),


    // Linear quality-classifier SCORING (the fastText-style scorer of
    // Dolma/FineWeb-class pipelines) under the exact-decimal contract:
    // hashed bag-of-words -> Σ decimal weights (order-independent exact
    // sum, both engines) -> one double conversion -> sigmoid. The gate
    // uses SEEDED weights generated by one Scala function and embedded
    // in both the plan and the oracle (the lshTopkSql precedent);
    // TRAINING is spec-gated (CorpusSpec: loss descent, learned
    // separation, determinism) — float gradient descent has no honest
    // SQL oracle.
    "text_quality_classifier" -> ((s, dir) => {
      TextAnalysis.scoreLinear(t(s, dir, "documents"), "doc_id", "text",
        TextGates.qcWeights, TextGates.qcBias)
    }),


    // Okapi BM25 over a fixed query-term set — the sparse side of hybrid
    // retrieval, one step past text_tfidf: corpus stream filtered to the
    // query terms BEFORE aggregation (tf table query-bounded), scalar
    // N/avgdl broadcast back, per-term rows so no float summation order
    // crosses engines (each score is one identical IEEE op sequence).
    "text_bm25" -> ((s, dir) => {
      TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "hash", "merge", "window"))
    }),


    // Keyword extraction — top-3 TF-IDF terms per document (the RAG
    // metadata / search-facet step downstream of text_tfidf): per-doc
    // window rank (partitioned by doc — parallel across docs, never
    // global), ties by term for engine determinism. The tfidf doubles
    // are already proven bit-equal cross-engine by text_tfidf's hash, so
    // ranking on them is safe.
    "text_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tfidf = TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text", minTf = 2L)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      tfidf.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("rank"))
    }),


    // Bigram-LM cross-entropy (conditional fluency proxy) — the AUDIT
    // (position-ordered fold) form, hashable cross-engine; the sum/count
    // scale form is TextAnalysis.bigramCrossEntropy, spec-proven to
    // agree within 1e-9 (same split as text_perplexity).
    "text_bigram_xent" -> ((s, dir) => {
      TextAnalysis.bigramCrossEntropyAudit(t(s, dir, "documents"), "doc_id", "text")
    }),


    // Misra–Gries heavy hitters — differential gate: MG counter values are
    // arrival-order-dependent (any run under-counts by ≤ n/(k+1)), but
    // MEMBERSHIP of every true heavy hitter (freq > n/(k+1)) is
    // GUARANTEED under any partitioning (mergeable-summaries bound). The
    // gate computes exact counts for the true heavy hitters (integer SQL,
    // hashable) and probes each against the k=63-counter sketch — a
    // broken reduce/merge drops a guaranteed member and flips a boolean.
    "text_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val mg = udaf(graft.functions.HeavyHitters.misraGries(63))
      val sketch = toks.agg(mg(col("term")).as("sketch"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      // total tokens = sum of the per-term counts — derived from `exact`
      // instead of a third corpus scan + explode
      val total = exact.agg(sum(col("cnt")).as("n"))
      exact.crossJoin(broadcast(total))
        .where(col("cnt") * 64 > col("n")) // integer-exact threshold
        .crossJoin(broadcast(sketch))
        .select(col("term"), col("cnt"),
          array_contains(col("sketch"), col("term")).as("in_sketch"))
    }),


    // Benchmark decontamination: distinct 8-gram overlap between every
    // train doc and the eval split. The eval split is a FIXED id range
    // (doc_id < 40) — a benchmark suite is a fixed-size artifact, and the
    // bounded split is what makes Dedup.contamination's broadcast side
    // constant under corpus growth (a %-of-corpus split would grow the
    // broadcast linearly and eventually OOM the driver). The clean
    // synthetic corpus shares few long n-grams naturally, so a
    // contaminating sentence is PLANTED deterministically into the eval
    // split and a disjoint slice of train docs (both engines synthesize
    // the identical string — same trick as pii_scrub/dedup_normalized),
    // guaranteeing the gate compares non-empty results at every scale
    // factor.
    "text_decontaminate" -> ((s, dir) => {
      Dedup.contamination(seededDocs(t(s, dir, "documents")), "doc_id", "text",
        col("doc_id") < 40, shingleLen = 8)
    }),


    // Bloom-pruned decontamination — the scale path for an eval-gram set
    // too big to broadcast exactly: scan-side might_contain(xxhash64(gram))
    // prune, then the exact join removes the false positives, so the
    // result is BIT-IDENTICAL to text_decontaminate and shares its oracle
    // string (any divergence = a false negative, which Bloom cannot have).
    "text_decontaminate_bloom" -> ((s, dir) => {
      Dedup.contaminationBloom(seededDocs(t(s, dir, "documents")), "doc_id",
        "text", col("doc_id") < 40, shingleLen = 8)
    }),


    // Token-rarity quality signal: per doc, the mean DOCUMENT FREQUENCY of
    // its tokens — low values flag gibberish/rare-vocab docs, high values
    // boilerplate (the distribution-tail filter that complements stopword
    // ratios). Two aggregations over the exploded token stream (vocab df,
    // then per-doc mean) — both partial-aggregated, shuffles carry
    // (token)/(doc_id) keys only. All-integer until one final division,
    // so the ratio is IEEE-identical cross-engine.
    "text_rarity" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val dfreq = toks.distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      toks.join(dfreq, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("df_sum"))
        .select(col("doc_id"), col("n_tokens"),
          (col("df_sum").cast("double") / col("n_tokens").cast("double")).as("mean_df"))
    }),


    // Language-audit: docs whose DECLARED lang disagrees with the n-gram
    // detector (the metadata-vs-content consistency check run before
    // language-stratified sampling trusts either). Map-only scan — the
    // fused text_signals pass feeds the detector, no second traversal.
    "text_lang_mismatch" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("declared"),
          TextAnalysis.langIdFromSignals(
            TextAnalysis.signals(col("text"))).as("pred_lang"))
        .where(col("pred_lang") =!= col("declared"))
    }),


    // Winnowing fingerprints (xxhash64-based: rows-only + spec).
    // Differential gate (r8): xxhash64 keeps the VALUES out of DuckDB's
    // reach, but winnowing has two independent Spark formulations — the
    // production codegen'd array form (slice + array_min per window) and a
    // window-function form (posexplode + min over rowsBetween, with the
    // same short-document fallback). Set equality between them is the
    // checkable invariant (the raw fingerprint counts stay spec-covered).
    "text_fingerprint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val prod = docs.select(col("doc_id"),
        sort_array(TextAnalysis.fingerprints(col("text"))).as("fps"))
      val windowLen = 4
      val hashes = transform(graft.functions.TextOps.shingles(col("text"), 5),
        sh => xxhash64(sh))
      val ex = docs.select(col("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
      val slide = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, windowLen - 1)
      val whole = Window.partitionBy(col("doc_id"))
      val alt = ex
        .withColumn("n", count(lit(1)).over(whole))
        .withColumn("m", min(col("h")).over(slide))
        // full windows only — except the short-doc fallback (n < window):
        // keep pos 0, whose rowsBetween min spans the whole doc
        .where(col("pos") <= greatest(col("n") - windowLen, lit(0)))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("m"))).as("fps_alt"))
      prod.join(alt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("fps") === col("fps_alt"),
            size(col("fps")) === 0).as("forms_agree"))
    }),


    // Multimodal plumbing: binary payload -> typed mapPartitions decode
    // stage (decode itself stubbed deterministically; see Multimodal).
    "mm_meta" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.encodeAsBinary(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRecord]
      Multimodal.extractMeta(media).toDF()
        .select("doc_id", "byte_len", "magic", "n_frames", "format")
    }),


    // Multimodal REAL decode: text bytes encoded as genuine RIFF/WAVE PCM16
    // payloads (real 44-byte header + data chunk), then decoded by the
    // pure-JVM WAV parser — sample rate / channels / bit depth / sample
    // count all recovered from the actual bytes, oracle-checked (the
    // encoder's geometry is a closed form over the text length).
    "mm_wav_decode" -> ((s, dir) => {
      Multimodal.decodeWavMeta(pcm16Wavs(s, dir)).toDF()
        .select("doc_id", "sample_rate", "channels", "bits_per_sample", "n_samples")
    }),


    // Multimodal framing: sample-accurate WAV frame extraction through the
    // typed mapPartitions stage, aggregated per document. The PCM16
    // encoder's geometry is a closed form over the text byte length
    // (1 byte → 1 sample → 2 data bytes; 25-sample frames, last frame
    // partial), so frame counts and byte totals are SQL-oracle-able.
    "mm_wav_frames" -> ((s, dir) => {
      Multimodal.wavFrames(pcm16Wavs(s, dir), frameSamples = 25).toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("frame_bytes"))
    }),


    "mm_png_decode" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, Multimodal.grayTestImage(id, "png"), "png")))
      Multimodal.decodeImageMeta(imgs).toDF()
        .select("doc_id", "width", "height", "n_pixels", "mean_red")
    }),


    // Same round-trip through the REAL JPEG codec (DCT, lossy): geometry
    // is exact; the uniform gray fill must come back within a small DC
    // quantization tolerance — emitted as a boolean so the oracle stays
    // deterministic.
    // Real raster RESIZE (decode → halve via Graphics2D → re-encode PNG →
    // re-decode): the mm transform stage, not just ingestion. The emitted
    // stats come from the RESIZED bytes, so the oracle's closed-form
    // geometry (floor-halved dims) and uniform-gray mean prove the whole
    // transform round trip.
    "mm_image_resize" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, Multimodal.grayTestImage(id, "png"), "png")))
      Multimodal.resizeHalfMeta(imgs).toDF()
        .select("doc_id", "width", "height", "n_pixels", "mean_red")
    }),


    "mm_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          Multimodal.MediaRecord(id, Multimodal.grayTestImage(id, "jpg"), "jpg")))
      Multimodal.decodeImageMeta(imgs).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          (abs(col("mean_red") - (col("doc_id") % 256)) <= 3.0).as("red_close"))
    }),


    // Count-Min sketch: depth x width counter matrix, merged by
    // element-wise addition (constant-size map-side combine vs the exact
    // count's full Zipf-tail shuffle). The gate probes EVERY distinct term
    // against the sketch and hash-checks two invariants the oracle states
    // as constants: estimate >= exact (one-sided, guaranteed — counters
    // only add), and the overestimate stays under 4n/width (integer-exact
    // comparison; expected excess is n/width per row, the min over 4 rows
    // sits far below the 4x ceiling for any fixed hash family).
    "text_count_min" -> ((s, dir) => {
      val depth = 4; val width = 1024
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val cms = udaf(graft.functions.CountMin.countMin(depth, width))
      val sketch = toks.agg(cms(col("term")).as("sketch"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = exact.agg(sum(col("cnt")).as("n"))
      exact.crossJoin(broadcast(total)).crossJoin(broadcast(sketch))
        .select(col("term"), col("cnt"),
          graft.functions.CountMin.estimateColumn(
            col("sketch"), col("term"), depth, width).as("e"), col("n"))
        .select(col("term"), col("cnt"),
          (col("e") >= col("cnt")).as("ge_ok"),
          ((col("e") - col("cnt")) * width <= col("n") * 4).as("within_ok"))
    }),


    // C4-style line-level cleaning (Raffel et al. 2020 §2.2). The corpus
    // is word soup with no line structure, so the gate STAGES it
    // deterministically in both engines (the text_normalize /
    // pii_scrub trick): tokens are cut into 6-word lines, ~70% of lines
    // get a terminal '.' by content hash, and hash-picked docs get a
    // "lorem ipsum" line (1/17) or a curly-brace line (1/13) appended.
    // c4Clean then keeps punctuation-terminated lines of >= 5 words and
    // drops lorem/brace docs and docs with < 3 surviving lines — both
    // drop directions non-vacuous at every scale factor.
    "text_c4_clean" -> ((s, dir) =>
      TextAnalysis.c4Clean(c4StagedDocs(t(s, dir, "documents")), "doc_id",
        "text", minWordsPerLine = 5, minLines = 3)),


    // Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    // Models: ... Gopher", table A1): word-count range, mean-word-length
    // range, >=80% words with an alphabetic character (integer-exact
    // 5*alpha >= 4*n comparison), >=2 stopwords. Emitted as per-doc rule
    // booleans + the composite verdict (not pre-filtered), so the oracle
    // hash-checks BOTH directions of every rule. Map-only fused scan.
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minWords = 50, maxWords = 100000)),


    // Within-doc duplicate-line repetition — the line-level complement of
    // text_repetition (the Gopher/MassiveText repetition battery measures
    // both). The word-soup corpus has no line structure and 6-word lines
    // essentially never collide by chance, so the staging PLANTS
    // repetition deterministically: 6-word lines, then the doc's first
    // line re-appended k = md5%4 times (k=0 keeps the no-repetition
    // direction non-vacuous). The oracle replays staging + grouped
    // counts verbatim; fractions are one int→double division each.
    "text_dup_lines" -> ((s, dir) =>
      TextAnalysis.duplicateLineSignals(repStagedDocs(t(s, dir, "documents")),
        "doc_id", "text")),


    // Top n-gram character coverage (n = 2 and 3) — the remaining Gopher
    // repetition signal: the most frequent word n-gram per doc (smallest
    // gram wins count ties, so both engines agree) and the char fraction
    // its occurrences cover. Arg-max is the min(struct(-cnt, gram))
    // partial aggregate — one candidate per doc per partition, no window
    // over the data; the oracle reaches the same row via a per-doc
    // row_number (method-independent answer).
    "text_ngram_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.topNgramCoverage(docs, "doc_id", "text", 2)
        .unionByName(TextAnalysis.topNgramCoverage(docs, "doc_id", "text", 3))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "text_ngram_topk" ->
      """WITH s AS (SELECT string_split(text, ' ') AS w FROM documents),
              t AS (SELECT list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w)-1) ]) AS sh
                    FROM s WHERE len(w) >= 3),
              u AS (SELECT unnest(sh) AS ngram FROM t)
         SELECT ngram, COUNT(*) AS n_docs FROM u
         GROUP BY ngram ORDER BY n_docs DESC, ngram ASC LIMIT 20""",

    "text_fingerprint" ->
      """SELECT doc_id, true AS forms_agree FROM documents""",

    "text_langid" ->
      s"""WITH h AS (SELECT doc_id, text,
                $langHitsSql
              FROM documents)
         SELECT doc_id,
                $langCaseSql AS pred_lang,
                en AS en_hits
         FROM h""",

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              c AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY doc_id, word),
              s AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
                           COUNT(*) AS n_distinct, CAST(MAX(n) AS BIGINT) AS top_count
                    FROM c GROUP BY doc_id)
         SELECT doc_id, n_words, n_distinct,
                CAST(n_words - n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
                CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac
         FROM s""",

    "pii_k_anonymity" ->
      """SELECT source, lang, n_chars // 100 AS len_bucket,
                COUNT(*) AS n_docs
         FROM documents
         GROUP BY 1, 2, 3
         HAVING COUNT(*) < 5""",

    "pii_scrub" ->
      """WITH planted AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0
                       THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE text END AS text
           FROM documents)
         SELECT doc_id,
                regexp_replace(regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\+?1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
         FROM planted""",

    "text_perplexity" ->
      s"""WITH $unigramLogProbCtes
         SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_tokens,
                $meanLogProbSql AS xent
         FROM g""",

    // bigram conditional: P(w2|w1) = c(w1,w2)/c(w1,·); same ordered-fold
    // mean as text_perplexity
    "text_bigram_xent" ->
      s"""WITH $bigramCtes,
           c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
           lp AS (SELECT bb.doc_id, bb.pos,
                         -ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) AS lp
                  FROM bb JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
           g AS (SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY doc_id)
         SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_bigrams,
                $meanLogProbSql AS xent
         FROM g""",

    // same planted-contamination synthesis as the Spark side; the 8-gram
    // comprehension is stop-exclusive range(1, len-6) = Spark's
    // sequence(0, size-8) shingle starts
    "text_decontaminate" -> decontaminateOracleSql,

    // the Bloom prune is result-invariant (exact join removes false
    // positives, false negatives impossible) — same oracle, verbatim
    "text_decontaminate_bloom" -> decontaminateOracleSql,

    "text_rarity" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
              j AS (SELECT t.doc_id, d.df FROM w t JOIN df d USING (w))
         SELECT doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_df
         FROM j GROUP BY doc_id""",

    // integer tf/df aggregation; the one floating step (tf·ln(N/df)) is
    // the same IEEE divide→ln→multiply sequence in both engines
    "text_tfidf" ->
      s"""WITH $tfDfCtes
         SELECT tf.doc_id, tf.term, tf.tf, df.df,
                CAST(tf.tf AS DOUBLE) *
                  ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
         FROM tf JOIN df USING (term), n""",

    // same type-table CTEs + the identical parenthesized KN expression;
    // ordered list_reduce fold = the Spark position-ordered aggregate
    "text_kneser_ney" ->
      s"""WITH $bigramCtes,
           c1 AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS nf FROM c2 GROUP BY 1),
           np AS (SELECT w2, COUNT(*) AS np FROM c2 GROUP BY 1),
           nt AS (SELECT COUNT(*) AS nt FROM c2),
           lp AS (SELECT bb.doc_id, bb.pos,
                         -ln((CAST(c2.c2 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE) +
                             (0.75 * CAST(c1.nf AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) *
                               (CAST(np.np AS DOUBLE) / CAST(nt.nt AS DOUBLE))) AS lp
                  FROM bb JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                          JOIN np USING (w2), nt),
           g AS (SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY doc_id)
         SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_bigrams,
                $meanLogProbSql AS xent_kn
         FROM g""",

    // the same seeded decimals as a VALUES table; SUM(DECIMAL) is exact
    // in both engines regardless of order, so only the final sigmoid is
    // float — and it consumes the identical double
    "text_quality_classifier" -> {
      val values = qcWeights.zipWithIndex
        .map { case (w, i) => s"($i, ${w.toPlainString}::DECIMAL(12,6))" }
        .mkString(", ")
      s"""WITH w(bucket, wv) AS (VALUES $values),
              tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
              tb AS (SELECT doc_id,
                            ('0x' || substr(md5(term), 1, 8))::UBIGINT % $qcDim AS bucket
                     FROM tok WHERE term <> ''),
              agg AS (SELECT doc_id, SUM(wv) AS wsum, COUNT(*) AS n_terms
                      FROM tb JOIN w USING (bucket) GROUP BY doc_id)
         SELECT doc_id, n_terms,
                CAST(wsum + ${qcBias.toPlainString}::DECIMAL(12,6) AS DOUBLE) AS raw,
                1.0 / (1.0 + exp(-CAST(wsum + ${qcBias.toPlainString}::DECIMAL(12,6) AS DOUBLE))) AS prob
         FROM agg"""
    },

    // BM25: same filtered tf/df integer aggregation; the float chain
    // (idf ln, tf normalization) is written as the identical op tree on
    // both sides — constants fold to the same IEEE doubles
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS term,
                             len(list_filter(string_split(text, ' '),
                                             w -> w <> '')) AS dl
                      FROM documents),
              f AS (SELECT * FROM tok
                    WHERE term IN ('spark', 'hash', 'merge', 'window')),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
                     FROM f GROUP BY 1, 2),
              dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              st AS (SELECT COUNT(*) AS n_docs,
                            CAST(SUM(len(list_filter(string_split(text, ' '),
                                                     w -> w <> ''))) AS DOUBLE) /
                              CAST(COUNT(*) AS DOUBLE) AS avgdl
                     FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, tf.dl, dft.df,
                ln((CAST(n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5) /
                     (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
                ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
                 (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                    0.75 * CAST(tf.dl AS DOUBLE) / avgdl))) AS bm25
         FROM tf JOIN dft USING (term), st""",

    // top-3 of the same tfidf values (bit-equal per text_tfidf's hash),
    // ties by term
    "text_keywords" ->
      s"""WITH $tfDfCtes,
              scored AS (SELECT tf.doc_id, tf.term,
                                CAST(tf.tf AS DOUBLE) *
                                  ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
                         FROM tf JOIN df USING (term), n)
         SELECT doc_id, term,
                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term ASC) AS INT) AS rank
         FROM scored
         QUALIFY rank <= 3""",

    // exact integer counts of the true heavy hitters; MG membership is
    // guaranteed for them, so in_sketch is the constant the sketch must hit
    "text_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                      FROM documents),
              e AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
              n AS (SELECT COUNT(*) AS n FROM tok)
         SELECT term, cnt, true AS in_sketch FROM e, n WHERE cnt * 64 > n""",

    "text_lang_mismatch" ->
      s"""WITH h AS (SELECT doc_id, lang, text,
                $langHitsSql
              FROM documents),
              l AS (SELECT doc_id, lang AS declared,
                $langCaseSql AS pred_lang
              FROM h)
         SELECT doc_id, declared, pred_lang FROM l WHERE pred_lang <> declared""",

    "text_quality" ->
      s"""WITH b AS (SELECT doc_id,
                ${qualityInputsSql()}
              FROM documents)
         SELECT doc_id, n_chars, n_words,
                CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
                CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stopword_ratio,
                CAST(n_alpha AS DOUBLE) / NULLIF(CAST(n_chars AS DOUBLE), 0) AS alpha_ratio,
                ${qualityScoreSql()} AS quality
         FROM b""",

    "text_normalize" ->
      """WITH messy AS (
           SELECT doc_id,
                  upper(substr(text, 1, 40)) || chr(10) ||
                  'Copyright 2024 ALL RIGHTS RESERVED' || chr(10) ||
                  text || chr(10) ||
                  '  Cafe' || chr(769) || ' ' || chr(9) || ' du  Monde ' AS raw
           FROM documents)
         SELECT doc_id,
                trim(regexp_replace(lower(nfc_normalize(
                  list_aggregate(
                    list_filter(string_split(raw, chr(10)),
                      l -> NOT regexp_matches(l, '(?i)^\s*(copyright\b|all rights reserved\b|terms of (service|use)\b|privacy policy\b|click here\b)')),
                    'string_agg', chr(10))
                )), '\s+', ' ', 'g')) AS clean
         FROM messy""",

    // identical staged markup (concat from doc_id), identical
    // backreference-free regex chain with 'g' flags, entities unescaped
    // in the same order (&amp; last)
    "text_strip_html" -> {
      val stripped = raw"""trim(regexp_replace(
              replace(replace(replace(replace(replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                  '<[^>]+>', ' ', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
              '\s+', ' ', 'g'))"""
      s"""WITH h AS (SELECT doc_id,
              '<html><head><style type="text/css">p{margin:0}</style><script>track("'
              || doc_id || '")</script></head><body><h1>Doc ' || doc_id
              || '</h1><p>' || text || '</p><br/><a href="/d/' || doc_id
              || '">&lt;more&gt; &amp; &quot;info&quot;</a></body></html>' AS html
            FROM documents)
         SELECT doc_id,
                $stripped AS clean,
                length($stripped) AS n_clean_chars
         FROM h"""
    },

    // identical staged string, identical three-pass scrub; counts probed
    // on t0/t1/t2 — the text exactly as the prior pass left it — and
    // CAST to BIGINT (len() is INT, and the gate emits long)
    "text_pii_scrub" ->
      """WITH enriched AS (SELECT doc_id,
              text || ' contact u' || doc_id || '@ex' || (doc_id % 7) || '.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' alt b' || doc_id || '@foo.org' ELSE '' END
              || ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS t0
            FROM documents),
           p1 AS (SELECT doc_id, t0,
              regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
            FROM enriched),
           p2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1, '\+\d{1,3}[ -]\d{3}[ -]?\d{3,4}', '<PHONE>', 'g') AS t2
            FROM p1)
         SELECT doc_id,
                regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text,
                CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(t1, '\+\d{1,3}[ -]\d{3}[ -]?\d{3,4}')) AS BIGINT) AS n_phone,
                CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
         FROM p2""",

    "text_tokens" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpeish_tokens,
                CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_tokens
         FROM documents""",

    "mm_wav_frames" ->
      """SELECT doc_id,
                CAST(ceil(octet_length(encode(text)) / 25.0) AS BIGINT) AS n_frames,
                CAST(octet_length(encode(text)) * 2 AS BIGINT) AS frame_bytes
         FROM documents""",

    "mm_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                ascii(text) AS magic,
                CAST(octet_length(encode(text)) // 100 AS BIGINT) AS n_frames,
                'txt' AS format
         FROM documents""",

    "mm_wav_decode" ->
      """SELECT doc_id,
                CAST(16000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(16 AS INT) AS bits_per_sample,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_samples
         FROM documents""",

    // closed-form geometry + lossless content round-trip (see the gate)
    "mm_png_decode" ->
      """SELECT doc_id,
                CAST(8 + doc_id % 13 AS INT) AS width,
                CAST(8 + doc_id % 7 AS INT) AS height,
                CAST((8 + doc_id % 13) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
                CAST(doc_id % 256 AS DOUBLE) AS mean_red
         FROM documents""",

    // floor-halved geometry; uniform gray survives any resize kernel
    "mm_image_resize" ->
      """SELECT doc_id,
                CAST((8 + doc_id % 13) // 2 AS INT) AS width,
                CAST((8 + doc_id % 7) // 2 AS INT) AS height,
                CAST(((8 + doc_id % 13) // 2) * ((8 + doc_id % 7) // 2) AS BIGINT) AS n_pixels,
                CAST(doc_id % 256 AS DOUBLE) AS mean_red
         FROM documents""",

    "mm_jpeg_decode" ->
      """SELECT doc_id,
                CAST(8 + doc_id % 13 AS INT) AS width,
                CAST(8 + doc_id % 7 AS INT) AS height,
                CAST((8 + doc_id % 13) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
                true AS red_close
         FROM documents""",

    "text_count_min" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT term, COUNT(*) AS cnt, true AS ge_ok, true AS within_ok
         FROM tok GROUP BY term""",

    "text_c4_clean" -> c4CleanOracleSql,

    // replay of repStagedDocs (6-word lines + first line re-appended
    // md5%4 times) then the same (doc, line) grouped counts; fractions
    // are the identical single int→double divisions
    "text_dup_lines" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              c AS (SELECT doc_id, toks,
                           CAST(ceil(len(toks) / 6.0) AS INT) AS nl FROM t),
              x AS (SELECT doc_id, toks, unnest(range(0, nl)) AS i FROM c),
              ln AS (SELECT doc_id, i,
                       array_to_string(toks[i*6+1 : i*6+6], ' ') AS line FROM x),
              base AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS btext
                       FROM ln GROUP BY doc_id),
              stage AS (SELECT b.doc_id,
                          b.btext || repeat(chr(10) || array_to_string(t.toks[1:6], ' '),
                            CAST(('0x' || substr(md5('dup#' || CAST(b.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 4 AS INT)) AS text
                        FROM base b JOIN t ON b.doc_id = t.doc_id),
              l2 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM stage),
              g AS (SELECT doc_id, line, COUNT(*) AS n FROM l2 GROUP BY doc_id, line)
         SELECT doc_id,
                CAST(SUM(n) AS BIGINT) AS n_lines,
                CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_lines,
                CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_line_frac,
                CAST(SUM((n - 1) * length(line)) AS DOUBLE) / CAST(SUM(n * length(line)) AS DOUBLE) AS dup_char_frac
         FROM g GROUP BY doc_id""",

    // per-doc arg-max via row_number (cnt DESC, gram ASC) — reaches the
    // same deterministic row as Spark's min(struct(-cnt, gram)) partial
    // agg; coverage is the identical integer product and single division
    "text_ngram_coverage" ->
      """WITH t AS (SELECT doc_id, length(text) AS doc_chars,
                           string_split(text, ' ') AS toks FROM documents),
              g AS (SELECT doc_id, doc_chars, 2 AS n,
                      unnest([ array_to_string(toks[i : i+1], ' ')
                               for i in range(1, len(toks)) ]) AS gram
                    FROM t WHERE len(toks) >= 2
                    UNION ALL
                    SELECT doc_id, doc_chars, 3 AS n,
                      unnest([ array_to_string(toks[i : i+2], ' ')
                               for i in range(1, len(toks) - 1) ]) AS gram
                    FROM t WHERE len(toks) >= 3),
              c AS (SELECT doc_id, doc_chars, n, gram, COUNT(*) AS cnt
                    FROM g GROUP BY doc_id, doc_chars, n, gram),
              r AS (SELECT doc_id, doc_chars, n, gram, cnt,
                      row_number() OVER (PARTITION BY doc_id, n
                                         ORDER BY cnt DESC, gram ASC) AS rk
                    FROM c)
         SELECT doc_id, n, gram AS top_gram, CAST(cnt AS BIGINT) AS top_count,
                CAST(cnt * length(gram) AS DOUBLE) / CAST(doc_chars AS DOUBLE) AS top_char_frac
         FROM r WHERE rk = 1""",

    "text_gopher_rules" ->
      s"""WITH b AS (SELECT doc_id,
                      len(string_split(text, ' ')) AS n_words,
                      length(text) AS n_chars,
                      len(list_filter(string_split(text, ' '),
                                      w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
                      ${stopHitsSql("en")} AS n_stop
                    FROM documents)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
                CAST(n_stop AS BIGINT) AS n_stop,
                (n_words >= 50 AND n_words <= 100000) AS wc_ok,
                (CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0 AND
                 CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0) AS mwl_ok,
                (5 * n_alpha_words >= 4 * n_words) AS alpha_ok,
                (n_stop >= 2) AS stop_ok,
                ((n_words >= 50 AND n_words <= 100000) AND
                 (CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0 AND
                  CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0) AND
                 (5 * n_alpha_words >= 4 * n_words) AND (n_stop >= 2)) AS pass
         FROM b"""
  )
}
