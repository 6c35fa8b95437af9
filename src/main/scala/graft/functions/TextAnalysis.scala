package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, fingerprinting. Beyond-reference extensions, all pure
  * `functions._` expressions (codegen'd, SQL-oracle-able where the math is
  * exact-integer or single-IEEE-op).
  */
object TextAnalysis {

  /** Stopword regex per language — the classic cheap n-gram/function-word
    * heuristic. Kept RE2/Java-compatible (plain alternation + \b). Built
    * from the SAME word lists the fused [[signals]] scan matches against
    * ([[graft.expressions.TextSignalsUtil.langWords]]), so the regex
    * oracle path and the single-traversal path cannot drift. */
  val langStopwords: Seq[(String, String)] =
    graft.expressions.TextSignalsUtil.langWords.map { case (lang, words) =>
      lang -> words.mkString("\\b(", "|", ")\\b")
    }

  /** Per-language stopword hit count. */
  def langHits(text: Column, lang: String): Column = {
    val pattern = langStopwords.toMap.apply(lang)
    size(regexp_extract_all(text, lit(pattern), lit(0)))
  }

  /** Predicted language: argmax of stopword hits, first-listed wins ties,
    * "und" (undetermined) when nothing matches. */
  def langId(text: Column): Column =
    pickLang(langStopwords.map { case (l, _) => l -> langHits(text, l) })

  /** The language with the most (and at least one) hits, first-listed
    * wins ties, "und" when nothing matches. */
  private def pickLang(hits: Seq[(String, Column)]): Column = {
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h > 0 && h === best, lit(l)).otherwise(acc)
    }
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(TextOps.tokens(text))

  /** BPE-ish subword count: letter runs, digits, and punctuation as separate
    * tokens (a regex approximation of GPT-2-style pre-tokenization). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** ~4 chars/token heuristic used for budget estimates. */
  def approxTokenCount(text: Column): Column = ceil(length(text) / 4.0).cast("long")

  /** Quality signals: char length, word count, mean word length, stopword
    * ratio, alpha ratio — integer counts divided in double (deterministic),
    * combined into a [0,1]-ish score. */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nWords = wsTokenCount(text)
    val nStop = langHits(text, "en")
    val nAlpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0)))
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "mean_word_len" -> (nChars - (nWords - lit(1))).cast("double") / nWords.cast("double"),
      "stopword_ratio" -> nStop.cast("double") / nWords.cast("double"),
      // try_divide: a ZERO-LENGTH document must yield NULL (→ filtered by
      // any quality gate), not an ANSI DIVIDE_BY_ZERO error. n_words is
      // never 0 (split keeps the empty token), so only this ratio needs it.
      "alpha_ratio" -> try_divide(nAlpha.cast("double"), nChars.cast("double")))
  }

  /** Composite quality score: weighted sum of clamped signals. */
  def qualityScore(text: Column): Column = {
    val sig = qualitySignals(text).toMap
    val lenScore = least(sig("n_words").cast("double") / lit(100.0), lit(1.0))
    val stopScore = least(sig("stopword_ratio") * lit(5.0), lit(1.0))
    val alphaScore = sig("alpha_ratio")
    lenScore * lit(0.4) + stopScore * lit(0.3) + alphaScore * lit(0.3)
  }

  // ---- fused single-traversal variants ------------------------------------
  // One byte-level scan ([[graft.expressions.TextSignals]]) replaces the
  // split + five regexp_extract_all passes of the composed forms above.
  // The derived Column arithmetic below REPLICATES the composed forms'
  // expression shapes operation-for-operation, so scores and language ids
  // are bit-identical (TextSignalsSpec proves it differentially over the
  // documents corpus).

  /** struct(n_chars, n_words, n_alpha, hits_en, hits_de, hits_fr, hits_es)
    * computed in one traversal. */
  def signals(text: Column): Column =
    graft.expressions.TextSignalsFunctions.text_signals(text)

  /** [[qualityScore]] from a materialized [[signals]] struct — same IEEE
    * operation order as the composed form. */
  def qualityScoreFromSignals(sig: Column): Column = {
    val nWords = sig.getField("n_words")
    val lenScore = least(nWords.cast("double") / lit(100.0), lit(1.0))
    val stopScore = least(
      sig.getField("hits_en").cast("double") / nWords.cast("double") * lit(5.0),
      lit(1.0))
    val alphaScore = try_divide(
      sig.getField("n_alpha").cast("double"), sig.getField("n_chars").cast("double"))
    lenScore * lit(0.4) + stopScore * lit(0.3) + alphaScore * lit(0.3)
  }

  /** [[langId]] from a materialized [[signals]] struct — same argmax /
    * tie-break / "und" fallback as the composed form. */
  def langIdFromSignals(sig: Column): Column =
    pickLang(langStopwords.map { case (l, _) => l -> sig.getField(s"hits_$l") })

  /** Gopher-style repetition signals: what fraction of a document's word
    * occurrences are repeats, and how much mass its single most frequent
    * word carries — the classic boilerplate/spam indicators a quality
    * gate thresholds on (repetition heuristics from the public Gopher /
    * MassiveText filtering literature).
    *
    * Scalable form: explode + two partial-aggregated groupBys keyed by
    * doc_id — per-row work is linear and the shuffles carry (doc_id,
    * word) then (doc_id) tuples. The per-row higher-order-function
    * alternative (`transform(distinct, x -> count matches)`) is O(d²)
    * per document and runs interpreted; this never is. Tokenization is
    * bare single-space split (empty tokens kept) so the DuckDB
    * string_split oracle is bit-identical; fractions are one
    * int→double division each. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_count"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        ((col("n_words") - col("n_distinct")).cast("double") /
          col("n_words").cast("double")).as("dup_word_frac"),
        (col("top_count").cast("double") /
          col("n_words").cast("double")).as("top_word_frac"))

  /** Per-document unigram cross-entropy against the corpus's own unigram
    * language model — the cheap KenLM-style fluency proxy: documents full
    * of corpus-typical words score LOW (fluent/boilerplate), documents of
    * rare tokens score HIGH (noise, foreign text, mangled encodings).
    * `xent = mean over tokens of -ln(count(w) / total_tokens)`.
    *
    * Two aggregations, both hash-partitioned and partially aggregated:
    * (1) token -> count over the corpus (the LM "training" pass — at
    * 100 TB this is the same shape as any vocabulary build; the vocab is
    * Zipf-bounded, orders of magnitude smaller than the corpus), then
    * (2) tokens equi-join the vocab on the token (broadcast when small,
    * shuffled hash at scale — the planner's call) and fold back per doc.
    *
    * THE SCALE FORM (default API, round-7 verdict #3): the per-doc mean is
    * sum/count partial aggregation — map-side combine ships one (sum,
    * count) pair per doc per partition, so a book-length document costs
    * O(partitions), never its full token list in one reducer array.
    * Cross-partition summation order is nondeterministic ⇒ exact only to
    * ~1 ulp per token; CorpusSpec proves agreement with
    * [[unigramCrossEntropyAudit]] within 1e-9 relative error. */
  def unigramCrossEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    tok.join(vocab, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (-log(col("cnt").cast("double") / col("total").cast("double"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), (sum(col("lp")) / count(lit(1))).as("xent"))
  }

  /** AUDIT form of [[unigramCrossEntropy]]: the per-doc mean folds the
    * token log-probs in POSITION order (sort_array over (pos, lp), then a
    * seeded left fold): double addition is not associative, so this fully
    * deterministic pipeline is what the DuckDB oracle reproduces
    * bit-for-bit — same discipline as [[Similarity.labelCentroidsAudit]].
    * Cost: each document's token log-probs materialize as one array in one
    * reducer — small-slice verification only; [[unigramCrossEntropy]] is
    * the production path. */
  def unigramCrossEntropyAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val lps = tok.join(vocab, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"),
        (-log(col("cnt").cast("double") / col("total").cast("double"))).as("lp"))
    positionFold(lps, "n_tokens", "xent")
  }

  /** Per document of (doc_id, pos, lp), its row count `nCol` and the
    * [[Similarity.foldMean]] of its `lp` values in position order
    * `meanCol` — the cross-engine-stable mean of the audit forms. */
  private def positionFold(lps: DataFrame, nCol: String, meanCol: String): DataFrame =
    lps.groupBy(col("doc_id"))
      .agg(Similarity.sortedBy(col("pos"), col("lp")).as("lps"))
      .select(col("doc_id"), size(col("lps")).cast("long").as(nCol),
        Similarity.foldMean(col("lps"), "lp").as(meanCol))

  /** Per-(document, term) TF-IDF — the classic sparse relevance weight
    * (keyword extraction, lexical retrieval scoring, quality signals):
    * `tfidf = tf * ln(N / df)` with raw counts, natural log, no
    * smoothing — every quantity but the one final multiply/log is exact
    * integer aggregation.
    *
    * Scale shape: explode + two hash-partitioned partial aggregations
    * (per-(doc,term) tf, then per-term df with a map-side combine) and
    * one equi-join of tf against the Zipf-bounded term table — the same
    * shuffle skeleton as [[unigramCrossEntropy]]'s vocabulary build.
    * The corpus size N joins in as a broadcast 1-row aggregate, never a
    * driver-side collect. `minTf` drops hapax noise before the df join
    * (most (doc,term) pairs have tf=1; at 100 TB that filter is the
    * difference between joining the long tail or not). */
  def tfIdf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTf: Long = 1L): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .where(col("tf") >= minTf)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(df_, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("tfidf"))
  }

  /** Okapi BM25 per-(doc, query-term) relevance (Robertson & Zaragoza's
    * probabilistic ranking function, with Lucene's "plus one" idf so
    * scores stay positive): `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`,
    * `tfNorm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))` — the lexical
    * upgrade of [[tfIdf]] and the sparse side of hybrid (BM25 + dense)
    * retrieval.
    *
    * Scale shape: the corpus stream is filtered TO THE QUERY TERMS before
    * any aggregation, so the tf table is query-bounded, never
    * corpus-sized; df aggregates that bounded table; N/avgdl are one
    * partial-aggregated scalar row broadcast back. Emits per-term rows
    * (the [[tfIdf]] shape) so no cross-engine float SUMMATION order
    * exists — every float step is a single identical IEEE op sequence in
    * both engines; callers fold per-doc totals with an ordered aggregate
    * when they need them. */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val toks = split(col(textCol), " ")
    val dl = size(filter(toks, w => length(w) > 0)).cast("long")
    val stream = docs.select(col(idCol).as("doc_id"),
        explode(toks).as("term"), dl.as("dl"))
      .where(col("term").isin(queryTerms.map(x => x: Any): _*))
    val tf = stream.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // NULL text must contribute dl=0, not Spark's size(null) = -1 (legacy
    // sizeOfNull): a corpus with null rows would silently skew avgdl — and
    // DuckDB's SUM skips the NULL, so the engines would diverge too. The
    // doc still counts in n_docs, mirroring SUM(NULL-skipped)/COUNT(*).
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(when(col(textCol).isNull, lit(0L)).otherwise(dl)).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val idf = log(
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * col("dl").cast("double") / col("avgdl")))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("df"),
        (idf * tfNorm).as("bm25"))
  }

  /** Per-document BIGRAM cross-entropy against the corpus's own bigram
    * LM — the conditional upgrade of [[unigramCrossEntropy]] (KenLM-style
    * fluency is n-gram, not unigram): `xent = mean over positions of
    * -ln P(w2|w1)` with `P(w2|w1) = c(w1,w2) / c(w1,·)`.
    *
    * Bigram formation is MAP-ONLY (per-row sequence+struct over the token
    * array — no self-join on position); counts are two hash-partitioned
    * partial aggregations (bigram table, then its prefix marginal — the
    * marginal aggregates the Zipf-bounded bigram table, never the corpus
    * again); scoring is one equi-join per table. Same sum/count scale
    * shape as the unigram form; docs with < 2 tokens have no bigrams and
    * drop out (mirrored by the oracle's len >= 2 filter). */
  def bigramCrossEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bg = bigramStream(docs, idCol, textCol)
    // score each bigram TYPE once (Zipf-bounded table ⋈ its marginal),
    // then join the corpus stream a single time on (w1, w2) — the former
    // stream ⋈ c2 ⋈ c1 chain reshuffled the full stream twice. On the
    // synthetic word-soup testdata types ≈ stream so the local bench is
    // flat (±6%, r10); the win is the Zipf case every real corpus is,
    // where the type table is orders of magnitude smaller than the
    // stream and one stream shuffle replaces two.
    val scored = scoredBigramTypes(bg)
    bg.join(scored, Seq("w1", "w2"))
      .select(col("doc_id"), col("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")) / count(lit(1))).as("xent"))
  }

  /** AUDIT form of [[bigramCrossEntropy]]: position-ordered fold for
    * cross-engine bit stability — same discipline as
    * [[unigramCrossEntropyAudit]] (the oracle path; the sum/count form
    * above is the production path). */
  def bigramCrossEntropyAudit(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bg = bigramStream(docs, idCol, textCol)
    positionFold(bg.join(scoredBigramTypes(bg), Seq("w1", "w2"))
      .select(col("doc_id"), col("pos"), col("lp")), "n_bigrams", "xent")
  }

  /** Interpolated Kneser–Ney bigram cross-entropy (absolute discount
    * d = 0.75; Kneser & Ney 1995, Chen & Goodman 1999 — public
    * literature): the standard smoothing upgrade over the raw
    * conditional [[bigramCrossEntropy]], which assigns unseen bigrams
    * zero mass. Per seen type:
    * `P_KN(w2|w1) = (c(w1,w2) − d)/c(w1·) + λ(w1)·P_cont(w2)` with
    * `λ(w1) = d·N1+(w1·)/c(w1·)` and `P_cont(w2) = N1+(·w2)/N1+(··)`.
    *
    * Scale shape identical to the audit form: every KN quantity comes
    * from the Zipf-bounded bigram-TYPE table (c2, its two marginals, a
    * broadcast scalar type count) — never a second corpus pass; the
    * stream pays one equi-join and folds per doc in position order (the
    * cross-engine-stable summation). */
  def kneserNeyCrossEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      d: Double = 0.75): DataFrame = {
    val bg = bigramStream(docs, idCol, textCol)
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("nf"))
    val np = c2.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val nt = c2.agg(count(lit(1)).as("nt"))
    val scored = c2.join(c1, Seq("w1")).join(np, Seq("w2"))
      .crossJoin(broadcast(nt))
      .select(col("w1"), col("w2"),
        (-log(
          (col("c2").cast("double") - lit(d)) / col("c1").cast("double") +
            (lit(d) * col("nf").cast("double") / col("c1").cast("double")) *
              (col("np").cast("double") / col("nt").cast("double"))))
          .as("lp"))
    positionFold(bg.join(scored, Seq("w1", "w2"))
      .select(col("doc_id"), col("pos"), col("lp")), "n_bigrams", "xent_kn")
  }

  /** Per-bigram-type score table: -ln(c(w1,w2)/c(w1,·)). The marginal
    * aggregates the (Zipf-bounded) bigram-type table, never the corpus
    * stream, and the division happens HERE — one row per type — so the
    * stream pays exactly one equi-join. Double math identical to the
    * former stream-side division (same c2/c1 operands). */
  private def scoredBigramTypes(bg: DataFrame): DataFrame = {
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        (-log(col("c2").cast("double") / col("c1").cast("double"))).as("lp"))
  }

  /** (doc_id, pos, w1, w2) bigram stream — map-only per-row array
    * arithmetic, shared by both cross-entropy forms.
    *
    * The token array is MATERIALIZED in its own projection before the
    * per-position `transform` lambda touches it (r19, optimization-guide
    * §4 "eliminate non-codegen expressions in the hot path"): higher-order
    * functions are CodegenFallback and evaluate their lambda bodies
    * interpreted with no common-subexpression elimination, so an inline
    * `split(text)` inside the lambda re-tokenized the document once per
    * `element_at` call PER POSITION — O(len²) work per document. Hoisting
    * the split into a prior Project makes every lambda reference a cheap
    * attribute read (measured 7.4× on the stream alone at sf0.1: 2.5 s →
    * 0.33 s; CollapseProject cannot re-inline it because a non-cheap
    * expression with multiple consumer references is never collapsed).
    * Values are bit-identical — same expressions, same order. */
  private def bigramStream(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val t = col("__toks")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"),
        posexplode(when(size(t) >= 2,
          transform(sequence(lit(0), size(t) - 2),
            i => struct(element_at(t, i + 1).as("w1"),
              element_at(t, i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Boolean identity the optimizer treats as nondeterministic: a filter
    * on its result cannot be pushed beneath the projection computing it. */
  private val pushdownBarrier = udf((b: Boolean) => b).asNondeterministic()

  /** Winnowing-style rolling fingerprints: hash token shingles, take the
    * minimum in each sliding window, dedupe. Near-identical documents share
    * most fingerprints (spec-verified; xxhash64 is not DuckDB-expressible
    * so the driver check is rows-only). */
  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning", §2.2 — the C4 heuristics): keep only
    * lines that end in a terminal punctuation mark AND have at least
    * `minWordsPerLine` words; drop whole documents that mention
    * "lorem ipsum", contain a curly brace (leaked code/templating), or
    * retain fewer than `minLines` surviving lines.
    *
    * Pure per-row array arithmetic over `split('\n')` — `filter`,
    * `rlike`, `array_join`, all codegen'd: map-only, no shuffle, no
    * state; the cleaning rate is whatever fraction of the scan survives,
    * at any corpus size. Every rule is string-exact, so the DuckDB
    * `string_split(text, chr(10))` + `list_filter` oracle is
    * bit-identical.
    *
    * Output: (idCol, cleaned text re-joined by '\n', n_lines_kept,
    * n_lines_dropped) — one row per SURVIVING document. */
  def c4Clean(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWordsPerLine: Int = 5,
      minLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      l.rlike("[.!?\"]$") && size(split(l, " ")) >= minWordsPerLine
    val badDoc =
      lower(col(textCol)).contains("lorem ipsum") || col(textCol).contains("{")
    // The drop verdict's inputs are projected first, `_bad` through a
    // nondeterministic identity: Catalyst never pushes a Filter through a
    // projection with a nondeterministic field, so the filter reads the
    // projected columns. Pushed, it would recompute them once per
    // reference, inlining every projection of `docs` beneath (over
    // c4StagedDocs: 7 tokenizations of each document, not 1).
    docs
      .select(col(idCol), col(textCol), filter(lines, keepLine).as("_kept"),
        pushdownBarrier(badDoc).as("_bad"))
      .where(!col("_bad") && size(col("_kept")) >= minLines)
      .select(col(idCol),
        array_join(col("_kept"), "\n").as("clean_text"),
        size(col("_kept")).cast("long").as("n_lines_kept"),
        (size(lines) - size(col("_kept"))).cast("long").as("n_lines_dropped"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, appendix A1) — the
    * other canonical public rule set next to [[c4Clean]]'s line rules:
    * word count within [minWords, maxWords], mean word length within
    * [3, 10], at least 80% of words containing an alphabetic character,
    * and at least 2 stopwords (the function-word sanity check).
    *
    * Emits per-document rule booleans plus the composite verdict rather
    * than pre-filtering, so callers (and the oracle) see both directions
    * of every rule. Map-only: one `split` feeds every rule (codegen'd
    * array ops; the 80% test is the integer-exact `5*alpha >= 4*n` form,
    * and mean word length divides once — the text_quality IEEE-mirroring
    * convention). */
  def gopherRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val words = split(col(textCol), " ")
    val nWords = size(words)
    val meanWl = (length(col(textCol)) - (nWords - 1)).cast("double") /
      nWords.cast("double")
    val nAlphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val nStop = size(regexp_extract_all(col(textCol),
      lit("\\b(the|a|of|and|to|in|is|it|that|for)\\b"), lit(0)))
    val wcOk = nWords >= minWords && nWords <= maxWords
    val mwlOk = meanWl >= 3.0 && meanWl <= 10.0
    val alphaOk = nAlphaWords * 5 >= nWords * 4
    val stopOk = nStop >= 2
    docs.select(col(idCol),
      nWords.cast("long").as("n_words"),
      meanWl.as("mean_word_len"),
      nStop.cast("long").as("n_stop"),
      wcOk.as("wc_ok"), mwlOk.as("mwl_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wcOk && mwlOk && alphaOk && stopOk).as("pass"))
  }

  /** Within-document duplicate-LINE repetition signals — the other half of
    * the Gopher/MassiveText repetition battery next to the word-level
    * [[repetitionSignals]]: what fraction of a document's lines are exact
    * repeats of an earlier line, and what fraction of its characters sit
    * in those repeated lines (the character-weighted form catches a short
    * doc whose one duplicated line is huge). Boilerplate navigation bars,
    * repeated headers, and scraper loops all light these up while leaving
    * word-level stats untouched.
    *
    * Same scalable shape as [[repetitionSignals]]: explode lines, then two
    * partial-aggregated groupBys keyed (doc_id, line) then (doc_id) — the
    * shuffles carry line tuples, never whole documents, and nothing is
    * quadratic. A repeat is every occurrence beyond a line's first, so
    * n_dup_lines = n_lines − n_distinct. Fractions are one int→double
    * division each (the DuckDB-mirroring convention); line character
    * counts stay exact integers until that division. */
  def duplicateLineSignals(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_lines"),
        count(lit(1)).as("n_distinct"),
        sum((col("n") - 1) * length(col("line"))).as("dup_chars"),
        sum(col("n") * length(col("line"))).as("total_chars"))
      .select(col("doc_id"),
        col("n_lines"),
        (col("n_lines") - col("n_distinct")).as("n_dup_lines"),
        ((col("n_lines") - col("n_distinct")).cast("double") /
          col("n_lines").cast("double")).as("dup_line_frac"),
        (col("dup_chars").cast("double") /
          col("total_chars").cast("double")).as("dup_char_frac"))

  /** Top word-n-gram character coverage — the remaining Gopher repetition
    * signal (Rae et al. 2021 A1 thresholds documents whose single most
    * frequent 2/3/4-gram covers too many of their characters: chorus
    * lyrics, keyword-stuffed spam, templated listings). Per document:
    * the most frequent n-gram (ties broken lexicographically — smallest
    * gram wins, so the answer is engine-deterministic) and the fraction
    * `count·len(gram) / len(doc)` of characters its occurrences cover.
    *
    * Scale shape: explode n-grams → partial-aggregated (doc, gram) count
    * → per-doc arg-max as a `min(struct(-cnt, gram))` partial aggregate
    * (the dedup_keep_best convention) — map-side combine ships ONE
    * candidate per doc per partition, never the gram list; no window over
    * the data. Documents shorter than n words emit nothing (no grams). */
  def topNgramCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    // token array hoisted out of the per-gram lambda (same fix as
    // [[bigramStream]] — an inline split inside a higher-order-function
    // lambda re-tokenizes the document per gram, O(len²) interpreted)
    val t = col("__toks")
    val grams = when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).as("doc_chars"),
        split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"), col("doc_chars"),
        explode(grams).as("gram"))
      .groupBy(col("doc_id"), col("doc_chars"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("doc_chars"))
      .agg(min(struct((-col("cnt")).as("nc"), col("gram").as("gram")))
        .as("top"))
      .select(col("doc_id"), lit(n).as("n"),
        col("top.gram").as("top_gram"),
        (-col("top.nc")).as("top_count"),
        ((-col("top.nc")) * length(col("top.gram"))).cast("double")
          ./(col("doc_chars").cast("double")).as("top_char_frac"))
  }

  /** HTML boilerplate stripping — the first transform every web-crawl
    * corpus applies before any quality/dedup signal (the extraction step
    * of C4/RefinedWeb-style pipelines, minus DOM heuristics): drop
    * script/style blocks wholesale, strip remaining tags, unescape the
    * five standard entities, collapse whitespace. Pure per-row expression
    * chain — codegen'd `regexp_replace`/`replace`, evaluates at the scan,
    * no shuffle, no UDF. Patterns avoid backreferences so the same regex
    * runs on RE2 engines (the DuckDB oracle) and java.util.regex
    * identically; `&amp;` unescapes LAST so `&amp;lt;` becomes the
    * literal text `&lt;`, not `<`. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => regexp_replace(c, e, ch) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  def fingerprints(text: Column, shingleLen: Int = 5, window: Int = 4): Column = {
    val hashes = transform(TextOps.shingles(text, shingleLen), s => xxhash64(s))
    // lambda-let binding (r19): this is a Column→Column function with no
    // DataFrame to project an intermediate into, so the shingle-hash array
    // is bound ONCE as the element of a 1-element array and the window
    // fold runs over the bound lambda VARIABLE — higher-order-function
    // lambdas evaluate interpreted with no subexpression elimination, so
    // referencing `hashes` directly inside the window lambda re-shingled
    // and re-hashed the document once per window position (O(len²)).
    // Values are bit-identical: same ops over the same array.
    def body(hs: Column): Column =
      when(size(hs) >= window,
        array_distinct(
          transform(sequence(lit(0), size(hs) - window),
            i => array_min(slice(hs, i + lit(1), lit(window))))))
        .otherwise(when(size(hs) > 0, array(array_min(hs)))
          .otherwise(array().cast("array<bigint>")))
    element_at(transform(array(hashes), hs => body(hs)), 1)
  }

  // ------------------------------------------------------------------
  // Linear quality classifier (the fastText-style scorer of Dolma /
  // FineWeb-class pipelines: hashed bag-of-words -> linear score ->
  // sigmoid). Split like the unigram tokenizer: SCORING is oracle-gated
  // with an exact-decimal contract (weights are DECIMAL(12,6), the
  // per-document sum is exact in both engines regardless of order, one
  // final sigmoid on one double), TRAINING is spec-gated driver-side
  // logistic regression over a capped sample (CorpusSpec asserts loss
  // descent + learned separation; float GD has no honest SQL oracle).
  // ------------------------------------------------------------------

  /** Map-shaped hashed-feature linear scoring: per document,
    * raw = bias + Σ_token w[mdBucket(token) % dim] with the weights as
    * exact decimals (order-independent sum — the cross-engine float
    * summation trap removed by construction), prob = sigmoid(raw).
    * One token-stream shuffle on doc_id (the tfIdf shape); the weight
    * table is dim-bounded and broadcast. */
  def scoreLinear(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[java.math.BigDecimal],
      bias: java.math.BigDecimal): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = weights.length
    val w = broadcast(weights.zipWithIndex
      .map { case (v, i) => (i, v) }
      .toDF("bucket", "w")
      .select(col("bucket"), col("w").cast("decimal(12,6)").as("w")))
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .where(length(col("term")) > 0)
      .select(col("doc_id"), Corpus.hashBucket(col("term"), dim).as("bucket"))
    toks.join(w, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("n_terms"),
        (col("wsum") + lit(bias).cast("decimal(12,6)")).cast("double").as("raw"))
      .withColumn("prob",
        lit(1.0) / (lit(1.0) + exp(-col("raw"))))
  }

  /** Driver-side logistic regression over hashed bag-of-words features of
    * a CAPPED document sample (the bpeTrain bounded-driver-table posture:
    * the corpus-sized work is the one collect of maxDocs rows; GD runs on
    * the driver, deterministically — fixed iteration count, no RNG).
    * Returns (weights rounded to 6 decimals, bias) ready for
    * [[scoreLinear]]'s exact-decimal contract. */
  def trainLogistic(
      docs: DataFrame,
      textCol: String,
      label: Column,
      dim: Int = 256,
      iters: Int = 200,
      lr: Double = 0.5,
      maxDocs: Int = 2000): (Seq[java.math.BigDecimal], java.math.BigDecimal, Vector[Double]) = {
    // content-keyed ORDER before limit: a bare LIMIT takes whichever
    // rows arrive first, so the sample — and the returned weights —
    // would depend on partitioning; ordered, the take is a
    // TakeOrderedAndProject and the sample is a pure function of the data.
    // Eager by design: the model is plain weights the caller embeds as
    // literals, so there is no plan to defer, and the collect is capped
    // at maxDocs rows (one job, pinned in CorpusSpec).
    val sample = docs.select(col(textCol).cast("string").as("t"),
        label.cast("double").as("y"))
      .where(col("t").isNotNull)
      .orderBy(md5(col("t").cast("binary")), col("t"))
      .limit(maxDocs).collect()
    require(sample.nonEmpty, "trainLogistic: empty sample")
    // hashed count features, L1-normalized per doc (bounded magnitudes)
    val xs = sample.map { r =>
      val counts = new Array[Double](dim)
      var n = 0
      r.getString(0).split(" ").foreach { t =>
        if (t.nonEmpty) { counts(mdBucketDriver(t, dim)) += 1.0; n += 1 }
      }
      if (n > 0) { var i = 0; while (i < dim) { counts(i) /= n; i += 1 } }
      counts
    }
    val ys = sample.map(_.getDouble(1))
    val w = new Array[Double](dim)
    var b = 0.0
    var trace = Vector.empty[Double]
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](dim)
      var gb = 0.0
      var loss = 0.0
      var i = 0
      while (i < xs.length) {
        var raw = b
        val x = xs(i)
        var j = 0
        while (j < dim) { raw += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-raw))
        val err = p - ys(i)
        j = 0
        while (j < dim) { gw(j) += err * x(j); j += 1 }
        gb += err
        val eps = 1e-12
        loss -= ys(i) * math.log(p + eps) + (1.0 - ys(i)) * math.log(1.0 - p + eps)
        i += 1
      }
      var j = 0
      while (j < dim) { w(j) -= lr * gw(j) / xs.length; j += 1 }
      b -= lr * gb / xs.length
      trace :+= loss / xs.length
      it += 1
    }
    def dec(v: Double) = new java.math.BigDecimal(
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(v)))
    (w.map(dec).toSeq, dec(b), trace)
  }

  /** Driver-side twin of [[Corpus.hashBucket]] (same md5 first-8-hex
    * uniform) so training and scoring hash features identically. */
  private[graft] def mdBucketDriver(key: String, n: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % n).toInt
  }
}
