package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.dsl.Dsl._
import graft.functions.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis, TextNormalize}
import graft.operators.{EventLog, Joins}
import graft.sources.Tables
import graft.gates.GateSupport._

/** Corpus assembly: sampling, mixing, sharding, packing, pipes.
  *
  * Split out of SparkEntry (round-9 advice #8) purely for file size; the
  * driver surface is unchanged — SparkEntry.queries/oracleSql concatenate
  * every family. Scaladoc on each entry cites the reference behavior it
  * re-expresses.
  */
object CorpusGates {

  /** Merge budget for the BPE gates — one knob for the Spark side and the
    * generated oracle unroll. */
  private[gates] val bpeN = 20

  /** Unigram-tokenizer gate knobs — one place for the Spark side and the
    * oracle interpolation (piece length cap / top-K piece budget). */
  private[gates] val uniMaxLen = 4
  private[gates] val uniTopK = 60

  /** Shared CTE chain for the unigram gates: word-type histogram →
    * substring piece counts → top-K ∪ single-char piece table (the
    * character-coverage tier). MATERIALIZED: the piece table is read by
    * the recursive lattice enumeration, and DuckDB would otherwise
    * re-inline the corpus scan per recursion step. */
  private def unigramPiecesSql: String =
    s"""occ AS MATERIALIZED (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        wt AS MATERIALIZED (SELECT word, count(*) AS wc FROM occ WHERE word <> '' GROUP BY word),
        subs AS (
          SELECT unnest(flatten([[word[i:i+n-1] for n in range(1,${uniMaxLen + 1}) if i+n-1 <= len(word)]
                                 for i in range(1, len(word)+1)])) AS sub, wc
          FROM wt),
        pcount AS MATERIALIZED (SELECT sub, sum(wc)::BIGINT AS cnt FROM subs GROUP BY sub),
        ranked AS (SELECT sub, cnt, row_number() OVER (ORDER BY cnt DESC, sub ASC) AS rk FROM pcount),
        pieces AS MATERIALIZED (SELECT sub, cnt FROM ranked WHERE rk <= $uniTopK OR len(sub) = 1)"""

  /** The full unigram-encode oracle — shared verbatim by the batch gate
    * (`corpus_unigram_encode`) and its streaming twin
    * (`s28_stream_unigram`): the streaming result must converge to
    * exactly the batch answer, so one SQL serves both (the corpus_chunk
    * precedent). Enumerates every lattice path per word type and ranks by
    * the identical (fewest, max-total, lexicographic) triple the Spark
    * Viterbi optimizes. */
  private[gates] def unigramEncodeOracleSql: String =
    s"""WITH RECURSIVE $unigramPiecesSql,
              paths(word, pos, np, total, path) AS (
                SELECT word, 0, 0, 0::BIGINT, '' FROM wt
                UNION ALL
                SELECT p.word, p.pos + len(pc.sub), p.np + 1, p.total + pc.cnt,
                       CASE WHEN p.path = '' THEN pc.sub
                            ELSE p.path || '|' || pc.sub END
                FROM paths p JOIN pieces pc
                  ON p.word[p.pos+1 : p.pos+len(pc.sub)] = pc.sub
                WHERE p.pos < len(p.word)),
              best AS (
                SELECT word, np, path,
                       row_number() OVER (PARTITION BY word
                         ORDER BY np ASC, total DESC, path ASC) AS rn
                FROM paths WHERE pos = len(word)),
              seg AS MATERIALIZED (SELECT word, np, path FROM best WHERE rn = 1),
              tok AS (SELECT doc_id, unnest(range(1, len(ws)+1)) AS i,
                             unnest(ws) AS word
                      FROM (SELECT doc_id, string_split(text,' ') AS ws
                            FROM documents))
         SELECT t.doc_id AS doc_id,
                string_agg(s.path, ' ' ORDER BY t.i) AS encoded,
                sum(s.np)::BIGINT AS n_tokens
         FROM tok t JOIN seg s ON t.word = s.word
         WHERE t.word <> ''
         GROUP BY t.doc_id"""

  /** The unrolled BPE training chain: w0 = word histogram with every
    * symbol wrapped chr(31)||sym||chr(30) (Corpus.BpeOpen/BpeClose — the
    * two-char wrapping makes replace's left-to-right non-overlapping scan
    * EXACTLY canonical greedy merge application: adjacent pair occurrences
    * never share a character, see Corpus.BpeOpen scaladoc). Each iteration
    * i adds
    *   p{i} (pair counts over w{i-1}'s unwrapped symbol lists),
    *   b{i} (the argmax pair, ties by the chr(31)-joined pair string —
    *         equal to (left ASC, right ASC) because chr(31) sorts below
    *         every printable char),
    *   w{i} (the wrapped-pair replace).
    * Shared by both BPE oracles so the replayed merge list is one string.
    * Every CTE is MATERIALIZED: DuckDB would otherwise inline the chain,
    * multiplying the parquet scan per iteration past the fd limit. */
  private def bpeChainSql(n: Int, byteLevel: Boolean = false): String = {
    // the histogram cap MIRRORS Corpus.bpeTrain's maxWords default
    // (ORDER BY cnt DESC, w ASC LIMIT 1000000) so the two engines train on
    // the same word-type table even if a corpus ever exceeds the cap
    // (ADVICE r11 #3); the tie-break also assumes the corpus is ASCII,
    // where Java UTF-16 and DuckDB UTF-8 binary orders agree — the
    // testdata documents table is ASCII by construction (TESTDATA.md).
    // byteLevel: over printable ASCII the GPT-2 byte alphabet is the
    // IDENTITY map, so the byte-level chain is the char chain plus the
    // wrapped chr(2) end-of-word sentinel appended to every seg — the
    // multibyte/non-printable cases (where bytes ≠ chars) are proven
    // JVM-side in BpeSpec's UTF-8 round-trip, not oracle-expressible.
    val eow = if (byteLevel) " || chr(31) || chr(2) || chr(30)" else ""
    val base =
      s"""w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
                array_to_string(list_transform(string_split(w, ''), ch -> chr(31) || ch || chr(30)), '')$eow AS seg
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w
           ORDER BY cnt DESC, w ASC LIMIT 1000000)"""
    val iters = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
              SELECT cnt, unnest([sym[j] || chr(31) || sym[j+1] for j in range(1, len(sym))]) AS pair
              FROM (SELECT cnt, list_filter(string_split(replace(seg, chr(31), ''), chr(30)), x -> x <> '') AS sym FROM w${i - 1})
            ) GROUP BY pair),
          b$i AS MATERIALIZED (SELECT string_split(pair, chr(31))[1] AS l, string_split(pair, chr(31))[2] AS r, pc
                  FROM p$i ORDER BY pc DESC, pair ASC LIMIT 1),
          w$i AS MATERIALIZED (SELECT w, cnt,
                         replace(seg, chr(31) || l || chr(30) || chr(31) || r || chr(30),
                                 chr(31) || l || r || chr(30)) AS seg
                  FROM w${i - 1}, b$i)"""
    }
    (base +: iters).mkString(",\n")
  }

  private def bpeTrainOracleSql(n: Int): String = {
    val rows = (1 to n).map(i =>
      s"""SELECT CAST($i AS INT) AS rank, l AS lhs, r AS rhs, l || r AS merged, pc AS pair_cnt FROM b$i""")
    s"WITH ${bpeChainSql(n)}\n${rows.mkString("\nUNION ALL\n")}"
  }

  /** Greedy 512-token bins per md5 shard (8 shards) over whole-word
    * token counts — shared by `corpus_pack_budget` and `pipe_pretokenize`
    * (the composed pipe's token counts are the same single-space split
    * lengths). */
  private val packBudgetOracleSql =
    """WITH d AS (
         SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS INT) AS shard
         FROM documents),
         r AS (
         SELECT doc_id, shard, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_before
         FROM d)
       SELECT doc_id, shard, n_tokens,
              CAST(floor(tok_before / 512.0) AS BIGINT) AS bin,
              tok_before % 512 AS bin_offset
       FROM r"""

  /** The BPE encode prelude over `n` merges: the merge chain, each word
    * type's final subtokens (`fin`), and `j`, every non-empty token
    * occurrence (doc_id, and its position unless `withPos` is off) joined
    * to its subtokens `sub`. */
  private def bpeEncodePrelude(n: Int, byteLevel: Boolean = false,
      withPos: Boolean = true): String =
    s"""WITH ${bpeChainSql(n, byteLevel)},
        fin AS MATERIALIZED (SELECT w, list_filter(string_split(replace(seg, chr(31), ''), chr(30)), x -> x <> '') AS sub FROM w$n),
        sdoc AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        tk AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS w FROM sdoc),
        tf AS MATERIALIZED (SELECT doc_id, pos, w FROM tk WHERE length(w) > 0),
        j AS MATERIALIZED (SELECT tf.doc_id, ${if (withPos) "tf.pos, " else ""}f.sub FROM tf JOIN fin f ON tf.w = f.w)"""

  private[gates] def bpeEncodeOracleSql(n: Int, byteLevel: Boolean = false): String =
    s"""${bpeEncodePrelude(n, byteLevel)}
      SELECT doc_id, CAST(SUM(len(sub)) AS BIGINT) AS n_subtokens,
             array_to_string(flatten(list(sub ORDER BY pos)), ' ') AS subtokens
      FROM j GROUP BY doc_id"""

  /** The BPE encode chain extended with the corpus_pack_budget window:
    * per-doc subtoken counts feed the same md5-shard greedy bin assignment
    * the whole-word pipe_pretokenize oracle replays. */
  private def bpePretokenizeOracleSql(n: Int): String =
    s"""${bpeEncodePrelude(n, withPos = false)},
        e AS MATERIALIZED (SELECT doc_id, CAST(SUM(len(sub)) AS BIGINT) AS n_tokens FROM j GROUP BY doc_id),
        d AS MATERIALIZED (SELECT doc_id, n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS INT) AS shard
             FROM e),
        r AS MATERIALIZED (SELECT doc_id, shard, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_before
             FROM d)
      SELECT doc_id, shard, n_tokens,
             CAST(floor(tok_before / 512.0) AS BIGINT) AS bin,
             tok_before % 512 AS bin_offset
      FROM r"""

  /** The BPE encode chain reduced to per-source fertility sums: exact
    * long sums, one double division per ratio — IEEE-identical across
    * engines since both divide the same exact operands. */
  private def bpeFertilityOracleSql(n: Int): String =
    s"""${bpeEncodePrelude(n, withPos = false)},
        e AS MATERIALIZED (SELECT doc_id, CAST(SUM(len(sub)) AS BIGINT) AS n_subtokens FROM j GROUP BY doc_id),
        m AS MATERIALIZED (SELECT d.source,
               CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS n_words,
               CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS n_chars,
               e.n_subtokens
             FROM documents d JOIN e ON d.doc_id = e.doc_id)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_subtokens) AS BIGINT) AS subtokens,
             CAST(SUM(n_words) AS BIGINT) AS words,
             CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(n_subtokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS fertility,
             CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_subtokens) AS DOUBLE) AS chars_per_subtoken
      FROM m GROUP BY source"""

  /** The encode chain extended with the GPT-2 vocab id layout the
    * pretrained gate's staged `vocab.json` carries: base symbols get ids
    * 0..K-1 in symbol order, merged tokens id K+rank-1 (min rank when two
    * merge paths concat to the same string), then every subtoken maps to
    * its id in document order. */
  private def bpePretrainedOracleSql(n: Int): String = {
    val mergedRows = (1 to n).map(i =>
      s"SELECT $i AS rank, l || r AS merged FROM b$i").mkString("\nUNION ALL\n")
    s"""${bpeEncodePrelude(n)},
        wrd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        chs AS (SELECT DISTINCT unnest(string_split(w, '')) AS sym FROM wrd WHERE length(w) > 0),
        vb AS MATERIALIZED (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym ASC) - 1 AS BIGINT) AS id FROM chs),
        kk AS (SELECT COUNT(*) AS k FROM vb),
        mg AS (SELECT merged, MIN(rank) AS rk FROM ($mergedRows) GROUP BY merged),
        voc AS MATERIALIZED (SELECT sym, id FROM vb
               UNION ALL SELECT merged AS sym, CAST(rk - 1 + k AS BIGINT) AS id FROM mg, kk),
        sx AS MATERIALIZED (SELECT doc_id, pos, unnest(range(1, len(sub) + 1)) AS i, unnest(sub) AS sym FROM j),
        ix AS MATERIALIZED (SELECT s.doc_id, s.pos, s.i, v.id FROM sx s JOIN voc v ON s.sym = v.sym)
      SELECT doc_id, COUNT(*) AS n_subtokens,
             array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos, i), ' ') AS token_ids,
             CAST(SUM(id) AS BIGINT) AS id_checksum
      FROM ix GROUP BY doc_id"""
  }

  /** The encode chain's per-word-occurrence symbol stream, counted and
    * ranked like the corpus_vocab oracle. */
  private def bpeVocabOracleSql(n: Int): String =
    s"""${bpeEncodePrelude(n, withPos = false)},
        occ AS MATERIALIZED (SELECT unnest(sub) AS sym FROM j),
        v AS MATERIALIZED (SELECT sym, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY sym)
      SELECT sym, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, sym ASC) AS BIGINT) AS token_id
      FROM v"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- LLM-data-pipeline extensions (north star; SURVEY.md §7.2 M6) ----

    // The flagship composition: a full training-data cleaning pass —
    // quality gate → language gate → exact dedup (keep min id) → token
    // accounting — each stage an already-oracle-proven operator, composed
    // through the `|>` pipe. All per-row text signals come from ONE fused
    // byte-level traversal (TextSignals struct) materialized up front —
    // the previous composed form re-ran split + five regexp_extract_all
    // passes in the quality filter, the language filter, AND the final
    // projection, and was the slowest bench entry. Values are bit-identical
    // (TextSignalsSpec), so the DuckDB regex oracle is unchanged.
    // End-to-end SESSION FUNNEL — the flagship product-analytics
    // composite: sessionize the event log (2 h inactivity gap, the
    // q_session_window islands), then measure ordered progression
    // view → click → purchase WITHIN each session. Order sensitivity is
    // the hard part: a click counts only AFTER the session's first view,
    // a purchase only after the first qualifying click — running-min
    // windows in RANGE mode (peer rows at equal timestamps included, so
    // both engines agree under ties). All windows are partitioned by
    // (user, session): parallel across users at any scale, never global.
    "pipe_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"),
        unix_micros(Tables.tsFromNanos(col("ts"))).as("us"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val prev = lag(col("us"), 1).over(wOrd)
      val withSid = e
        .withColumn("new_s",
          when(prev.isNull || col("us") - prev >= 7200000000L, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wr = Window.partitionBy(col("user_id"), col("sid")).orderBy(col("us"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val funnel = withSid
        .withColumn("fv", min(when(col("event_type") === "view", col("us"))).over(wr))
        .withColumn("qc", when(col("event_type") === "click" && col("fv").isNotNull, col("us")))
        .withColumn("fc", min(col("qc")).over(wr))
        .withColumn("qp", when(col("event_type") === "purchase" && col("fc").isNotNull, col("us")))
      funnel.groupBy(col("user_id"), col("sid"))
        .agg(max(when(col("fv").isNotNull, 1).otherwise(0)).as("s1"),
          max(when(col("qc").isNotNull, 1).otherwise(0)).as("s2"),
          max(when(col("qp").isNotNull, 1).otherwise(0)).as("s3"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("s1")).cast("long").as("reached_view"),
          sum(col("s2")).cast("long").as("reached_click"),
          sum(col("s3")).cast("long").as("reached_purchase"))
    }),


    "pipe_clean_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = docs
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      docs |>
        (d => d.select(col("doc_id"), TextAnalysis.signals(col("text")).as("sig"))) |>
        (d => d.where(TextAnalysis.qualityScoreFromSignals(col("sig")) >= 0.5)) |>
        (d => d.where(TextAnalysis.langIdFromSignals(col("sig")) === "en")) |>
        (d => d.join(keep, Seq("doc_id"), "left_semi")) |>
        (d => d.select(col("doc_id"),
          col("sig.n_words").as("ws_tokens"),
          TextAnalysis.qualityScoreFromSignals(col("sig")).as("quality")))
    }),


    // The END-TO-END training-corpus build: pipe_clean_corpus plus the
    // train/eval split and benchmark decontamination — train docs only,
    // quality-gated, language-gated, exact-deduped (against the WHOLE
    // corpus incl. eval, so a train copy of an eval doc dies twice), and
    // stripped of anything sharing an 8-gram with the eval split. Same
    // planted contamination as text_decontaminate so the stage provably
    // removes rows at every scale factor. Per-row signals still come from
    // the single fused traversal; the decontamination stage adds one
    // broadcast probe + one anti-join — the whole pipeline stays one
    // corpus scan plus hash-partitioned metadata joins.
    // MLM training-example prep (BERT-style): mask 15% of tokens by
    // content hash — deterministic, reproducible across re-runs and
    // engines, per-position independent so the whole op is ONE map-only
    // projection (zip_with + transform/filter over the token array, zero
    // exchanges). Emits the masked input, the position-ordered target
    // tokens (NULL when nothing masked — mirrored by the oracle's
    // NULL-skipping string_agg), and the counts.
    "corpus_mlm_mask" -> ((s, dir) => {
      Corpus.mlmMask(t(s, dir, "documents"), "doc_id", "text", pct = 15)
    }),


    // Dataset card — the per-source corpus report every published corpus
    // ships (rows, token/char volume, language spread, exact-dup rate,
    // interpolated median length): per-row signals + the md5 fingerprint
    // computed in one projection that is PERSISTED because two consumers
    // read it (the fingerprint aggregate for the dup rate, and the join
    // probe) — the pipe_training_corpus multi-consumer discipline, so the
    // corpus is scanned once, not once per branch. Integer sums exact;
    // mean = one division of exact sums; median = the q_percentile
    // interpolation parity.
    "pipe_dataset_card" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val base = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(filter(toks, w => length(w) > 0)).cast("long").as("n_tokens"),
        md5(col("text").cast("binary")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fpc = base.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
      base.join(fpc, Seq("fp"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"),
          sum(col("n_chars")).as("n_chars_total"),
          (sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          percentile(col("n_tokens"), lit(0.5)).as("median_tokens"))
    }),


    // Hybrid retrieval fusion — the RAG retrieval step that composes the
    // sparse (BM25) and dense (cosine) rankers by Reciprocal Rank Fusion
    // (Cormack et al. 2009, k=60): three queries, each a (term,
    // query-vector) pair over the id-aligned documents/embeddings tables.
    // Ranks are INTEGERS and the RRF score is one fixed float expression
    // of them, so the fusion is oracle-exact even though it fuses float
    // rankings (both underlying rankings are themselves cross-engine
    // bit-stable: text_bm25 and sim_brute_topk prove their score chains).
    // Scale: both rankers bound to top-50 per query with per-query
    // windows (parallel across the bounded query set, never a global
    // window); the dense probe broadcasts the query vectors and streams
    // the corpus once (the sim_* posture).
    "pipe_hybrid_retrieval" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qmap = Seq((0L, "spark"), (1L, "hash"), (2L, "window"))
        .toDF("qid", "term")
      val sparse = TextAnalysis.bm25(docs, "doc_id", "text",
          queryTerms = Seq("spark", "hash", "window"))
        .join(broadcast(qmap), Seq("term"))
      val ws = Window.partitionBy(col("qid"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
      val sp = sparse.withColumn("r_sparse", row_number().over(ws))
        .where(col("r_sparse") <= 50)
        .select(col("qid"), col("doc_id"), col("r_sparse"))
      val qv = broadcast(emb.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
      val dense = qv.crossJoin(
          emb.select(col("vec_id").as("doc_id"), col("embedding").as("cv")))
        .select(col("qid"), col("doc_id"),
          try_divide(Similarity.dot(col("qv"), col("cv")),
            Similarity.l2norm(col("qv")) * Similarity.l2norm(col("cv")))
            .as("cos"))
        .where(col("cos").isNotNull)
      val wd = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("doc_id").asc)
      val dn = dense.withColumn("r_dense", row_number().over(wd))
        .where(col("r_dense") <= 50)
        .select(col("qid"), col("doc_id"), col("r_dense"))
      val fused = sp.join(dn, Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("r_sparse").cast("double")),
            lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("r_dense").cast("double")),
              lit(0.0)))
      val wr = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
      fused.withColumn("rank", row_number().over(wr)).where(col("rank") <= 10)
        .select(col("qid"), col("doc_id"),
          col("r_sparse").cast("long").as("r_sparse"),
          col("r_dense").cast("long").as("r_dense"),
          col("rrf"), col("rank"))
    }),


    // RAG indexing prep, end-to-end: token-window chunking → per-chunk
    // quality scoring (the IEEE-mirrored composed form, same discipline
    // as text_quality) → best chunk per document (partial-aggregated
    // min(struct), no corpus-wide window) → join the document's embedding
    // payload. The shape every retrieval index build runs: chunk, score,
    // select, attach vectors.
    "pipe_rag_index" -> ((s, dir) => {
      val chunks = Corpus.chunkTokens(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, overlap = 16)
      val scored = chunks.select(col("doc_id"), col("chunk_id"),
          TextAnalysis.qualityScore(col("chunk_text")).as("quality"))
        .where(col("quality").isNotNull)
      val best = scored.groupBy(col("doc_id"))
        .agg(min(struct((-col("quality")).as("negq"),
          col("chunk_id").as("chunk_id"))).as("m"))
        .select(col("doc_id"), col("m.chunk_id").as("best_chunk"),
          (-col("m.negq")).as("quality"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("label"))
      best.join(emb, Seq("doc_id"))
    }),


    "pipe_training_corpus" -> ((s, dir) => {
      // seeded feeds FOUR consumers (dedup keeper set, both contamination
      // sides, the main signal scan) — persist once so the corpus is read
      // once, same discipline as the LSH signature stages (Bench/Verify
      // clear the cache per query)
      val seeded = seededDocs(t(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keep = seeded.groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val contaminated = Dedup.contamination(seeded, "doc_id", "text",
          col("doc_id") < 40, shingleLen = 8)
        .select(col("doc_id"))
      seeded |>
        (d => d.where(col("doc_id") >= 40)) |>
        (d => d.select(col("doc_id"), TextAnalysis.signals(col("text")).as("sig"))) |>
        (d => d.where(TextAnalysis.qualityScoreFromSignals(col("sig")) >= 0.5)) |>
        (d => d.where(TextAnalysis.langIdFromSignals(col("sig")) === "en")) |>
        (d => d.join(keep, Seq("doc_id"), "left_semi")) |>
        (d => d.join(contaminated, Seq("doc_id"), "left_anti")) |>
        (d => d.select(col("doc_id"), col("sig.n_words").as("ws_tokens"),
          TextAnalysis.qualityScoreFromSignals(col("sig")).as("quality")))
    }),


    // Quantile quality pruning WITHIN each source (the FineWeb-style
    // "keep the best half of every dump" step — a global cut would let
    // one high-scoring domain crowd out the rest): ntile(2) over a
    // per-source window on the bit-equal quality score (unique tiebreak
    // by doc_id), keep tile 1. Parallel across sources; the integer
    // ntile avoids any threshold-float comparison.
    "corpus_quality_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      docs.withColumn("half", ntile(2).over(w)).where(col("half") === 1)
        .select(col("doc_id"), col("source"), col("quality"))
    }),


    // Stratified hash-mod sampling: downsample the dominant language to
    // 10%, keep minority languages at 50%, unknown whole — the training-
    // mix rebalancing step. Stateless per-row predicate (content-hash
    // bucket < per-stratum threshold): no shuffle, no per-stratum
    // window — the exact-quota alternative would sort within a handful
    // of giant language partitions at corpus scale.
    "corpus_stratified_sample" -> ((s, dir) => {
      val withLang = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang"))
      Corpus.sampleStratified(withLang, "doc_id", col("lang"),
        Seq("en" -> 10, "de" -> 50, "fr" -> 50, "es" -> 50), defaultRate = 100)
        .select(col("doc_id"), col("lang"))
    }),


    // Deterministic seeded epoch shuffle: the training order for epoch 7 —
    // a pure function of (seed, doc_id), reproducible on any cluster
    // layout; range-sort + zipWithIndex ordinal, no global window.
    "corpus_epoch_shuffle" -> ((s, dir) => {
      Corpus.epochShuffle(t(s, dir, "documents"), "doc_id", seed = 7L)
    }),


    // Weighted mixture interleaving (stride scheduling): the training
    // ORDER in which each source recurs proportionally to its weight,
    // spread evenly — here weight 1/2/3 by source number mod 3 (so the
    // schedule is non-uniform at every scale factor). Oracle replays the
    // same per-source rank + virtual-time arithmetic.
    "corpus_interleave" -> ((s, dir) => {
      val wt = lit(1.0) + (substring(col("source"), 4, 8).cast("int") % 3).cast("double")
      Corpus.interleaveByWeight(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", wt)
        .select(col("doc_id"), col("interleave_ord"))
    }),


    // Balanced output sharding: heaviest-first round-robin deal into 8
    // output shards (the corpus write step — equal-size shards without
    // driver-side weight accounting). Deterministic total order ⇒ the
    // oracle replays the same ROW_NUMBER % 8 deal.
    "corpus_shard_balanced" -> ((s, dir) => {
      Corpus.shardBalanced(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc), nShards = 8)
        .select(col("doc_id"), col("shard"))
    }),


    // Per-source (domain) cap: at most 10 docs per source, best quality
    // first — the domain-diversity guard of every web-scale corpus. The
    // k-bounded TopK Aggregator ranks (map-side combine, O(cap) state per
    // source per partition); a row_number window would funnel each heavy
    // domain onto one reducer. Oracle: the window form, equivalent for
    // finite scores.
    "corpus_source_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.sourceCap(docs, "source", "doc_id",
        TextAnalysis.qualityScoreFromSignals(TextAnalysis.signals(col("text"))),
        n = 10)
    }),


    // Deterministic content-hash downsampling: keep ~10% of documents by
    // md5-bucket of the key — stateless per-row predicate, no shuffle, no
    // RNG state; the same document keeps the same fate however the corpus
    // is re-split. The oracle computes the identical md5-derived bucket.
    "corpus_sample_hash" -> ((s, dir) => {
      Corpus.sampleHashMod(t(s, dir, "documents"), "doc_id", 1, 10)
        .select(col("doc_id"))
    }),


    // Deterministic negative sampling (contrastive/retrieval training):
    // k=5 hash-pseudo-random negatives per query doc, same-source
    // candidates excluded (soft-positive leakage guard). Broadcast query
    // side + k-bounded TopK partial aggregate — the corpus streams once,
    // no per-query window. The oracle replays the identical md5 pair
    // rank.
    "corpus_negative_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.negativeSample(docs, "doc_id", "source",
        docs.where(col("doc_id") < 20), k = 5)
    }),


    // Leakage-safe split assignment: near-dup clusters (CC over exact
    // Jaccard pairs at t>=0.8) get ONE split decided by the md5 bucket of
    // the cluster representative — near-duplicates can never straddle
    // train/test. The oracle recomputes the same clusters (recursive CTE
    // min-label flood) and the same md5 CASE.
    "corpus_split_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleLen = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      Corpus.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
    }),


    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    // weight = n_chars: the "keep k docs, prefer long ones" downsample.
    // Content-keyed md5 uniform → u^(1/w) sort key (rounded to 6 dp
    // BEFORE selection so libm pow ulp wobble can't flip the cutoff);
    // plans as TakeOrderedAndProject — per-partition heaps, no global
    // sort. Oracle: the identical formula in DuckDB.
    "corpus_weighted_sample" -> ((s, dir) => {
      Corpus.weightedSample(t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), k = 60)
    }),


    // Sharded greedy token-budget packing: documents hash-shard 8 ways,
    // then one windowed pass per shard assigns fixed-budget bin ids —
    // parallelism = shard count, never a global single-reducer window.
    "corpus_pack_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.signals(col("text")).getField("n_words").as("toks"))
      Corpus.packTokenBudget(docs, "doc_id", "toks", budget = 512L, nShards = 8)
    }),


    // Token-window chunking with overlap (RAG / long-document context-prep):
    // 64-token windows advancing by 48 (16-token overlap) — map-only
    // sequence+slice arithmetic, one output row per chunk. The oracle
    // replays the identical windowing with generate_series + list slicing.
    "corpus_chunk" -> ((s, dir) => {
      Corpus.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
    }),


    // Content-defined chunking — boundaries from a rolling gear hash
    // (FastCDC-style), stable under local edits where fixed windows
    // shift: ONE streaming codegen pass per document
    // ([[graft.functions.Corpus.cdcChunks]]). The oracle runs the
    // relational equivalent of the same definition — one row per
    // CHARACTER, a window sum, and a recursive boundary walk — which is
    // exactly the shape the expression exists to avoid at corpus scale.
    "corpus_cdc_chunks" -> ((s, dir) => {
      Corpus.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
        window = 16, modulus = 32, minLen = 24, maxLen = 96)
    }),


    // WordPiece inventory (frequency rule: all single codepoints + top-150
    // substrings of length 2..6 by occurrence weight) — the BERT-family
    // vocabulary next to the BPE and unigram families. Substring
    // explosion runs over word TYPES; the cut is a deterministic
    // TakeOrderedAndProject.
    "corpus_wordpiece_vocab" -> ((s, dir) => {
      Corpus.wordpieceVocab(t(s, dir, "documents"), "text",
        k = 150, maxPieceLen = 6)
    }),


    // WordPiece greedy longest-match-first encode over that inventory —
    // the BERT matcher (## continuation rendering, whole-word [UNK] on
    // unmatchable positions). Greedy longest-match differs from BPE merge
    // replay on the same corpus, which is what the gate pins. The oracle
    // precomputes each (word type, position)'s longest matching piece
    // relationally, then walks it with a recursive CTE.
    "corpus_wordpiece_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.wordpieceEncode(docs, "doc_id", "text",
        Corpus.wordpieceVocab(docs, "text", k = 150, maxPieceLen = 6))
    }),


    // End-to-end PRETOKENIZATION pipe: vocab build → corpus tokenization
    // → fixed-budget packing in ONE composed plan — the full path a
    // pretraining data job runs before writing shards. Token counts come
    // from the tokenize stage's per-doc aggregation (single-space
    // convention), so the oracle replays len(string_split) + the same
    // md5-shard greedy window as corpus_pack_budget — any drift in the
    // vocab ranking, the broadcast join, or the re-assembly that changes
    // a document's token count breaks the hash.
    "pipe_pretokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = Corpus.buildVocab(docs, "text", minCount = 2L)
      val toks = Corpus.tokenizeToIds(docs, "doc_id", "text", vocab)
      Corpus.packTokenBudget(
        toks.select(col("doc_id"), col("n_tokens")), "doc_id", "n_tokens",
        budget = 512L, nShards = 8)
    }),


    // Vocabulary build (the step before any tokenizer/embedding-table
    // training): corpus term counts → deterministic ids by (count DESC,
    // term ASC) rank, hapax-filtered. Ranking is a range-partitioned sort
    // + per-partition ordinal offsets (Joins.zipWithOrdinal) — NOT a
    // no-partition row_number window, which would funnel the whole vocab
    // (billions of cnt>=2 typos/URLs at crawl scale) through one reducer.
    // The only corpus-sized work is the one partial-aggregated count.
    "corpus_vocab" -> ((s, dir) => {
      graft.functions.Corpus.buildVocab(t(s, dir, "documents"), "text", minCount = 2L)
    }),


    // Unigram-family piece table (SentencePiece's other half next to BPE):
    // top-K substrings of the word TYPES by weighted occurrence count,
    // union every single character (the character-coverage tier). The
    // corpus-sized work is one word-histogram partial aggregate; ranking
    // is TakeOrderedAndProject over the bounded piece-count table — no
    // global sort, no window ([[Corpus.unigramPieces]]).
    "corpus_unigram_vocab" -> ((s, dir) => {
      Corpus.unigramPieces(t(s, dir, "documents"), "text",
        maxLen = uniMaxLen, topK = uniTopK)
    }),


    // Shortest-path (Viterbi) tokenization under the piece table — the
    // exact-integer objective (fewest pieces, max summed frequency,
    // lexicographic path) so Spark and the DuckDB lattice-enumeration
    // oracle agree bit-for-bit. Map-only encode: the bounded piece table
    // rides the closure, a per-partition word cache amortizes the DP over
    // the Zipf head ([[Corpus.unigramEncode]]; the float log-prob EM
    // regime is spec-gated in CorpusSpec — cross-engine log ulp drift
    // makes a SQL oracle for it dishonest).
    "corpus_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pieces = Corpus.unigramPieceTable(docs, "text",
        maxLen = uniMaxLen, topK = uniTopK)
      Corpus.unigramEncode(docs, "doc_id", "text", pieces, maxLen = uniMaxLen)
    }),


    // Corpus tokenization against the built vocabulary — the missing step
    // between vocab build and packing/chunking: per-doc ORDERED token-id
    // sequence, OOV → reserved id 0. One broadcast join (a vocabulary is
    // tokenizer-budget-bounded, never corpus-sized); the per-doc collect
    // is bounded by one document's length. token_ids is serialized to a
    // comma-joined string for the gate only (the driver's pandas row-sort
    // cannot order array cells — the q_collect_list precedent); the
    // operator itself emits a real array<long>.
    "corpus_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.functions.Corpus.buildVocab(docs, "text", minCount = 2L)
      graft.functions.Corpus.tokenizeToIds(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("token_ids").cast("array<string>"), ",").as("token_ids"))
    }),


    // Training-mix resampling weights: per-source token share and the
    // multiplier that rebalances to a uniform mix (weight > 1 ⇒ upsample).
    // One partial-aggregated groupBy over the corpus; the window runs over
    // the AGGREGATED per-source rows (a handful), not the data. Every
    // double op mirrors the oracle op-for-op (exact long sums, one cast,
    // one divide) so the ratios are IEEE-identical.
    "corpus_mix_weights" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents").select(col("source"),
        TextAnalysis.signals(col("text")).getField("n_words").cast("long").as("toks"))
      val agg = toks.groupBy(col("source")).agg(sum(col("toks")).as("toks"))
      val w = Window.partitionBy()
      val share = col("toks").cast("double") / sum(col("toks")).over(w).cast("double")
      agg.select(col("source"), col("toks"), share.as("share"),
        ((lit(1.0) / count(lit(1)).over(w)) / share).as("weight"))
    }),


    // Temperature-scaled source rebalancing (alpha = 0.5): per-source keep
    // rate (n_min/n_i)^0.5 via integer hash thresholds — smallest source
    // kept whole, larger ones downsampled toward uniform. alpha = 0.5 is
    // the bit-exact path (IEEE sqrt is correctly rounded in both engines;
    // see Corpus.temperatureSample). Corpus side is a stateless hash
    // predicate behind one tiny broadcast-joined threshold table.
    // The synthetic sources are EXACTLY uniform (rate 1 everywhere —
    // vacuous), so the gate tiers them 12/6/2 into big/mid/small strata
    // first: proportions are scale-invariant, so the downsampling engages
    // (sqrt(1/6) for big, sqrt(1/3) for mid) at every scale factor.
    "corpus_temperature_sample" -> ((s, dir) => {
      val srcNum = substring(col("source"), 4, 8).cast("int")
      val tiered = t(s, dir, "documents").withColumn("tier",
        when(srcNum < 12, lit("big"))
          .when(srcNum < 18, lit("mid"))
          .otherwise(lit("small")))
      Corpus.temperatureSample(tiered, "doc_id", "tier", alpha = 0.5)
        .select(col("doc_id"), col("tier"))
    }),


    // Subword BPE merge training (Sennrich et al. 2016): 20 most-frequent
    // adjacent-pair merges over the corpus word histogram, ties by
    // (left ASC, right ASC) — a deterministic pure function of the corpus.
    // The only corpus-sized work is the distributed word-frequency count;
    // the merge loop runs over the vocabulary-bounded histogram (the
    // SentencePiece/HF-trainer shape). The oracle replays all 20
    // iterations as unrolled CTEs: pair-count → argmax → delimiter-guarded
    // greedy replace, so any drift in counting, tie-break, or merge
    // application breaks the hash.
    "corpus_bpe_train" -> ((s, dir) => {
      Corpus.bpeTrain(t(s, dir, "documents"), "text", numMerges = bpeN)
        .select(col("rank"), col("left").as("lhs"), col("right").as("rhs"),
          col("merged"), col("pair_cnt"))
    }),


    // BPE encoding with the learned merges: chained delimiter-guarded
    // replaces inlined as ONE codegen'd map-only expression — no join, no
    // shuffle; the corpus streams through a single projection. The oracle
    // carries each word type's segmentation through the same 20 unrolled
    // iterations and joins it back onto the corpus word stream — identical
    // because applying merges 1..N in rank order to a fresh word IS the
    // training-time segmentation.
    "corpus_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN)
      Corpus.bpeEncode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_subtokens"),
          array_join(col("subtokens"), " ").as("subtokens"))
    }),


    // BYTE-LEVEL BPE (GPT-2-class): symbols are UTF-8 bytes through the
    // byte→unicode alphabet plus a chr(2) end-of-word sentinel, so merges
    // learn word-final variants and ANY input round-trips (BpeSpec proves
    // emoji/CJK; this ASCII corpus is where bytes == chars and the DuckDB
    // chain replays identically). Encode runs the mapPartitions sequential
    // matcher — the production-size path — so this gate also oracle-checks
    // that engine against the SQL replay end-to-end.
    "corpus_bpe_bytes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN, byteLevel = true)
      Corpus.bpeEncode(docs, "doc_id", "text", merges, byteLevel = true)
        .select(col("doc_id"), col("n_subtokens"),
          array_join(col("subtokens"), " ").as("subtokens"))
    }),


    // BPE ROUND-TRIP at corpus scale: byte-level train → encode through
    // the sequential matcher → DECODE (concat symbols, end-of-word
    // sentinels back to word boundaries — the byte alphabet is the
    // identity on this ASCII corpus, so the decode is a pure column
    // expression; the general multibyte inverse is bpeByteDecode, proven
    // in BpeSpec) must reproduce every document byte-for-byte. The oracle
    // is the documents table itself — the strongest possible lossless
    // claim: any drift anywhere in train/encode/decode breaks the hash.
    "corpus_bpe_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN, byteLevel = true)
      Corpus.bpeEncode(docs, "doc_id", "text", merges, byteLevel = true)
        .select(col("doc_id"),
          array_join(
            filter(split(array_join(col("subtokens"), ""), Corpus.BpeEow),
              w => length(w) > 0), " ").as("text"))
    }),


    // CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    // literature): per LANGUAGE, documents split into head/middle/tail
    // perplexity terciles — the quality-stratification step CCNet applies
    // before keeping head+middle. Signals compose from already-proven
    // operators (langId + the audit-form unigram cross-entropy); the
    // tercile is an integer ntile over a per-language window — parallel
    // across languages (CCNet's own deployment shards by language file; a
    // single dominant language would bound the stage, in which case the
    // approx-percentile threshold form replaces the exact window).
    "corpus_ccnet_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val xent = TextAnalysis.unigramCrossEntropyAudit(docs, "doc_id", "text")
      val lang = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      val w = Window.partitionBy(col("lang")).orderBy(col("xent").asc, col("doc_id").asc)
      xent.join(lang, Seq("doc_id"))
        .withColumn("tercile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("xent"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
    }),


    // BPE vocabulary export — the tokenizer ARTIFACT a pipeline ships:
    // every subword symbol observed in the encoded corpus with its
    // occurrence count and a deterministic dense id by (count DESC,
    // symbol ASC) rank (buildVocab's ordinal discipline: range-sort +
    // per-partition offsets, no global window; id 0 stays reserved).
    // One encode pass + one partial-aggregated count; the symbol table
    // is tokenizer-budget-bounded by construction.
    "corpus_bpe_vocab" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN)
      val syms = Corpus.bpeEncode(docs, "doc_id", "text", merges)
        .select(explode(col("subtokens")).as("sym"))
        .groupBy(col("sym")).agg(count(lit(1)).as("cnt"))
      graft.operators.Joins
        .zipWithOrdinal(syms.orderBy(col("cnt").desc, col("sym").asc), "token_id")
        .withColumn("token_id", col("token_id") + lit(1L))
    }),


    // Tokenizer fertility report: per source, subtokens-per-word and
    // chars-per-subtoken over the trained BPE — the standard
    // tokenizer-evaluation metric (a fertility spike on one source means
    // the tokenizer underfits its distribution). Exact long sums per
    // source (partial-aggregated), ONE double division per ratio — both
    // engines divide the same exact sums, so the doubles are
    // IEEE-identical.
    "corpus_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN)
      val enc = Corpus.bpeEncode(docs, "doc_id", "text", merges)
      val base = docs.select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars"))
      enc.join(base, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_subtokens")).as("subtokens"),
          sum(col("n_words")).as("words"),
          sum(col("n_chars")).as("chars"))
        .select(col("source"), col("n_docs"), col("subtokens"), col("words"),
          col("chars"),
          (col("subtokens").cast("double") / col("words").cast("double"))
            .as("fertility"),
          (col("chars").cast("double") / col("subtokens").cast("double"))
            .as("chars_per_subtoken"))
    }),


    // END-TO-END BPE pretokenization: train merges → subword-encode every
    // document → pack per-doc subtoken counts into fixed 512-token bins —
    // the pipe_pretokenize lifecycle with a REAL subword tokenizer in
    // place of the whole-word vocab. One corpus scan for the histogram,
    // one map-only encode projection, one windowed pass per shard: the
    // full pretraining-prep path stays shuffle-minimal end-to-end.
    "pipe_bpe_pretokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN)
      val enc = Corpus.bpeEncode(docs, "doc_id", "text", merges)
      Corpus.packTokenBudget(enc.select(col("doc_id"), col("n_subtokens")),
        "doc_id", "n_subtokens", budget = 512L, nShards = 8)
    }),


    // PRETRAINED-TOKENIZER ingestion (r14 verdict #3): production
    // pipelines far more often encode with a PUBLISHED tokenizer than a
    // self-trained one. The gate round-trips the real artifact formats —
    // train → write GPT-2 `merges.txt`/`vocab.json` (openai/gpt-2 text
    // framing, public knowledge) → [[Corpus.bpeLoadMerges]]/
    // [[Corpus.bpeLoadVocab]] → the EXISTING bpeEncode path → subtoken→id
    // mapping via the loaded vocab (broadcast join, one doc_id shuffle).
    // The oracle replays the identical chain from the corpus itself (the
    // staged files are a deterministic function of it), so any drift in
    // the format writer, the parser, rank ordering, or the GPT-2 id
    // layout (base symbols 0..K-1 by symbol order, merges K.. in rank
    // order, first-occurrence-wins) breaks the hash.
    "corpus_bpe_pretrained" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stage = stagedFeed(s"bpepre#$dir", "graft-bpe-pre") { st =>
        val merges = Corpus.bpeTrain(docs, "text", numMerges = bpeN)
        Corpus.bpeSaveMerges(merges, s"$st/merges.txt")
        val base = docs.select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .select(explode(split(col("w"), "")).as("sym"))
          .where(length(col("sym")) > 0).distinct()
        Corpus.bpeSaveVocab(
          Corpus.bpeVocabFromMerges(base, merges), s"$st/vocab.json")
      }
      val merges = Corpus.bpeLoadMerges(s, s"$stage/merges.txt")
      val vocab = Corpus.bpeLoadVocab(s, s"$stage/vocab.json")
      Corpus.bpeEncode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          posexplode(col("subtokens")).as(Seq("pos", "sym")))
        .join(broadcast(vocab), col("sym") === col("token"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_subtokens"),
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("id")))),
              e => e.getField("id").cast("string")), " ").as("token_ids"),
          sum(col("id")).as("id_checksum"))
    }),


    // DSIR importance log-weights (Xie et al. 2023): hashed unigram+bigram
    // log-likelihood ratio of the trusted-source target distribution
    // (source = 'src0') vs the raw corpus — the data-selection score a
    // pretraining pipeline resamples by. Bucket table is 1024 rows
    // regardless of corpus size; totals ride a broadcast single-row agg;
    // per-doc sums are partial-aggregated. Every double op (integer-exact
    // products, one divide, one ln per bucket) mirrors the oracle.
    "corpus_dsir_weights" -> ((s, dir) =>
      Corpus.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0", buckets = 1024))
  )

  val oracleSql: Map[String, String] = Map(
    "corpus_bpe_train" -> bpeTrainOracleSql(bpeN),
    "corpus_bpe_encode" -> bpeEncodeOracleSql(bpeN),
    "corpus_bpe_bytes" -> bpeEncodeOracleSql(bpeN, byteLevel = true),
    // decode(encode(x)) == x — the oracle IS the input corpus
    "corpus_bpe_roundtrip" ->
      "SELECT doc_id, text FROM documents WHERE length(text) > 0",
    "pipe_bpe_pretokenize" -> bpePretokenizeOracleSql(bpeN),
    "corpus_bpe_fertility" -> bpeFertilityOracleSql(bpeN),
    "corpus_bpe_vocab" -> bpeVocabOracleSql(bpeN),
    "corpus_bpe_pretrained" -> bpePretrainedOracleSql(bpeN),

    // the text_perplexity xent CTE + the stratified-sample langid CASE,
    // then the same per-language (xent, doc_id) tercile
    "corpus_ccnet_buckets" ->
      s"""WITH $unigramLogProbCtes,
           x AS (SELECT doc_id,
                        $meanLogProbSql AS xent
                 FROM g),
           h AS (SELECT doc_id, text,
                $langHitsSql
              FROM documents),
           l AS (SELECT doc_id,
                $langCaseSql AS lang
              FROM h),
           tcl AS (SELECT x.doc_id, l.lang, x.xent,
                          ntile(3) OVER (PARTITION BY l.lang
                                         ORDER BY x.xent ASC, x.doc_id ASC) AS t
                   FROM x JOIN l USING (doc_id))
         SELECT doc_id, lang, xent,
                CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket
         FROM tcl""",

    "pipe_clean_corpus" ->
      s"""WITH b AS (SELECT doc_id, text,
                length(text) AS n_chars,
                len(string_split(text, ' ')) AS n_words,
                $langHitsSql,
                len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
              FROM documents),
              q AS (SELECT doc_id, n_words,
                ${qualityScoreSql("en")} AS quality,
                $langCaseSql AS pred_lang
              FROM b),
              k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text))
         SELECT q.doc_id, n_words AS ws_tokens, quality
         FROM q
         WHERE quality >= 0.5 AND pred_lang = 'en'
           AND q.doc_id IN (SELECT doc_id FROM k)""",

    // the pipe_clean_corpus oracle plus the train split and the
    // text_decontaminate shingle CTE, composed over the same seeded text
    "pipe_training_corpus" ->
      s"""WITH seeded AS (
           SELECT doc_id,
                  CASE WHEN doc_id < 40 OR doc_id % 10 = 3
                       THEN text || ' the quick brown fox jumps over the lazy dog tonight'
                       ELSE text END AS text
           FROM documents),
           b AS (SELECT doc_id, text,
                length(text) AS n_chars,
                len(string_split(text, ' ')) AS n_words,
                $langHitsSql,
                len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
              FROM seeded),
           q AS (SELECT doc_id, n_words,
                ${qualityScoreSql("en")} AS quality,
                $langCaseSql AS pred_lang
              FROM b),
           k AS (SELECT MIN(doc_id) AS doc_id FROM seeded GROUP BY MD5(text)),
           s2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM seeded),
           t2 AS (SELECT doc_id,
                         list_distinct([ w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
                                         w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
                                         for i in range(1, len(w)-6) ]) AS sh
                  FROM s2 WHERE len(w) >= 8),
           ev AS (SELECT DISTINCT unnest(sh) AS g FROM t2 WHERE doc_id < 40),
           contam AS (SELECT DISTINCT tr.doc_id
                      FROM (SELECT doc_id, unnest(sh) AS g FROM t2 WHERE doc_id >= 40) tr
                      JOIN ev ON tr.g = ev.g)
         SELECT q.doc_id, n_words AS ws_tokens, quality
         FROM q
         WHERE q.doc_id >= 40 AND quality >= 0.5 AND pred_lang = 'en'
           AND q.doc_id IN (SELECT doc_id FROM k)
           AND q.doc_id NOT IN (SELECT doc_id FROM contam)""",

    "corpus_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, text,
                $langHitsSql
              FROM documents),
              l AS (SELECT doc_id,
                $langCaseSql AS lang
              FROM h)
         SELECT doc_id, lang FROM l
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 <
               CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50
                         WHEN 'fr' THEN 50 WHEN 'es' THEN 50 ELSE 100 END""",

    // same per-source rank and (rank + 0.5) / weight virtual-time merge
    "corpus_interleave" ->
      """WITH r AS (SELECT doc_id, source,
                           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS sr
                    FROM documents),
            k AS (SELECT doc_id,
                         (sr + 0.5) / (1.0 + CAST(substr(source, 4, 8) AS INT) % 3) AS sk
                  FROM r)
         SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS interleave_ord
         FROM k""",

    // same heaviest-first round-robin deal: rank % 8 over the total order
    "corpus_shard_balanced" ->
      """SELECT doc_id,
                CAST((ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1) % 8 AS INT)
                  AS shard
         FROM documents""",

    "corpus_epoch_shuffle" ->
      """SELECT doc_id,
                ROW_NUMBER() OVER (ORDER BY md5(concat_ws('#', '7',
                                     CAST(doc_id AS VARCHAR))), doc_id) - 1
                  AS epoch_ord
         FROM documents""",

    // the TopK-Aggregator cap is equivalent to the window form for finite
    // scores (score desc, doc_id asc is a total order)
    "corpus_source_cap" ->
      s"""WITH b AS (SELECT doc_id, source,
                ${qualityInputsSql()}
              FROM documents),
           q AS (SELECT doc_id, source,
                ${qualityScoreSql()} AS score
              FROM b),
           r AS (SELECT source, doc_id, score,
                        ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY score DESC, doc_id ASC) AS rk
                 FROM q WHERE score IS NOT NULL)
         SELECT source, doc_id, score, rk FROM r WHERE rk <= 10""",

    "corpus_unigram_vocab" ->
      s"""WITH $unigramPiecesSql
         SELECT sub, cnt FROM pieces""",

    // the oracle enumerates EVERY lattice path per word type (words are
    // bounded-length; pieces are 1..maxLen chars, so the path count per
    // word is small) and picks the same (fewest, max-total, lexicographic)
    // optimum the Spark Viterbi computes — integer scores and ASCII paths
    // make the comparison exact across engines
    "corpus_unigram_encode" -> unigramEncodeOracleSql,

    "corpus_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
              v AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1
                    HAVING COUNT(*) >= 2)
         SELECT term, cnt,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT)
                  AS token_id
         FROM v""",

    // tokenize = vocab-rank join + per-doc ordered id list; OOV -> 0
    "corpus_tokenize" ->
      """WITH tok0 AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
              v AS (SELECT term, COUNT(*) AS cnt FROM tok0 GROUP BY 1
                    HAVING COUNT(*) >= 2),
              vid AS (SELECT term,
                             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT)
                               AS token_id
                      FROM v),
              s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              tok AS (SELECT doc_id,
                             unnest(range(1, len(ws) + 1)) AS pos,
                             unnest(ws) AS w
                      FROM s),
              j AS (SELECT t.doc_id, t.pos, COALESCE(vid.token_id, 0) AS tid
                    FROM tok t LEFT JOIN vid ON t.w = vid.term)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                array_to_string(list(tid ORDER BY pos), ',') AS token_ids
         FROM j GROUP BY doc_id""",

    // double ops mirror the Spark side op-for-op: exact long sums, one
    // cast each, one divide (share), then (1.0/n)/share for the weight
    "corpus_mix_weights" ->
      """WITH b AS (SELECT source, len(string_split(text, ' ')) AS toks FROM documents),
              a AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS toks FROM b GROUP BY source)
         SELECT source, toks,
                CAST(toks AS DOUBLE) / CAST(SUM(toks) OVER () AS DOUBLE) AS share,
                (1.0 / COUNT(*) OVER ()) /
                  (CAST(toks AS DOUBLE) / CAST(SUM(toks) OVER () AS DOUBLE)) AS weight
         FROM a""",

    // same quality formula (bit-equal per text_quality's hash), same
    // per-source ntile(2) cut
    "corpus_quality_filter" ->
      s"""WITH b AS (SELECT doc_id, source,
                ${qualityInputsSql()}
              FROM documents),
            q AS (SELECT doc_id, source,
                ${qualityScoreSql()} AS quality
              FROM b)
         SELECT doc_id, source, quality FROM q
         QUALIFY ntile(2) OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC) = 1""",

    "corpus_sample_hash" ->
      """SELECT doc_id FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10 < 1""",

    // identical md5 pair rank: smallest k hashes per query, same-source
    // candidates excluded, ties by neg_id
    "corpus_negative_sample" ->
      """WITH q AS (SELECT doc_id AS query_id, source AS q_source
                    FROM documents WHERE doc_id < 20),
              cand AS (SELECT q.query_id, d.doc_id AS neg_id,
                              CAST(('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || ':' ||
                                CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) AS pair_hash
                       FROM documents d JOIN q
                         ON d.source <> q.q_source AND d.doc_id <> q.query_id),
              r AS (SELECT query_id, neg_id, pair_hash,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY pair_hash, neg_id) AS rank
                    FROM cand)
         SELECT query_id, neg_id, pair_hash, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 5""",

    // same min-label clusters via recursive CTE flood (the
    // dedup_cluster_cc machinery, natural pairs only), same md5 split CASE
    // near-dup edges via DedupGates' inverted-index form (r15 verdict #1
    // — the brute all-pairs nat here was the last hours-at-sf1 oracle)
    "corpus_split_safe" ->
      s"""WITH RECURSIVE
           ${GateSupport.shingleCte},
           ${GateSupport.natEdgesCtes},
           edges AS (SELECT da AS a, db AS b FROM nat
                     UNION ALL SELECT db, da FROM nat),
           reach AS (SELECT a AS node, a AS lab FROM edges
                     UNION
                     SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.node),
           cc AS (SELECT node, min(lab) AS canon FROM reach GROUP BY node),
           rep AS (SELECT d.doc_id, coalesce(cc.canon, d.doc_id) AS rep
                   FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
           b AS (SELECT doc_id, rep,
                        ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::UBIGINT % 100 AS bk
                 FROM rep)
         SELECT doc_id, rep,
                CASE WHEN bk < 90 THEN 'train'
                     WHEN bk < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM b""",

    // A-ES weighted sample: identical md5 uniform, identical u^(1/w) key
    // rounded to 6 dp before the ORDER BY ... LIMIT selection
    "corpus_weighted_sample" ->
      """SELECT doc_id, n_chars,
                round(pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
                            / 4294967296.0,
                          1.0 / n_chars), 6) AS samp_key
         FROM documents
         ORDER BY samp_key DESC, doc_id ASC
         LIMIT 60""",

    "corpus_pack_budget" -> packBudgetOracleSql,

    // the composed pipe's token counts are the same single-space split
    // lengths, so the pack stage's oracle is the corpus_pack_budget SQL
    "pipe_pretokenize" -> packBudgetOracleSql,

    // identical 64/48 windowing replayed with unnest(range) + 1-based
    // inclusive list slicing (both engines clamp the final window)
    "corpus_chunk" -> chunkOracleSql,

    // the relational form of the SAME definition the codegen expression
    // streams: per-character gear values, a 16-wide window sum, candidate
    // positions where the full window's sum ≡ 0 (mod 32), then a
    // recursive walk clamping boundaries to [24, 96] — validated
    // cut-for-cut against an independent reference implementation
    "corpus_cdc_chunks" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len
                       FROM documents
                       WHERE text IS NOT NULL AND length(text) > 0),
              chars AS (SELECT doc_id, text,
                               unnest(range(1, length(text)+1)) AS i
                        FROM docs),
              gv AS (SELECT doc_id, i,
                            (unicode(substr(text, CAST(i AS INT), 1))
                               * 2654435761 + 104729) % 4294967296 AS g
                     FROM chars),
              h AS (SELECT doc_id, i,
                           SUM(g) OVER w AS hsum,
                           COUNT(*) OVER w AS cnt
                    FROM gv
                    WINDOW w AS (PARTITION BY doc_id ORDER BY i
                                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)),
              cand AS (SELECT doc_id, i FROM h
                       WHERE cnt = 16 AND hsum % 32 = 0),
              b AS (
                WITH RECURSIVE b(doc_id, idx, pos, prev) AS (
                  SELECT doc_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
                  FROM docs
                  UNION ALL
                  SELECT b.doc_id, b.idx + 1,
                         LEAST(COALESCE((SELECT MIN(c.i) FROM cand c
                                         WHERE c.doc_id = b.doc_id
                                           AND c.i >= b.pos + 24),
                                        2147483647),
                               b.pos + 96, d.len),
                         b.pos
                  FROM b JOIN docs d USING (doc_id)
                  WHERE b.pos < d.len)
                SELECT doc_id, idx - 1 AS chunk_idx,
                       prev AS chunk_start, pos AS chunk_end
                FROM b WHERE idx > 0)
         SELECT b.doc_id,
                CAST(b.chunk_idx AS BIGINT) AS chunk_idx,
                CAST(b.chunk_start AS BIGINT) AS chunk_start,
                CAST(b.chunk_end AS BIGINT) AS chunk_end,
                CAST(b.chunk_end - b.chunk_start AS BIGINT) AS chunk_len,
                md5(substr(d.text, CAST(b.chunk_start + 1 AS INT),
                           CAST(b.chunk_end - b.chunk_start AS INT)))
                  AS chunk_hash
         FROM b JOIN docs d USING (doc_id)""",

    // same frequency rule: singles unconditionally, substrings 2..6
    // weighted by word-occurrence counts, (weight DESC, piece ASC) cut
    "corpus_wordpiece_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
              wc AS (SELECT w, COUNT(*) AS cnt FROM tok
                     WHERE length(w) > 0 GROUP BY w),
              p1 AS (SELECT w, cnt, unnest(range(1, length(w)+1)) AS p FROM wc),
              chars AS (SELECT substr(w, CAST(p AS INT), 1) AS piece,
                               CAST(SUM(cnt) AS BIGINT) AS weight
                        FROM p1 GROUP BY 1),
              p2 AS (SELECT w, cnt, p, unnest(range(2, 7)) AS l FROM p1),
              subs AS (SELECT substr(w, CAST(p AS INT), CAST(l AS INT)) AS piece,
                              CAST(SUM(cnt) AS BIGINT) AS weight
                       FROM p2 WHERE p + l - 1 <= length(w) GROUP BY 1),
              top AS (SELECT piece, weight FROM subs
                      ORDER BY weight DESC, piece ASC LIMIT 150)
         SELECT piece, weight, 'char' AS kind FROM chars
         UNION ALL
         SELECT piece, weight, 'sub' AS kind FROM top""",

    // greedy longest-match-first, relationally: the longest matching
    // piece at every (word type, position) is a join + MAX, then a
    // recursive walk consumes the word; [UNK] on a missing step; per-doc
    // reassembly in token order
    "corpus_wordpiece_encode" ->
      """WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              tok AS (SELECT doc_id, unnest(range(1, len(ws)+1)) AS pos,
                             unnest(ws) AS w
                      FROM tok0),
              tokf AS (SELECT doc_id, pos, w FROM tok WHERE length(w) > 0),
              v1 AS (SELECT w, COUNT(*) AS cnt FROM tokf GROUP BY w),
              p1 AS (SELECT w, cnt, unnest(range(1, length(w)+1)) AS p FROM v1),
              chars AS (SELECT DISTINCT substr(w, CAST(p AS INT), 1) AS piece
                        FROM p1),
              p2 AS (SELECT w, cnt, p, unnest(range(2, 7)) AS l FROM p1),
              subs AS (SELECT substr(w, CAST(p AS INT), CAST(l AS INT)) AS piece,
                              SUM(cnt) AS weight
                       FROM p2 WHERE p + l - 1 <= length(w) GROUP BY 1),
              top AS (SELECT piece FROM subs
                      ORDER BY weight DESC, piece ASC LIMIT 150),
              vp AS (SELECT piece FROM chars UNION SELECT piece FROM top),
              wc AS (SELECT DISTINCT w FROM tokf),
              wpos AS (SELECT w, unnest(range(1, length(w)+1)) AS p FROM wc),
              stepc AS (SELECT wp.w, wp.p, length(v.piece) AS l
                        FROM wpos wp JOIN vp v
                          ON substr(wp.w, CAST(wp.p AS INT),
                                    CAST(length(v.piece) AS INT)) = v.piece
                        WHERE wp.p + length(v.piece) - 1 <= length(wp.w)),
              step AS (SELECT w, p, MAX(l) AS l FROM stepc GROUP BY w, p),
              enc AS (
                WITH RECURSIVE e(w, pos, out, n) AS (
                  SELECT w, CAST(1 AS BIGINT), CAST('' AS VARCHAR),
                         CAST(0 AS BIGINT)
                  FROM wc
                  UNION ALL
                  SELECT e.w,
                         CASE WHEN s.l IS NULL THEN length(e.w) + 1
                              ELSE e.pos + s.l END,
                         CASE WHEN s.l IS NULL THEN '[UNK]'
                              WHEN e.pos = 1 THEN substr(e.w, CAST(e.pos AS INT),
                                                         CAST(s.l AS INT))
                              ELSE e.out || ' ##' ||
                                   substr(e.w, CAST(e.pos AS INT),
                                          CAST(s.l AS INT)) END,
                         CASE WHEN s.l IS NULL THEN CAST(1 AS BIGINT)
                              ELSE e.n + 1 END
                  FROM e LEFT JOIN step s ON s.w = e.w AND s.p = e.pos
                  WHERE e.pos <= length(e.w))
                SELECT w, out AS w_pieces, n AS w_n
                FROM e WHERE pos = length(w) + 1)
         SELECT t.doc_id,
                CAST(SUM(en.w_n) AS BIGINT) AS n_pieces,
                string_agg(en.w_pieces, ' ' ORDER BY t.pos) AS piece_text
         FROM tokf t JOIN enc en ON t.w = en.w
         GROUP BY t.doc_id""",

    // same hash-chosen mask set; string_agg skips NULLs so targets is
    // NULL when nothing masked, mirroring the gate's when/otherwise
    "corpus_mlm_mask" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              x AS (SELECT doc_id,
                           unnest(range(1, len(ws)+1)) AS i,
                           unnest(ws) AS w
                    FROM t),
              m AS (SELECT doc_id, i, w,
                           ('0x' || substr(md5('mask#' || CAST(doc_id AS VARCHAR)
                              || '#' || CAST(i AS VARCHAR)), 1, 8))::UBIGINT % 100 < 15 AS masked
                    FROM x WHERE w <> '')
         SELECT doc_id,
                string_agg(CASE WHEN masked THEN '<mask>' ELSE w END, ' ' ORDER BY i) AS input_text,
                string_agg(CASE WHEN masked THEN w END, ' ' ORDER BY i) AS targets,
                CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
                COUNT(*) AS n_tokens
         FROM m GROUP BY doc_id""",

    // exact integer sums, one division for the mean, quantile_cont
    // interpolation parity with q_percentile, md5 parity with dedup_exact
    "pipe_dataset_card" ->
      """WITH base AS (SELECT doc_id, source, lang, n_chars,
                   CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens,
                   md5(text) AS fp
            FROM documents),
           fpc AS (SELECT fp, COUNT(*) AS n_copies FROM base GROUP BY 1),
           j AS (SELECT b.*, f.n_copies FROM base b JOIN fpc f USING (fp))
         SELECT source,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
                CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars,
                COUNT(DISTINCT lang) AS n_langs,
                CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
                quantile_cont(n_tokens, 0.5) AS median_tokens
         FROM j GROUP BY source""",

    // the two ranker CTEs replay text_bm25 and the sim-family cosine
    // (both proven bit-stable by their own gates); RRF then only touches
    // integer ranks inside one fixed float expression
    "pipe_hybrid_retrieval" ->
      s"""WITH qmap AS (SELECT * FROM (VALUES (0::BIGINT,'spark'),(1::BIGINT,'hash'),
                                             (2::BIGINT,'window')) AS v(qid, term)),
              tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term,
                             len(list_filter(string_split(text,' '), w -> w <> '')) AS dl
                      FROM documents),
              f AS (SELECT * FROM tok WHERE term IN ('spark','hash','window')),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl FROM f GROUP BY 1,2),
              dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              st AS (SELECT COUNT(*) AS n_docs,
                            CAST(SUM(len(list_filter(string_split(text,' '), w -> w <> ''))) AS DOUBLE) /
                              CAST(COUNT(*) AS DOUBLE) AS avgdl
                     FROM documents),
              bm AS (SELECT tf.doc_id, tf.term,
                            ln((CAST(n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5) /
                                 (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
                            ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
                             (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                                0.75 * CAST(tf.dl AS DOUBLE) / avgdl))) AS bm25
                     FROM tf JOIN dft USING (term), st),
              sp AS (SELECT q.qid, b.doc_id, b.bm25,
                            ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY b.bm25 DESC, b.doc_id ASC) AS r_sparse
                     FROM bm b JOIN qmap q USING (term)),
              sp50 AS (SELECT qid, doc_id, r_sparse FROM sp WHERE r_sparse <= 50),
              e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
              dn AS (SELECT qv.qid, c.vec_id AS doc_id,
                            ${cosineSql("qv", "c")} AS cos
                     FROM qv JOIN e c ON TRUE),
              dr AS (SELECT qid, doc_id, cos,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos DESC, doc_id ASC) AS r_dense
                     FROM dn WHERE cos IS NOT NULL),
              dr50 AS (SELECT qid, doc_id, r_dense FROM dr WHERE r_dense <= 50),
              fused AS (SELECT COALESCE(s.qid, d.qid) AS qid,
                               COALESCE(s.doc_id, d.doc_id) AS doc_id,
                               s.r_sparse, d.r_dense,
                               COALESCE(1.0 / (60.0 + CAST(s.r_sparse AS DOUBLE)), 0.0) +
                               COALESCE(1.0 / (60.0 + CAST(d.r_dense AS DOUBLE)), 0.0) AS rrf
                        FROM sp50 s FULL OUTER JOIN dr50 d
                          ON s.qid = d.qid AND s.doc_id = d.doc_id),
              ranked AS (SELECT qid, doc_id, r_sparse, r_dense, rrf,
                                ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id ASC) AS rank
                         FROM fused)
         SELECT qid, doc_id, CAST(r_sparse AS BIGINT) AS r_sparse,
                CAST(r_dense AS BIGINT) AS r_dense, rrf, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 10""",

    // chunking + the text_quality scoring (IEEE-identical doubles) +
    // row_number arg-max + embedding payload join
    "pipe_rag_index" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              c AS (SELECT doc_id, toks,
                           CASE WHEN len(toks) <= 64 THEN 1
                                ELSE CAST(ceil((len(toks) - 16) / 48.0) AS INT)
                           END AS nc
                    FROM t),
              x AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_id, toks FROM c),
              ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                            array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text
                     FROM x),
              b AS (SELECT doc_id, chunk_id,
                           ${qualityInputsSql("chunk_text")}
                    FROM ch),
              q AS (SELECT doc_id, chunk_id,
                           ${qualityScoreSql()} AS quality
                    FROM b),
              r AS (SELECT doc_id, chunk_id, quality,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY quality DESC, chunk_id) AS rk
                    FROM q WHERE quality IS NOT NULL)
         SELECT r.doc_id, r.chunk_id AS best_chunk, r.quality, e.label
         FROM r JOIN embeddings e ON e.vec_id = r.doc_id
         WHERE rk = 1""",

    // same islands sessionization, same RANGE running-min qualification
    "pipe_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
            m AS (SELECT user_id, event_type, us,
                         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 7200000000
                              THEN 1 ELSE 0 END AS new_s
                  FROM e),
            s AS (SELECT user_id, event_type, us,
                         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m),
            f AS (SELECT user_id, sid, event_type, us,
                         MIN(CASE WHEN event_type = 'view' THEN us END)
                           OVER (PARTITION BY user_id, sid ORDER BY us
                                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
                  FROM s),
            g AS (SELECT *, CASE WHEN event_type = 'click' AND fv IS NOT NULL
                                 THEN us END AS qc
                  FROM f),
            h AS (SELECT *, MIN(qc) OVER (PARTITION BY user_id, sid ORDER BY us
                                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc
                  FROM g),
            i AS (SELECT *, CASE WHEN event_type = 'purchase' AND fc IS NOT NULL
                                 THEN us END AS qp
                  FROM h),
            p AS (SELECT user_id, sid,
                         MAX(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS s1,
                         MAX(CASE WHEN qc IS NOT NULL THEN 1 ELSE 0 END) AS s2,
                         MAX(CASE WHEN qp IS NOT NULL THEN 1 ELSE 0 END) AS s3
                  FROM i GROUP BY user_id, sid)
         SELECT COUNT(*) AS n_sessions,
                CAST(SUM(s1) AS BIGINT) AS reached_view,
                CAST(SUM(s2) AS BIGINT) AS reached_click,
                CAST(SUM(s3) AS BIGINT) AS reached_purchase
         FROM p""",

    // bit-exact: thresholds are floor(1e6 * sqrt(nmin/cnt)) and IEEE sqrt
    // is correctly rounded in both engines (see Corpus.temperatureSample)
    "corpus_temperature_sample" ->
      """WITH d AS (SELECT doc_id,
                      CASE WHEN CAST(substr(source, 4) AS INT) < 12 THEN 'big'
                           WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'mid'
                           ELSE 'small' END AS tier
                    FROM documents),
              c AS (SELECT tier, COUNT(*) AS cnt FROM d GROUP BY 1),
              m AS (SELECT MIN(cnt) AS nmin FROM c),
              t AS (SELECT tier,
                      CAST(floor(1000000.0 * sqrt(CAST(nmin AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT) AS thr
                    FROM c, m)
         SELECT d.doc_id, d.tier FROM d JOIN t USING (tier)
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000000 < thr""",

    // hashed unigram+bigram buckets, Laplace-smoothed target/raw
    // log-ratio per bucket (integer-exact products, one divide, one ln),
    // per-doc sum — op-for-op the Spark pipeline
    "corpus_dsir_weights" ->
      """WITH t AS (SELECT doc_id, (source = 'src0') AS is_target,
                           string_split(text, ' ') AS toks FROM documents),
              uni AS (SELECT doc_id, is_target, unnest(toks) AS gram FROM t),
              bi AS (SELECT doc_id, is_target,
                       unnest([ toks[i] || ' ' || toks[i+1] for i in range(1, len(toks)) ]) AS gram
                     FROM t WHERE len(toks) >= 2),
              g AS (SELECT doc_id, is_target, gram,
                      CAST(('0x' || substr(md5(gram), 1, 8))::UBIGINT % 1024 AS INT) AS b
                    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
              bc AS (SELECT b, COUNT(*) AS cr,
                       SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
                     FROM g GROUP BY b),
              tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
              lr AS (SELECT b, ln((CAST(ct + 1 AS DOUBLE) * (tr + 1024)) /
                                  (CAST(cr + 1 AS DOUBLE) * (tt + 1024))) AS lw
                     FROM bc, tot)
         SELECT g.doc_id AS doc_id, g.is_target AS is_target,
                CAST(COUNT(*) AS BIGINT) AS n_grams, SUM(lw) AS log_w
         FROM g JOIN lr ON g.b = lr.b
         GROUP BY g.doc_id, g.is_target"""
  )
}
