package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, TextAnalysis}
import graft.operators.Joins

/** Plan-SHAPE regression guards: the 100 TB postures PLANS.md narrates,
  * enforced as plan asserts so a refactor cannot silently reintroduce a
  * cartesian product, a needless exchange, or a global single-reducer
  * sort. These check the INITIAL physical plan (before AQE re-planning),
  * where Exchange nodes are stable strings. */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession.{spark, table}

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOf(df: DataFrame, needle: String): Int =
    needle.r.findAllIn(plan(df)).length

  lazy val docs = table("documents")

  test("map-only operators plan with ZERO exchanges") {
    val merges = Corpus.bpeTrain(docs.limit(50), "text", numMerges = 5)
    val mapOnly = Seq(
      "bpeEncode" -> Corpus.bpeEncode(docs, "doc_id", "text", merges),
      "chunkTokens" -> Corpus.chunkTokens(docs, "doc_id", "text", 64, 16),
      "sampleHashMod" -> Corpus.sampleHashMod(docs, "doc_id", 3, 10),
      "signals" -> docs.select(TextAnalysis.signals(col("text")).as("sig")))
    mapOnly.foreach { case (name, df) =>
      assert(!plan(df).contains("Exchange"),
        s"$name must be map-only (no exchange):\n${plan(df).take(800)}")
    }
  }

  test("range/interval/as-of joins never plan a nested-loop or cartesian") {
    import SparkTestSession.spark.implicits._
    val points = (0L until 100L).map(i => i * 10L).toDF("pt")
    val ivs = (0L until 20L).map(i => (i * 50L, i * 50L + 30L)).toDF("s", "e")
    val rj = Joins.rangeJoin(points, ivs, "pt", "s", "e", binWidth = 50L)
    val l = (0L until 20L).map(i => (i * 50L, i * 50L + 40L)).toDF("ls", "le")
    val r = (0L until 20L).map(i => (i * 45L, i * 45L + 25L)).toDF("rs", "re")
    val ij = Joins.intervalJoin(l, r, "ls", "le", "rs", "re", binWidth = 50L)
    val ev = table("events").select(col("event_id"), col("user_id"),
      graft.sources.Tables.tsFromNanos(col("ts")).as("ts2"))
    val ao = Joins.asOf(
      ev.where(col("event_type").isNull || lit(true)).select(col("event_id"), col("user_id"), col("ts2")),
      col("user_id"), col("ts2"),
      ev.select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts2").as("r_ts")),
      col("r_user"), col("r_ts"), Seq(col("r_id")))
    Seq("rangeJoin" -> rj, "intervalJoin" -> ij, "asOf" -> ao).foreach {
      case (name, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$name must never plan a nested loop:\n${p.take(800)}")
    }
  }

  test("as-of join pays exactly one hash exchange (the key shuffle)") {
    val ev = table("events").select(col("event_id"), col("user_id"),
      graft.sources.Tables.tsFromNanos(col("ts")).as("ts2"))
    val ao = Joins.asOf(
      ev.select(col("event_id"), col("user_id"), col("ts2")),
      col("user_id"), col("ts2"),
      ev.select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts2").as("r_ts")),
      col("r_user"), col("r_ts"), Seq(col("r_id")))
    val n = countOf(ao, "Exchange hashpartitioning")
    assert(n == 1, s"asOf should shuffle ONCE on the key, saw $n:\n${plan(ao).take(1200)}")
  }

  test("tokenizeToIds broadcasts the vocab and shuffles the corpus once") {
    val vocab = Corpus.buildVocab(docs, "text", minCount = 2L)
    // pre-materialize the vocab so the budget below measures tokenize, not
    // the vocab build (callers hold a built vocab in real pipelines)
    val vSmall = vocab.limit(1000).cache(); vSmall.count()
    val tok = Corpus.tokenizeToIds(docs, "doc_id", "text", vSmall)
    val p = plan(tok)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"vocab side must broadcast:\n${p.take(1000)}")
    val n = countOf(tok, "Exchange hashpartitioning")
    assert(n <= 1, s"tokenize should shuffle the corpus once (doc_id agg), saw $n")
    vSmall.unpersist()
  }

  test("unigramEncode is map-only; unigramPieces ranks via TakeOrdered, no window") {
    val pieces = Corpus.unigramPieceTable(docs, "text", maxLen = 4, topK = 60)
    val enc = Corpus.unigramEncode(docs, "doc_id", "text", pieces, maxLen = 4)
    assert(!plan(enc).contains("Exchange"),
      s"unigramEncode must be map-only:\n${plan(enc).take(800)}")
    val pv = plan(Corpus.unigramPieces(docs, "text", maxLen = 4, topK = 60))
    assert(pv.contains("TakeOrderedAndProject"),
      s"piece ranking must use per-partition heaps:\n${pv.take(800)}")
    assert(!pv.contains("Exchange rangepartitioning") && !pv.contains("Window"),
      s"no global sort / window in the piece table:\n${pv.take(800)}")
  }

  test("lambda-let bindings survive optimization (interpreted-HOF hoist guard)") {
    // ADVICE r19 #1: Dedup.simhash and TextAnalysis.fingerprints bind an
    // expensive token/shingle-hash array as the single element of a
    // 1-element array — `element_at(transform(array(x), xs => body), 1)`
    // — so references inside the interpreted HOF lambda are cheap
    // variable reads instead of O(len) re-tokenizations per element.
    // That relies on the optimizer NEVER inlining the binding (HOF
    // lambdas get no CSE). If a Spark upgrade adds lambda inlining, the
    // O(bits·tokens) / O(len²) recomputation comes back with no
    // correctness signal — this guard makes the plan shape loud instead.
    val sim = docs.select(graft.functions.Dedup.simhash(col("text")).as("fp"))
    val fpr = docs.select(
      TextAnalysis.fingerprints(col("text")).as("fps"))
    Seq("simhash" -> sim, "fingerprints" -> fpr).foreach { case (name, df) =>
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("transform(array("),
        s"$name lost its lambda-let binding (transform(array(...)) " +
          s"inlined by the optimizer) — re-measure the HOF hot path:\n" +
          opt.take(1200))
    }
  }

  test("mlmMask hashes each token once (stacked-projection hoist guard)") {
    // ADVICE r20 #3: Corpus.mlmMask binds `__z` — one md5 bucket PER
    // TOKEN — in its own projection, and its four consumers read the
    // column. That relies on CollapseProject never merging the stacked
    // projections (it keeps a multi-consumer non-cheap expression apart).
    // If an optimizer change inlines `__z`, every consumer re-hashes every
    // token: identical output, ~4x the md5 work, no correctness signal —
    // this guard makes the plan shape loud instead.
    val opt = Corpus.mlmMask(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    val n = "md5\\(".r.findAllIn(opt).length
    assert(n == 1, s"mlmMask evaluates the per-token md5 array $n times, " +
      s"not once (the __z projection was collapsed) — re-measure:\n" +
      opt.take(1600))
  }

  /** `split(` calls in the optimized plan: how often each document is
    * tokenized. */
  private def splits(df: DataFrame): Int =
    "split\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).length

  test("bigramStream tokenizes each document once per read (hoist guard)") {
    // ADVICE r20 #3: bigramStream binds `split(text)` as `__toks` in its
    // own projection so the per-position lambda reads an attribute; the
    // same CollapseProject precondition as mlmMask. kneserNeyCrossEntropy
    // reads the stream five times (the type table c2 feeds itself, c1, np
    // and nt; the scored join reads the stream again), one split each.
    // Inlined, every read splits four times (two size() calls and two
    // element_at() calls in the lambda).
    val kn = TextAnalysis.kneserNeyCrossEntropy(docs, "doc_id", "text")
    val n = splits(kn)
    assert(n == 5, s"kneserNeyCrossEntropy tokenizes $n times, not once per " +
      "bigram-stream read (the __toks projection was collapsed) — re-measure:\n" +
      kn.queryExecution.optimizedPlan.toString.take(1600))
  }

  test("topNgramCoverage tokenizes each document once (hoist guard)") {
    // same hoist as bigramStream: inlined, the gram lambda would split
    // three times (two size() calls and slice())
    val cov = TextAnalysis.topNgramCoverage(docs, "doc_id", "text", 3)
    val n = splits(cov)
    assert(n == 1, s"topNgramCoverage tokenizes $n times, not once " +
      "(the __toks projection was collapsed) — re-measure:\n" +
      cov.queryExecution.optimizedPlan.toString.take(1600))
  }

  test("dsirLogWeights tokenizes each document once per gram-table read (hoist guard)") {
    // same hoist as bigramStream: dsirLogWeights binds `split(text)` as
    // `__toks` before the per-position bigram lambda. The persisted gram
    // table's plan prints three times in the optimized plan (the scored
    // join reads it, and the bucket-count cache read on each side of the
    // totals cross join shows its gram scan), one split each. Inlined,
    // every read would split five times (concat, two size() calls and
    // two element_at() calls in the lambda).
    val w = Corpus.dsirLogWeights(docs, "doc_id", "text", col("source") === "src0")
    val n = splits(w)
    val opt = w.queryExecution.optimizedPlan.toString
    spark.catalog.clearCache()
    assert(n == 3, s"dsirLogWeights tokenizes $n times, not once per " +
      "gram-table read (the __toks projection was collapsed) — re-measure:\n" +
      opt.take(1600))
  }

  /** `split(` calls over `docs`' own text column in the optimized plan:
    * how often a staging pass tokenizes each raw document. */
  private def textSplits(df: DataFrame): Int = {
    val text = docs.queryExecution.analyzed.output.find(_.name == "text").get
    s"split\\(text#${text.exprId.id},".r
      .findAllIn(df.queryExecution.optimizedPlan.toString).length
  }

  /** A staging's hoisted `split(text)` must appear `expected` times:
    * inlined into the per-line (per-paragraph) lambda, it re-tokenizes the
    * document per element, interpreted and without subexpression
    * elimination, and every inlined copy adds to the count. */
  private def assertTokenizations(name: String, df: DataFrame, expected: Int): Unit = {
    val n = textSplits(df)
    assert(n == expected, s"$name tokenizes each document $n times, not " +
      s"$expected (the __toks projection was collapsed, or the plan changed) — " +
      "re-measure:\n" + df.queryExecution.optimizedPlan.toString.take(1600))
  }

  test("c4Clean's line staging keeps its hoisted token array (hoist guard)") {
    // The one split is the staging's own `__toks` projection. c4Clean's
    // document filter must stay above the staging: pushed beneath it, the
    // filter inlines the staged text once per reference (twice in the
    // lorem/brace test, once in the kept-lines count), each copy with a
    // split in its line count and one in the per-line lambda — 7 splits.
    // Inlining the hoist adds a split per reference as well.
    assertTokenizations("c4Clean over c4StagedDocs", TextAnalysis.c4Clean(
      graft.gates.GateSupport.c4StagedDocs(docs), "doc_id", "text"), 1)
  }

  test("the repetition staging tokenizes each document once (hoist guard)") {
    val staged = graft.gates.GateSupport.repStagedDocs(docs)
    assertTokenizations("duplicateLineSignals over repStagedDocs",
      TextAnalysis.duplicateLineSignals(staged, "doc_id", "text"), 1)
    assertTokenizations("repetitionSignals over repStagedDocs",
      TextAnalysis.repetitionSignals(staged, "doc_id", "text"), 1)
  }

  test("the paragraph staging tokenizes each document once (hoist guard)") {
    assertTokenizations("dedupParagraphs over paraStagedDocs", graft.functions.Dedup
      .dedupParagraphs(graft.gates.GateSupport.paraStagedDocs(docs), "doc_id", "text", "\n"), 1)
  }

  test("weightedSample plans as TakeOrderedAndProject, never a global sort") {
    val ws = Corpus.weightedSample(
      docs.select(col("doc_id"), col("n_chars")), "doc_id", col("n_chars"), k = 10)
    val p = plan(ws)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k sample must use per-partition heaps:\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort exchange allowed:\n${p.take(800)}")
  }
}
