package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, TextAnalysis}

class CorpusSpec extends AnyFunSuite {
  import SparkTestSession.{spark, table}

  lazy val docs = table("documents")

  test("hash-mod sampling is deterministic, content-keyed, and ~k/n sized") {
    val a = Corpus.sampleHashMod(docs, "doc_id", 3, 10).select("doc_id")
    val b = Corpus.sampleHashMod(docs, "doc_id", 3, 10).select("doc_id")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    val total = docs.count().toDouble
    val frac = a.count() / total
    assert(frac > 0.15 && frac < 0.45, s"expected ~0.3, got $frac")
    // buckets partition the corpus: k=n keeps everything
    assert(Corpus.sampleHashMod(docs, "doc_id", 10, 10).count() === total.toLong)
    assert(Corpus.sampleHashMod(docs, "doc_id", 0, 10).count() === 0)
  }

  test("token packing: greedy floor-assignment invariants hold per shard") {
    val withToks = docs.select(col("doc_id"),
      TextAnalysis.signals(col("text")).getField("n_words").as("toks"))
    val packed = Corpus.packTokenBudget(withToks, "doc_id", "toks",
      budget = 256L, nShards = 4).cache()
    // every document placed exactly once
    assert(packed.count() === docs.count())
    // mini-oracle: recompute the greedy assignment per shard in plain Scala
    val rows = packed.select("doc_id", "shard", "n_tokens", "bin", "bin_offset")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._2).foreach { case (_, shardRows) =>
      var before = 0L
      shardRows.sortBy(_._1).foreach { case (id, _, toks, bin, off) =>
        assert(bin === before / 256L, s"doc $id bin")
        assert(off === before % 256L, s"doc $id offset")
        before += toks
      }
    }
    // shards are balanced enough to parallelize (no empty shard on 500 docs)
    assert(packed.select("shard").distinct().count() === 4)
  }

  test("sourceCap == row_number window form; caps bind; null scores drop") {
    import org.apache.spark.sql.expressions.Window
    val score = TextAnalysis.qualityScoreFromSignals(
      TextAnalysis.signals(col("text")))
    val capped = Corpus.sourceCap(docs, "source", "doc_id", score, n = 10)
      .cache()
    // window oracle: identical kept set AND ranks for finite scores
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val oracle = docs.select(col("source"), score.as("score"), col("doc_id"))
      .where(!isnan(col("score")) && !col("score").isNull)
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
    assert(capped.count() === oracle.count())
    assert(capped.join(oracle, Seq("source", "doc_id", "rk")).count()
      === oracle.count())
    // the cap binds: every source has exactly 10 (25 docs/source upstream)
    val sizes = capped.groupBy("source").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(sizes === Seq(10L))
    // a null-scoring doc (empty text -> try_divide null) never ranks
    import spark.implicits._
    val withEmpty = docs.select(col("doc_id"), col("source"), col("text"))
      .unionByName(Seq((999999L, "src0", "")).toDF("doc_id", "source", "text"))
    assert(Corpus.sourceCap(withEmpty, "source", "doc_id",
      TextAnalysis.qualityScoreFromSignals(TextAnalysis.signals(col("text"))),
      n = 10).where(col("doc_id") === 999999L).count() === 0)
  }

  test("epoch shuffle: dense ordinal, seed-reproducible, seed-sensitive") {
    val e7a = Corpus.epochShuffle(docs, "doc_id", 7L).cache()
    val n = docs.count()
    assert(e7a.count() === n)
    // dense 0..n-1 ordinal
    assert(e7a.agg(min(col("epoch_ord")), max(col("epoch_ord"))).head()
      === org.apache.spark.sql.Row(0L, n - 1))
    // pure function of (seed, key): identical permutation on re-run
    val e7b = Corpus.epochShuffle(docs, "doc_id", 7L)
    assert(e7a.join(e7b, Seq("doc_id", "epoch_ord")).count() === n)
    // a different seed is a different permutation
    val e8 = Corpus.epochShuffle(docs, "doc_id", 8L)
    assert(e7a.join(e8, Seq("doc_id", "epoch_ord")).count() < n / 2)
  }

  test("unigram cross-entropy: hand-computed tiny corpus (both forms)") {
    import spark.implicits._
    // corpus: "a a b" and "b c" -> total 5 tokens, counts a=2 b=2 c=1
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    def lp(c: Double) = -math.log(c / 5.0)
    val x1 = (lp(2) + lp(2) + lp(2)) / 3.0 // a a b
    val x2 = (lp(2) + lp(1)) / 2.0         // b c
    for (form <- Seq(
        TextAnalysis.unigramCrossEntropy(tiny, "doc_id", "text"),
        TextAnalysis.unigramCrossEntropyAudit(tiny, "doc_id", "text"))) {
      val got = form
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got(1L)._1 === 3L && got(2L)._1 === 2L)
      assert(math.abs(got(1L)._2 - x1) < 1e-12, s"${got(1L)._2} vs $x1")
      assert(math.abs(got(2L)._2 - x2) < 1e-12, s"${got(2L)._2} vs $x2")
    }
  }

  test("unigram cross-entropy scale form agrees with audit fold within 1e-9 rel") {
    val scale = TextAnalysis.unigramCrossEntropy(docs.repartition(7), "doc_id", "text")
      .withColumnRenamed("xent", "x_scale").withColumnRenamed("n_tokens", "n_scale")
    val audit = TextAnalysis.unigramCrossEntropyAudit(docs, "doc_id", "text")
      .withColumnRenamed("xent", "x_audit").withColumnRenamed("n_tokens", "n_audit")
    val joined = scale.join(audit, Seq("doc_id"))
    assert(joined.count() === audit.count(), "scale form lost documents")
    assert(joined.where(col("n_scale") =!= col("n_audit")).count() === 0)
    val worst = joined.select(
        (abs(col("x_scale") - col("x_audit")) /
          greatest(abs(col("x_audit")), lit(1e-300))).as("rel"))
      .agg(max(col("rel"))).head().getDouble(0)
    assert(worst < 1e-9, s"scale vs audit relative error $worst")
  }

  test("bigram cross-entropy: hand-computed tiny corpus; scale == audit to 1e-9") {
    import SparkTestSession.spark
    import spark.implicits._
    // corpus bigrams: (a,b)x1 [doc1], (b,a)x2 [doc1, doc2], (a,a)x1
    // [doc1], (b,b)x1 [doc2]; prefix marginals: a· = 2, b· = 3
    val mini = Seq(1L -> "a b a a", 2L -> "b b a", 3L -> "x").toDF("doc_id", "text")
    val got = TextAnalysis.bigramCrossEntropyAudit(mini, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 3 has 1 token -> no bigrams -> absent
    assert(got.keySet === Set(1L, 2L))
    val pBgivenA = 1.0 / 2; val pAgivenB = 2.0 / 3
    val pAgivenA = 1.0 / 2; val pBgivenB = 1.0 / 3
    val x1 = (-math.log(pBgivenA) + -math.log(pAgivenB) + -math.log(pAgivenA)) / 3
    val x2 = (-math.log(pBgivenB) + -math.log(pAgivenB)) / 2
    assert(got(1L)._1 === 3L && math.abs(got(1L)._2 - x1) < 1e-12)
    assert(got(2L)._1 === 2L && math.abs(got(2L)._2 - x2) < 1e-12)
    // scale (sum/count) form agrees with the audit fold
    val docs2 = docs
    val scale = TextAnalysis.bigramCrossEntropy(docs2.repartition(7), "doc_id", "text")
      .withColumnRenamed("xent", "x_scale").withColumnRenamed("n_bigrams", "n_scale")
    val audit = TextAnalysis.bigramCrossEntropyAudit(docs2, "doc_id", "text")
      .withColumnRenamed("xent", "x_audit").withColumnRenamed("n_bigrams", "n_audit")
    val joined = scale.join(audit, Seq("doc_id"))
    assert(joined.count() === audit.count())
    assert(joined.where(col("n_scale") =!= col("n_audit")).count() === 0)
    val worst = joined.select(
        (abs(col("x_scale") - col("x_audit")) /
          greatest(abs(col("x_audit")), lit(1e-300))).as("rel"))
      .agg(max(col("rel"))).head().getDouble(0)
    assert(worst < 1e-9, s"bigram scale vs audit relative error $worst")
  }

  test("chunkTokens: window geometry, overlap stitching, short docs, rebuild") {
    import SparkTestSession.spark
    import spark.implicits._
    val mini = Seq(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "), // 10 toks: 2 chunks
      2L -> (1 to 4).map(i => s"t$i").mkString(" "),  // 4 toks:  1 chunk
      3L -> (1 to 13).map(i => s"t$i").mkString(" "), // 13 toks: 3 chunks
      4L -> (1 to 8).map(i => s"t$i").mkString(" "),  // 8 toks: 2 chunks, short tail
      5L -> ""                                        // empty: 1 chunk [""]
    ).toDF("doc_id", "text")
    // chunkSize=6, overlap=2, stride=4
    val got = Corpus.chunkTokens(mini, "doc_id", "text", 6, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    val byDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byDoc === Map(1L -> 2, 2L -> 1, 3L -> 3, 4L -> 2, 5L -> 1))
    // doc 1: [t1..t6], [t5..t10] — consecutive chunks share overlap=2
    assert(got.filter(_._1 == 1L).map(_._5).toSeq ===
      Seq("t1 t2 t3 t4 t5 t6", "t5 t6 t7 t8 t9 t10"))
    // doc 3 final chunk is the clamped remainder
    assert(got.filter(_._1 == 3L).map(_._5).last === "t9 t10 t11 t12 t13")
    assert(got.filter(_._1 == 3L).map(t => (t._3, t._4)).toSeq ===
      Seq((0L, 6L), (4L, 6L), (8L, 5L)))
    // dropping each chunk's trailing overlap and concatenating rebuilds
    // every document exactly (the property RAG chunking exists to keep)
    val docsBack = got.groupBy(_._1).view.mapValues { rows =>
      val toks = rows.sortBy(_._2).flatMap { case (_, cid, _, _, txt) =>
        val ts = txt.split(" ", -1).toSeq
        if (cid == 0) ts else ts.drop(2)
      }
      toks.mkString(" ")
    }.toMap
    val orig = mini.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docsBack === orig)
    // guard rails
    assertThrows[IllegalArgumentException](
      Corpus.chunkTokens(mini, "doc_id", "text", 6, 6))
    // the scale claim: chunking is map-only — no exchange anywhere
    val plan = Corpus.chunkTokens(docs, "doc_id", "text", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkTokens plan shuffles:\n$plan")
  }

  test("buildVocab == global-window ranking, dense 1-based ids, no window/single-partition plan") {
    import org.apache.spark.sql.expressions.Window
    val vocab = Corpus.buildVocab(docs, "text", minCount = 2L).cache()
    // equivalence with the (non-scalable) global-window formulation the
    // operator replaced (round-8 verdict #1)
    val terms = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
    val oracle = terms.withColumn("token_id", row_number().over(w).cast("long"))
    val n = oracle.count()
    assert(vocab.count() === n)
    assert(vocab.join(oracle, Seq("term", "cnt", "token_id")).count() === n)
    // ids are dense 1..V (0 reserved for OOV)
    assert(vocab.agg(min(col("token_id")), max(col("token_id"))).head()
      === org.apache.spark.sql.Row(1L, n))
    // the scale claim (the J2 template, Joins.scala:55-60): ranking is a
    // range-partitioned sort + per-partition ordinal offsets — the plan
    // must contain neither a Window nor an Exchange SinglePartition
    val plan = Corpus.buildVocab(docs, "text", minCount = 2L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SinglePartition"),
      s"buildVocab fell back to a single-reducer ranking:\n$plan")
  }

  test("tokenizeToIds: hand-checked ids, OOV->0, order preserved under repartition") {
    import SparkTestSession.spark
    import spark.implicits._
    // counts: a=3 b=2 q=2 c=1 -> vocab (cnt desc, term asc): a=1 b=2 q=3;
    // c is OOV
    val mini = Seq(1L -> "a a b q", 2L -> "b c a", 3L -> "q")
      .toDF("doc_id", "text")
    val vocab = Corpus.buildVocab(mini, "text", minCount = 2L)
    val got = Corpus.tokenizeToIds(mini.repartition(5), "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toSeq))
      .toMap
    assert(got(1L) === ((4L, Seq(1L, 1L, 2L, 3L))))
    assert(got(2L) === ((3L, Seq(2L, 0L, 1L))))
    assert(got(3L) === ((1L, Seq(3L))))
    // corpus-level invariants: every document emitted once; id sequence
    // length == n_tokens == the document's split length
    val full = Corpus.tokenizeToIds(docs, "doc_id", "text",
      Corpus.buildVocab(docs, "text", minCount = 2L)).cache()
    assert(full.count() === docs.count())
    assert(full.where(size(col("token_ids")) =!= col("n_tokens")).count() === 0)
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("expect_n"))
    assert(full.join(lens, Seq("doc_id"))
      .where(col("n_tokens") =!= col("expect_n")).count() === 0)
  }

  test("tokenizeToIds decode round-trip: ids map back to the exact original tokens") {
    val vocab = Corpus.buildVocab(docs, "text", minCount = 2L).cache()
    val ids = Corpus.tokenizeToIds(docs, "doc_id", "text", vocab)
    val decoded = ids.select(col("doc_id"),
        posexplode(col("token_ids")).as(Seq("pos", "tid")))
      .join(broadcast(vocab.select(col("token_id").as("tid"), col("term"))),
        Seq("tid"), "left")
    val orig = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "otok")))
    val joined = decoded.join(orig, Seq("doc_id", "pos")).cache()
    // every position of every document is covered exactly once
    assert(joined.count() === orig.count())
    // an in-vocab id decodes to the exact original token at its position
    assert(joined.where(col("tid") =!= 0 && col("term") =!= col("otok"))
      .count() === 0)
    // OOV id 0 appears ONLY where the original token is out-of-vocab
    assert(joined.where(col("tid") === 0)
      .join(vocab.select(col("term").as("otok")), Seq("otok"), "left_semi")
      .count() === 0)
  }

  test("tfIdf: hand-computed tiny corpus; minTf gates df like the oracle") {
    import SparkTestSession.spark
    import spark.implicits._
    val mini = Seq(
      1L -> "a a b c",
      2L -> "a b b b",
      3L -> "c c c c").toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(mini, "doc_id", "text", minTf = 2L)
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // tf>=2 pairs: (1,a)=2, (2,b)=3, (3,c)=4; df AFTER the gate: each 1
    val n = 3.0
    assert(got.keySet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(math.abs(got((1L, "a"))._3 - 2 * math.log(n / 1)) < 1e-12)
    assert(math.abs(got((2L, "b"))._3 - 3 * math.log(n / 1)) < 1e-12)
    assert(math.abs(got((3L, "c"))._3 - 4 * math.log(n / 1)) < 1e-12)
    assert(got((1L, "a"))._1 === 2L && got((1L, "a"))._2 === 1L)
    // minTf=1: "a" now appears in docs 1,2 -> df=2, idf=ln(3/2); and b/c
    // hapax rows surface
    val loose = TextAnalysis.tfIdf(mini, "doc_id", "text", minTf = 1L)
      .where(col("term") === "a").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(loose.map(_._2).toSeq === Seq(2L, 2L))
    assert(math.abs(loose.head._3 - 2 * math.log(n / 2)) < 1e-12)
  }

  test("temperatureSample: smallest source kept whole at alpha->rates; alpha=1 keeps all") {
    import SparkTestSession.spark
    import spark.implicits._
    // skewed sources: a=1000 docs, b=250, c=40 (smallest)
    val skewed = ((0 until 1000).map(i => (i.toLong, "a")) ++
      (1000 until 1250).map(i => (i.toLong, "b")) ++
      (1250 until 1290).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    val kept = Corpus.temperatureSample(skewed, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // smallest source: rate (40/40)^0.5 = 1 -> kept whole
    assert(kept("c") === 40L)
    // expected rates: b -> sqrt(40/250)=0.4, a -> sqrt(40/1000)=0.2;
    // hash-mod holds the rate to a few percent at these sizes
    assert(kept("b") > 250 * 0.25 && kept("b") < 250 * 0.55, s"b=${kept("b")}")
    assert(kept("a") > 1000 * 0.12 && kept("a") < 1000 * 0.28, s"a=${kept("a")}")
    // alpha=1 is the natural distribution: everything kept
    assert(Corpus.temperatureSample(skewed, "doc_id", "source", alpha = 1.0)
      .count() === 1290L)
    // deterministic: same kept set on re-run
    val a1 = Corpus.temperatureSample(skewed, "doc_id", "source", 0.5).select("doc_id")
    val a2 = Corpus.temperatureSample(skewed, "doc_id", "source", 0.5).select("doc_id")
    assert(a1.exceptAll(a2).count() === 0 && a2.exceptAll(a1).count() === 0)
    intercept[IllegalArgumentException](
      Corpus.temperatureSample(skewed, "doc_id", "source", 0.0))
  }

  test("c4Clean: line rules, doc drops, and counts on hand-built pages") {
    import SparkTestSession.spark
    import spark.implicits._
    val pages = Seq(
      // survives: 3 qualifying lines, one dropped (no terminal punct),
      // one dropped (too short)
      1L -> "one two three four five.\nsix seven eight nine ten!\nno punct line here at all\nshort one.\nfinal line with plenty words?",
      // dropped: lorem ipsum mention
      2L -> "one two three four five.\nsix seven eight nine ten.\nlorem ipsum dolor sit amet.",
      // dropped: curly brace (code/templating)
      3L -> "one two three four five.\nsix seven eight nine ten.\nvar x = { a: 1 };",
      // dropped: only 2 surviving lines (< minLines)
      4L -> "one two three four five.\nsix seven eight nine ten.\ntiny.").toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(pages, "doc_id", "text",
      minWordsPerLine = 5, minLines = 3).as[(Long, String, Long, Long)].collect()
    assert(out.map(_._1).toSeq === Seq(1L))
    val (_, clean, keptN, dropN) = out.head
    assert(clean === "one two three four five.\nsix seven eight nine ten!\nfinal line with plenty words?")
    assert(keptN === 3L && dropN === 2L)
    // a quote is a valid terminator (C4 keeps quoted dialogue lines)
    val q = Seq(5L -> "\"he said five words here.\"\nanother good line right here.\nthird solid line lands here.").toDF("doc_id", "text")
    assert(TextAnalysis.c4Clean(q, "doc_id", "text").count() === 1)
  }

  test("gopherRules: each rule flips independently on crafted docs") {
    import SparkTestSession.spark
    import spark.implicits._
    val tenWords = (1 to 10).map(i => s"word$i").mkString(" ")
    val mini = Seq(
      // passes every rule: 50 words, normal lengths, all alphabetic,
      // stopwords present
      1L -> (Seq.fill(4)(tenWords).mkString(" ") + " the cat is on a mat over the big rug"),
      // too few words
      2L -> ("the cat is on a " + tenWords),
      // mean word length < 3 (single letters), enough words
      3L -> (Seq.fill(25)("a b").mkString(" ") + " " + "a b c d e f g h the is"),
      // alphabetic fraction below 80%: half the words are numbers
      4L -> (Seq.fill(15)("12345 w").mkString(" ") + " the cat is on a mat w w w w w w w w w w w w w w w w w w w w"),
      // no stopwords at all
      5L -> (1 to 60).map(i => s"zzz$i").mkString(" ")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(mini, "doc_id", "text")
      .select("doc_id", "wc_ok", "mwl_ok", "alpha_ok", "stop_ok", "pass")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5))).toMap
    assert(got(1L) === ((true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._5)         // word count fails
    assert(got(3L)._1 && !got(3L)._2)          // mean word length fails
    assert(!got(4L)._3 && got(4L)._1)          // alpha fraction fails
    assert(got(5L)._1 && !got(5L)._4)          // stopword rule fails
    // mean word length is the exact single-division form
    val one = TextAnalysis.gopherRules(
      Seq(9L -> "abcd ef ghij").toDF("doc_id", "text"), "doc_id", "text")
      .select("mean_word_len").head().getDouble(0)
    assert(one === 10.0 / 3.0)
  }

  test("duplicateLineSignals: repeat counts and char-weighted fraction exact") {
    import SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      // 'aaaa' appears twice: 1 dup line of 4 chars; totals 4 lines, 12 chars
      1L -> "aaaa\nbb\naaaa\ncc",
      // no repeats
      2L -> "x\ny\nz",
      // one line three times: 2 dups, all chars in the dup group
      3L -> "mm\nmm\nmm"
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicateLineSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) === ((4L, 1L, 0.25, 4.0 / 12.0)))
    assert(got(2L) === ((3L, 0L, 0.0, 0.0)))
    assert(got(3L) === ((3L, 2L, 2.0 / 3.0, 4.0 / 6.0)))
  }

  test("duplicateLineSignals == brute-force on randomized line docs") {
    import SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocabLines = Vector("aa", "bbb", "c", "dddd", "ee")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(8))(
        vocabLines(rnd.nextInt(vocabLines.size))).mkString("\n"))
    }.toDF("doc_id", "text")
    val got = TextAnalysis.duplicateLineSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val lines = r.getString(1).split("\n", -1).toSeq
      val groups = lines.groupBy(identity).view.mapValues(_.size).toMap
      val nl = lines.size
      val nd = nl - groups.size
      val dupChars = groups.map { case (l, c) => (c - 1) * l.length }.sum
      val totChars = lines.map(_.length).sum
      val (gn, gd, gf, gc) = got(id)
      assert(gn === nl.toLong && gd === nd.toLong)
      assert(gf === nd.toDouble / nl)
      assert(gc === dupChars.toDouble / totChars)
    }
  }

  test("topNgramCoverage: deterministic tie-break and exact coverage fraction") {
    import SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      1L -> "a b a b c", // "a b" occurs twice → coverage 2·3/9
      2L -> "x y z"      // "x y" / "y z" tie → lexicographically smallest wins
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgramCoverage(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) === (("a b", 2L, 6.0 / 9.0)))
    assert(got(2L) === (("x y", 1L, 3.0 / 5.0)))
    // shorter than n words ⇒ no grams ⇒ no row
    assert(TextAnalysis.topNgramCoverage(
      Seq(3L -> "solo").toDF("doc_id", "text"), "doc_id", "text", 2)
      .count() === 0)
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons hash like docs") {
    import SparkTestSession.{spark, table}
    import spark.implicits._
    val docs = table("documents").select(col("doc_id"), col("text"))
    // engineered cross-split pressure: clone doc 0 at an id whose OWN md5
    // bucket differs from doc 0's — per-doc hashing would separate them
    val clone = docs.where(col("doc_id") === 0L)
      .select((col("doc_id") + 987654L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(clone)
    val pairs = graft.functions.Dedup.ngramJaccardPairs(
      corpus, "doc_id", "text", shingleLen = 3, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
    val got = graft.functions.Corpus.leakageSafeSplit(corpus, "doc_id",
      pairs, "doc_a", "doc_b", Seq("train" -> 90, "val" -> 5, "test" -> 5))
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every row assigned; total preserved
    assert(rows.length === corpus.count())
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // THE invariant: one split per representative
    val perRep = rows.groupBy(_._2).values
    assert(perRep.forall(_.map(_._3).toSet.size === 1))
    // the engineered clone pair shares rep 0 and therefore a split
    val cloneRows = rows.filter(r => r._1 == 0L || r._1 == 987654L)
    assert(cloneRows.length === 2 && cloneRows.map(_._2).toSet === Set(0L)
      && cloneRows.map(_._3).toSet.size === 1)
    // singleton docs: split == per-doc hash split (rep == doc)
    val singles = rows.filter(r => r._1 == r._2)
    assert(singles.nonEmpty)
    // ~90/5/5 at 500 docs: train dominates
    val frac = rows.count(_._3 == "train").toDouble / rows.length
    assert(frac > 0.8 && frac < 0.97, s"train fraction $frac")
  }

  test("interleaveByWeight: stride schedule is proportional and evenly spread") {
    import SparkTestSession.table
    val docs = table("documents").select(col("doc_id"), col("source"))
    val wt = lit(1.0) + (substring(col("source"), 4, 8).cast("int") % 3).cast("double")
    val got = graft.functions.Corpus.interleaveByWeight(docs, "doc_id", "source", wt)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = got.length
    assert(n === docs.count())
    // ordinals are a dense permutation
    assert(got.map(_._3).sorted.toSeq === (0L until n).toSeq)
    // brute-force replay: per-source rank by doc_id, (rank+0.5)/w merge
    val bySrc = got.map(t => (t._1, t._2)).groupBy(_._2)
    val keys = bySrc.toSeq.flatMap { case (src, rows) =>
      val w = 1.0 + (src.drop(3).toInt % 3)
      rows.map(_._1).sorted.zipWithIndex.map { case (id, r) =>
        id -> ((r + 0.5) / w, id) }
    }
    val want = keys.sortBy(_._2).map(_._1).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(got.map(t => t._1 -> t._3).toMap === want)
    // proportional pacing: in any prefix, a weight-3 source group has ~3x
    // the rows of a weight-1 group (within one stride)
    val w3srcs = bySrc.keys.filter(s => s.drop(3).toInt % 3 == 2).toSet
    val w1srcs = bySrc.keys.filter(s => s.drop(3).toInt % 3 == 0).toSet
    if (w3srcs.nonEmpty && w1srcs.nonEmpty) {
      val prefix = got.sortBy(_._3).take(n / 4)
      val c3 = prefix.count(t => w3srcs(t._2)).toDouble / w3srcs.size
      val c1 = prefix.count(t => w1srcs(t._2)).toDouble / w1srcs.size
      assert(c3 / c1 > 2.0 && c3 / c1 < 4.0, s"pacing ratio ${c3 / c1}")
    }
  }

  test("shardBalanced: round-robin over the weight order; shard totals near-equal") {
    import SparkTestSession.table
    val docs = table("documents").select(col("doc_id"), col("n_chars"))
    val got = graft.functions.Corpus.shardBalanced(docs,
        Seq(col("n_chars").desc, col("doc_id").asc), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // == the brute-force deal over the same total order
    val want = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, n) => (-n, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> i % 8 }.toMap
    assert(got === want)
    // layout invariance: a repartitioned input deals identically
    val re = graft.functions.Corpus.shardBalanced(docs.repartition(13),
        Seq(col("n_chars").desc, col("doc_id").asc), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(re === got)
    // balance: every shard's char total within 10% of the mean (the LPT
    // round-robin bound is one max-row per cycle; 500 docs / 8 shards)
    val chars = docs.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val totals = got.toSeq.groupBy(_._2).values.map(_.map(p => chars(p._1)).sum)
    val mean = totals.sum.toDouble / totals.size
    assert(totals.size === 8)
    assert(totals.forall(t => math.abs(t - mean) / mean < 0.1),
      s"shard totals $totals vs mean $mean")
  }

  test("weightedSample == brute-force A-ES top-k; layout-invariant") {
    import SparkTestSession.{spark, table}
    val docs = table("documents").select(col("doc_id"), col("n_chars"))
    val got = graft.functions.Corpus.weightedSample(docs, "doc_id", col("n_chars"), 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute force: identical md5 uniform, pow key, HALF_UP 6-dp rounding
    val want = docs.collect().map { r =>
      val (id, w) = (r.getLong(0), r.getLong(1))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      val key = java.math.BigDecimal.valueOf(math.pow(u, 1.0 / w))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (id, w, key)
    }.sortBy { case (id, _, k) => (-k, id) }.take(60)
    assert(got.toSeq === want.toSeq)
    // selection is a pure function of content — physical layout must not move it
    val re = graft.functions.Corpus.weightedSample(
        docs.repartition(13), "doc_id", col("n_chars"), 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(re.toSeq === want.toSeq)
  }

  test("dsirLogWeights: target-like docs outrank off-target, gram count = 2n-1") {
    import SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x", true),   // the target distribution is all-x
      (2L, "x x x x", false),  // raw doc with target-like content
      (3L, "y y y y", false)   // raw doc with off-target content
    ).toDF("doc_id", "text", "tgt")
    val got = Corpus.dsirLogWeights(docs, "doc_id", "text", col("tgt"),
        buckets = 1024)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getDouble(3)))).toMap
    spark.catalog.clearCache()
    assert(got(1L)._1 && !got(2L)._1 && !got(3L)._1)
    assert(got.values.forall(_._2 === 7L))     // 4 unigrams + 3 bigrams
    assert(got(2L)._3 > got(3L)._3)            // target-like scores higher
    assert(got(1L)._3 === got(2L)._3)          // identical text ⇒ identical weight
  }

  test("negativeSample: k per query, no same-source, no self, pure hash rank") {
    import spark.implicits._
    val docs = table("documents").select(col("doc_id"), col("source"))
    val queries = docs.where(col("doc_id") < 20)
    val res = Corpus.negativeSample(docs, "doc_id", "source", queries, k = 5)
      .cache()
    try {
      assert(res.count() === 20L * 5)
      // rank is dense 1..k per query
      assert(res.groupBy("query_id").agg(count(lit(1)).as("n"),
        max("rank").as("mx"), min("rank").as("mn")).collect()
        .forall(r => r.getLong(1) === 5L && r.getInt(2) === 5 && r.getInt(3) === 1))
      // never a self-pair, never a same-source negative
      assert(res.where(col("query_id") === col("neg_id")).count() === 0)
      val srcs = docs.select(col("doc_id").as("neg_id"), col("source").as("n_src"))
      val qsrc = docs.select(col("doc_id").as("query_id"), col("source").as("q_src"))
      assert(res.join(srcs, "neg_id").join(qsrc, "query_id")
        .where(col("n_src") === col("q_src")).count() === 0)
      // the chosen set is exactly the k smallest pair hashes (rank == the
      // hash's position in the full candidate ordering)
      val full = docs.select(col("doc_id").as("neg_id"), col("source"))
        .crossJoin(queries.select(col("doc_id").as("query_id"),
          col("source").as("q_source")))
        .where(col("source") =!= col("q_source") &&
          col("neg_id") =!= col("query_id"))
        .withColumn("h", conv(substring(md5(concat(col("query_id").cast("string"),
          lit(":"), col("neg_id").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long"))
      val expected = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("h").asc, col("neg_id").asc)
        full.withColumn("r", row_number().over(w)).where(col("r") <= 5)
          .select(col("query_id"), col("neg_id"))
      }
      assert(res.select("query_id", "neg_id").except(expected).count() === 0)
      assert(expected.except(res.select("query_id", "neg_id")).count() === 0)
    } finally { res.unpersist(); () }
  }

  test("bm25: hand-computed tiny corpus; tf and length normalization behave") {
    import SparkTestSession.spark.implicits._
    val tiny = Seq(
      (1L, "a b a c"),        // tf(a)=2, dl=4
      (2L, "a b b b"),        // tf(a)=1, dl=4
      (3L, "a a a a a a a a") // tf(a)=3? no: 8 a's, dl=8
    ).toDF("doc_id", "text")
    val res = TextAnalysis.bm25(tiny, "doc_id", "text", Seq("a"),
      k1 = 1.2, b = 0.75).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    // N=3, df(a)=3, avgdl=16/3; idf = ln((3-3+0.5)/(3+0.5)+1)
    val idf = math.log((3.0 - 3.0 + 0.5) / (3.0 + 0.5) + 1.0)
    def tfNorm(tf: Double, dl: Double): Double =
      (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (16.0 / 3.0)))
    assert(res(1L)._1 === 2L && res(1L)._2 === 4L)
    assert(math.abs(res(1L)._3 - idf * tfNorm(2.0, 4.0)) < 1e-12)
    assert(math.abs(res(2L)._3 - idf * tfNorm(1.0, 4.0)) < 1e-12)
    assert(math.abs(res(3L)._3 - idf * tfNorm(8.0, 8.0)) < 1e-12)
    // more occurrences score higher at equal length
    assert(res(1L)._3 > res(2L)._3)
    // saturation: 8 occurrences in a doc twice as long still beats tf=2
    // but by less than 4x (k1 caps term-frequency growth)
    assert(res(3L)._3 > res(1L)._3 && res(3L)._3 < 2.0 * res(1L)._3)
    // absent term emits no row
    assert(TextAnalysis.bm25(tiny, "doc_id", "text", Seq("zz")).count() === 0)
    // NULL text contributes dl=0 to avgdl (not Spark's size(null) = -1,
    // ADVICE r13) while still counting in N: avgdl = 16/4, N=4, df=3
    val withNull = tiny.union(Seq((4L, Option.empty[String]))
      .toDF("doc_id", "text"))
    val nres = TextAnalysis.bm25(withNull, "doc_id", "text", Seq("a"),
      k1 = 1.2, b = 0.75).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val idf4 = math.log((4.0 - 3.0 + 0.5) / (3.0 + 0.5) + 1.0)
    def tfNorm4(tf: Double, dl: Double): Double =
      (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (16.0 / 4.0)))
    assert(nres.keySet === Set(1L, 2L, 3L)) // the null doc emits no row
    assert(math.abs(nres(1L) - idf4 * tfNorm4(2.0, 4.0)) < 1e-12)
  }

  test("unigramSegment: DP optimum and every tie-break on a hand table") {
    def pm(kv: (String, Long)*) = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      kv.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
      m
    }
    // fewest pieces wins even against higher total frequency: the
    // all-singles path totals 400 but costs 4 pieces; among the np=2
    // candidates ("ab|cd" total 2, "abc|d" total 101) max-total decides
    val m1 = pm("ab" -> 1L, "cd" -> 1L, "a" -> 100L, "b" -> 100L,
      "c" -> 100L, "d" -> 100L, "abc" -> 1L)
    assert(Corpus.unigramSegment("abcd", m1, 4) === (2, 101L, "abc|d"))
    // equal piece count: larger summed frequency wins
    val m2 = pm("ab" -> 5L, "cd" -> 5L, "abc" -> 1L, "d" -> 1L,
      "a" -> 1L, "b" -> 1L, "c" -> 1L)
    assert(Corpus.unigramSegment("abcd", m2, 4) === (2, 10L, "ab|cd"))
    // equal count AND equal total: lexicographically smaller path wins
    // ("aa|b" vs "a|ab" differ at index 1: 'a' (0x61) < '|' (0x7c),
    // so "aa|b" sorts first — same order DuckDB's binary collation gives)
    val m3 = pm("aa" -> 3L, "b" -> 3L, "a" -> 3L, "ab" -> 3L)
    assert(Corpus.unigramSegment("aab", m3, 4) === (2, 6L, "aa|b"))
    // no coverage: loud failure, never a silent skip
    val e = intercept[IllegalArgumentException] {
      Corpus.unigramSegment("axb", pm("a" -> 1L, "b" -> 1L), 4)
    }
    assert(e.getMessage.contains("axb"))
  }

  test("unigramEncode: piece concat round-trips every document exactly") {
    val pieces = Corpus.unigramPieceTable(docs, "text", maxLen = 4, topK = 60)
    assert(pieces.count(_._1.length == 1) > 0)
    val enc = Corpus.unigramEncode(docs, "doc_id", "text", pieces, maxLen = 4)
    val joined = enc.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("encoded"), col("text")).collect()
    assert(joined.length > 0)
    joined.foreach { r =>
      val rebuilt = r.getString(1).replace("|", "")
      val norm = r.getString(2).split(" ").filter(_.nonEmpty).mkString(" ")
      assert(rebuilt === norm, s"doc ${r.get(0)} failed round-trip")
      // n_tokens == pieces in the encoding
      ()
    }
    val counted = enc.select(col("n_tokens"),
      (size(split(col("encoded"), "[ |]", -1))).cast("long").as("k")).collect()
    counted.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("unigramTrainEm: likelihood non-decreasing per round; coverage kept; Viterbi round-trips") {
    val small = docs.limit(120)
    val trained = Corpus.unigramTrainEm(small, "text",
      maxLen = 4, vocabSize = 40, emIters = 3, pruneRounds = 2)
    // character coverage survives pruning
    val words = small.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).collect().map(_.getString(0))
    val chars = words.flatMap(_.toCharArray).map(_.toString).toSet
    val kept = trained.map(_._1).toSet
    assert(chars.subsetOf(kept), s"missing chars: ${chars -- kept}")
    // log-probs are a distribution: all negative-or-zero, sum(exp) ~ 1
    assert(trained.forall(_._2 <= 1e-12))
    val mass = trained.map(t => math.exp(t._2)).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    // EM likelihood is non-decreasing WITHIN each round (prune resets it)
    val trace = Corpus.unigramLikTrace
    assert(trace.size === 6)
    trace.grouped(3).foreach { round =>
      round.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a - 1e-9, s"likelihood dropped: $trace")
        case _ => ()
      }
    }
    // Viterbi under the trained table still reconstructs every document
    val enc = Corpus.unigramEncodeLogp(small, "doc_id", "text", trained, maxLen = 4)
    val joined = enc.join(small.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("encoded"), col("text"), col("logp")).collect()
    assert(joined.length > 0)
    joined.foreach { r =>
      assert(r.getString(0).replace("|", "") ===
        r.getString(1).split(" ").filter(_.nonEmpty).mkString(" "))
      assert(r.getDouble(2) < 0.0 && !r.getDouble(2).isInfinite)
    }
  }

  test("unigram integer regime == EM regime on lattice STRUCTURE: same reachability") {
    // both regimes segment over the same lattice, so a word segmentable
    // under one piece table with full char coverage is segmentable under
    // the other — guards against a future filter dropping the char tier
    val pieces = Corpus.unigramPieceTable(docs, "text", maxLen = 4, topK = 10)
    val singles = pieces.filter(_._1.length == 1).map(_._1).toSet
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).distinct().collect().map(_.getString(0))
    words.foreach { w =>
      assert(w.toCharArray.forall(c => singles.contains(c.toString)),
        s"char tier must cover '$w' even at topK=10")
    }
  }

  test("trainLogistic: loss descends, learns a planted signal, deterministic") {
    // plant a perfectly separable token: even doc_ids carry 'excellent'
    // (absent from the corpus vocabulary) and the label 1
    val labeled = docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" excellent" * 10)))
        .otherwise(col("text")).as("text"),
      when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("y"))
    val (w, b, trace) = TextAnalysis.trainLogistic(labeled, "text", col("y"),
      dim = 256, iters = 3000, lr = 5.0, maxDocs = 400)
    assert(trace.size === 3000)
    assert(trace.last < trace.head * 0.5,
      s"loss must at least halve: ${trace.head} -> ${trace.last}")
    // full-batch GD on smooth logistic loss: descent with at most tiny
    // numerical bumps
    val bumps = trace.sliding(2).count {
      case Seq(a, c) => c > a + 1e-9
      case _ => false
    }
    assert(bumps <= 5, s"$bumps loss increases in the trace")
    // scoring with the TRAINED weights separates the classes
    val scored = TextAnalysis.scoreLinear(labeled, "doc_id", "text", w, b)
    val acc = scored.join(labeled.select(col("doc_id"), col("y")), Seq("doc_id"))
      .select(avg(when((col("prob") >= 0.5) === (col("y") === 1.0), 1.0)
        .otherwise(0.0)).as("acc")).head().getDouble(0)
    assert(acc >= 0.95, s"accuracy $acc")
    // pure function of the sample: training twice is bit-identical
    val (w2, b2, _) = TextAnalysis.trainLogistic(labeled, "text", col("y"),
      dim = 256, iters = 3000, lr = 5.0, maxDocs = 400)
    assert(w === w2 && b === b2)
    // stays eager: the model is plain weights, so building it runs
    // the capped sample's one top-N collect
    val (_, jobs) = SparkTestSession.jobsDuring(TextAnalysis.trainLogistic(
      labeled, "text", col("y"), dim = 256, iters = 10, maxDocs = 400))
    assert(jobs === 1, "build-time jobs of trainLogistic")
  }

  test("tokenizer builds stay eager: each runs its pinned build-time jobs") {
    import SparkTestSession.jobsDuring
    // Every site below collects or counts while the tokenizer is built:
    // the trainers run on the driver over the word histogram, the encoders
    // inline the merges or pieces into the plan, the saves write files and
    // the vocab offsets merged ids by the base count. The pins are their
    // build-time jobs on the documents table; a new eager action, or one a
    // build no longer needs, moves them.
    val dir = java.nio.file.Files.createTempDirectory("graft-tokenizer").toString
    try {
      def jobs(body: => Any): Int = jobsDuring(body)._2
      val trained = Corpus.bpeTrain(docs, "text", numMerges = 20)
      val base = docs.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .select(explode(split(col("w"), "")).as("sym"))
        .where(length(col("sym")) > 0).distinct()
      val got = Seq(
        "bpeTrain" -> jobs(Corpus.bpeTrain(docs, "text", numMerges = 20)),
        "bpeSaveMerges" -> jobs(Corpus.bpeSaveMerges(trained, s"$dir/merges.txt")),
        "bpeVocabFromMerges" -> jobs(Corpus.bpeVocabFromMerges(base, trained)),
        "bpeSaveVocab" -> jobs(Corpus.bpeSaveVocab(
          Corpus.bpeVocabFromMerges(base, trained), s"$dir/vocab.json")),
        "bpeEncode" -> {
          val loaded = Corpus.bpeLoadMerges(spark, s"$dir/merges.txt")
          jobs(Corpus.bpeEncode(docs, "doc_id", "text", loaded))
        },
        "wordpieceEncode" -> {
          val vocab = Corpus.wordpieceVocab(docs, "text")
          jobs(Corpus.wordpieceEncode(docs, "doc_id", "text", vocab))
        },
        "unigramPieceTable" -> jobs(Corpus.unigramPieceTable(docs, "text")),
        "unigramTrainEm" -> jobs(Corpus.unigramTrainEm(docs, "text")))
      assert(got.toMap === Map(
        "bpeTrain" -> 2,
        "bpeSaveMerges" -> 3,
        "bpeVocabFromMerges" -> 6,
        "bpeSaveVocab" -> 8,
        "bpeEncode" -> 3,
        "wordpieceEncode" -> 5,
        "unigramPieceTable" -> 5,
        "unigramTrainEm" -> 2))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("corpus_mlm_mask: raw-position hashing survives messy spacing (oracle order)") {
    import SparkTestSession.spark
    import spark.implicits._
    // double space: 'b' sits at RAW position 3 (the empty token keeps
    // position 2) — masking must hash (doc, 3), the oracle's unnest order
    val messy = Seq((7L, "a  b x y z")).toDF("doc_id", "text")
    val out = Corpus.mlmMask(messy, "doc_id", "text", pct = 15)
    val row = out.head()
    val words = Seq((1, "a"), (3, "b"), (4, "x"), (5, "y"), (6, "z"))
    val expect = words.map { case (i, w) =>
      if (TextAnalysis.mdBucketDriver(s"mask#7#$i", 100) < 15) "<mask>" else w
    }.mkString(" ")
    assert(row.getAs[String]("input_text") === expect)
    assert(row.getAs[Long]("n_tokens") === 5L)
  }

  test("Kneser-Ney bigram xent: hand-computed tiny corpus; smoothing sums to <= raw mass") {
    import SparkTestSession.spark
    import spark.implicits._
    // doc1 bigrams: (a,b) (b,a) (a,a); doc2: (b,b) (b,a)
    // c2: ab=1 ba=2 aa=1 bb=1; c1/nf: a->2/2, b->3/2; np: a<-2, b<-2; nt=4
    val tiny = Seq((1L, "a b a a"), (2L, "b b a")).toDF("doc_id", "text")
    val d = 0.75
    def pkn(c2: Double, c1: Double, nf: Double, np: Double): Double =
      (c2 - d) / c1 + (d * nf / c1) * (np / 4.0)
    val pBgivenA = pkn(1, 2, 2, 2) // 0.5
    val pAgivenB = pkn(2, 3, 2, 2)
    val pAgivenA = pkn(1, 2, 2, 2)
    val pBgivenB = pkn(1, 3, 2, 2)
    val x1 = (-math.log(pBgivenA) + -math.log(pAgivenB) + -math.log(pAgivenA)) / 3
    val x2 = (-math.log(pBgivenB) + -math.log(pAgivenB)) / 2
    val got = TextAnalysis.kneserNeyCrossEntropy(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 3L && math.abs(got(1L)._2 - x1) < 1e-12)
    assert(got(2L)._1 === 2L && math.abs(got(2L)._2 - x2) < 1e-12)
    // the discount moves mass: every seen-bigram KN prob is below its raw
    // conditional by construction except where continuation mass refills
    // it; total seen mass per history never exceeds 1
    assert(pBgivenA + pAgivenA <= 1.0 + 1e-12)
    assert(pAgivenB + pBgivenB <= 1.0 + 1e-12)
  }

  test("wordpiece: greedy longest-match, ## continuations, whole-word UNK") {
    import SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((1L, "unhappy unhappy und and and and hap hap"))
      .toDF("doc_id", "text")
    // k=3 multi-pieces by weight (each substring position of each word
    // occurrence counts once): with this corpus 'un'/'ha'/'ap' style
    // two-grams dominate; rather than hand-rank, take the operator's own
    // vocab and assert the ENCODER's contract against it
    val vocab = Corpus.wordpieceVocab(docs, "text", k = 3, maxPieceLen = 3)
    val pieces = vocab.collect().map(_.getString(0)).toSet
    val out = Corpus.wordpieceEncode(docs, "doc_id", "text", vocab,
      maxPieceLen = 3).head()
    val rendered = out.getAs[String]("piece_text").split(" ")
    // contract: stripping ## markers and re-joining reproduces the text's
    // tokens in order, every piece is in the vocab, continuations (and
    // ONLY continuations) carry ##
    val words = "unhappy unhappy und and and and hap hap".split(" ")
    var wi = 0; var cur = new StringBuilder
    rendered.foreach { p =>
      if (!p.startsWith("##")) {
        if (cur.nonEmpty) { assert(cur.toString === words(wi)); wi += 1 }
        cur = new StringBuilder(p)
      } else cur.append(p.drop(2))
      assert(pieces.contains(if (p.startsWith("##")) p.drop(2) else p), p)
    }
    assert(cur.toString === words(wi) && wi === words.length - 1)
    // greedy longest-match-first: at each position the matched piece is
    // the LONGEST vocab piece prefixing the rest (re-walk independently)
    def greedyRef(w: String): Seq[String] = {
      var p = 0; val out = Seq.newBuilder[String]
      while (p < w.length) {
        val l = (math.min(3, w.length - p) to 1 by -1)
          .find(l => pieces.contains(w.substring(p, p + l))).get
        out += (if (p == 0) w.substring(p, p + l) else "##" + w.substring(p, p + l))
        p += l
      }
      out.result()
    }
    assert(rendered.toSeq === words.toSeq.flatMap(greedyRef))
  }

  test("wordpiece: unseen codepoint -> whole-word [UNK]; astral plane ok") {
    import SparkTestSession.spark
    import spark.implicits._
    val train = Seq((1L, "abc abc 😀b 😀b")).toDF("doc_id", "text")
    val vocab = Corpus.wordpieceVocab(train, "text")
    // encode a doc containing a word with a codepoint never seen at build
    val test = Seq((9L, "abc zq 😀b")).toDF("doc_id", "text")
    val r = Corpus.wordpieceEncode(test, "doc_id", "text", vocab).head()
    val ps = r.getAs[String]("piece_text").split(" ").toSeq
    assert(ps.contains("[UNK]"), ps)         // 'zq' unencodable as a whole
    assert(ps.exists(_.contains("😀")), ps)  // the emoji word encodes fine
    // n_pieces counts [UNK] as one piece
    assert(r.getAs[Long]("n_pieces") === ps.size.toLong)
    // singles-only vocab (k=0): the astral codepoint must survive as ONE
    // single piece — a Java-char split would have produced two broken
    // surrogate halves the codepoint matcher can never hit
    val singles = Corpus.wordpieceVocab(train, "text", k = 0)
    val r2 = Corpus.wordpieceEncode(
      Seq((1L, "😀b")).toDF("doc_id", "text"), "doc_id", "text", singles).head()
    assert(r2.getAs[String]("piece_text") === "😀 ##b")
  }
}
