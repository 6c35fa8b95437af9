package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextOps}

class DedupSpec extends AnyFunSuite {
  import SparkTestSession.{jobsDuring, spark, table}

  lazy val docs = table("documents").cache()

  test("nearDupEmbeddings: corpus-derived geometry finds perturbed twins, equals exact, returns recall") {
    val emb = table("embeddings").select(col("vec_id"), col("embedding"))
    // PERTURBED twins (not just scaled — a scaled twin is sign-identical
    // and would pass under a broken solver too): flip one coordinate's
    // low bits by adding 0.01 to dimension 0; cosine stays >> 0.9
    val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val corpus = emb.unionByName(twins)
    val (pairs, recall) =
      Dedup.nearDupEmbeddings(corpus, "vec_id", "embedding")
    assert(recall > 0.99 && recall <= 1.0,
      s"solved geometry's expected recall should be ~1 at this n, got $recall")
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.functions.Similarity
      .cosinePairsExact(corpus, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got === want)
    // every planted twin pair found
    val n = emb.count()
    assert(want.count { case (a, b) => b - a == 100000L } === n)
  }

  test("nearDupEmbeddings: building runs exactly the corpus count that sizes the geometry") {
    val emb = table("embeddings").select(col("vec_id"), col("embedding"))
    val (_, countJobs) = jobsDuring(emb.count())
    val (_, jobs) = jobsDuring(Dedup.nearDupEmbeddings(emb, "vec_id", "embedding"))
    assert(countJobs === 2) // AQE: the partial-count stage, then the final one
    assert(jobs === countJobs, "build-time jobs of nearDupEmbeddings")
  }

  test("exact dedup: distinct corpus keeps every doc as its own representative") {
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.count() === docs.count())
    assert(d.where(col("n_copies") > 1).count() === 0)
  }

  test("exact dedup: injected duplicates collapse to min doc_id") {
    val dup = docs.limit(5).withColumn("doc_id", col("doc_id") + 100000L)
    val d = Dedup.exact(docs.unionByName(dup), "doc_id", "text")
    assert(d.where(col("n_copies") === 2).count() === 5)
    // representative is the ORIGINAL (smaller) id
    assert(d.where(col("n_copies") === 2 && col("keep_id") >= 100000L).count() === 0)
  }

  test("paragraph dedup: canonical (min doc, min pos) keep, ordered reassembly, empty docs drop") {
    import spark.implicits._
    val mini = Seq(
      1L -> "A\nB\nC",  // all first occurrences — survives whole
      2L -> "B\nD",     // B canonical at (1,1) -> "D"
      3L -> "A\nB",     // every paragraph canonical elsewhere -> drops
      4L -> "C\nC",     // C canonical at (1,2) -> drops
      5L -> "E\nE"      // E canonical at (5,0); the pos-1 repeat drops -> "E"
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(mini, "doc_id", "text", "\n")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got === Map(
      1L -> ((3L, "A\nB\nC")),
      2L -> ((1L, "D")),
      5L -> ((1L, "E"))))
    // result is stable under physical layout (the canonical rule is a
    // pure function of (doc_id, pos), not arrival order)
    val re = Dedup.dedupParagraphs(mini.repartition(7), "doc_id", "text", "\n")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(re === got)
  }

  test("codegen'd word_shingles == composed form on corpus and edge cases") {
    import spark.implicits._
    val edge = Seq("", "a", "a b", "a b c", "a  b c d", " lead", "trail ",
      "x y x y x y", "a b c d e f g").toDF("text")
    for (df <- Seq(docs.select("text"), edge); n <- Seq(2, 3)) {
      val diff = df.select(
          TextOps.shingles(col("text"), n).as("fast"),
          TextOps.shinglesComposed(col("text"), n).as("composed"))
        .where(col("fast") =!= col("composed"))
      assert(diff.count() === 0, s"n=$n mismatch: ${diff.take(3).mkString}")
    }
  }

  test("minhash LSH pairs == exact ngram jaccard pairs (recall check at j>=0.8)") {
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact && exact.nonEmpty)
  }

  test("minhash bucket cap: drops only over-cap buckets; infinite cap is identity") {
    import spark.implicits._
    val planted = spark.range(20).select(
      (col("id") + 900000L).as("doc_id"),
      lit("identical boilerplate navigation footer repeated on every page")
        .as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    def pairs(cap: Int) = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        maxBucketSize = cap)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(10)
    // identical planted texts pair among themselves in the uncapped run
    assert(uncapped.exists { case (a, b) => a >= 900000L && b >= 900000L })
    // cap=10 < cluster size 20: every planted band bucket is over-cap, so
    // the whole template cluster vanishes — and NOTHING natural does
    assert(capped === uncapped.filterNot { case (a, b) =>
      a >= 900000L || b >= 900000L })
    // a cap the corpus never reaches is the identity
    assert(pairs(1000) === uncapped)
  }

  test("nearDupPairs: the knob-free default drops the template cluster and equals exact elsewhere") {
    val planted = spark.range(40).select(
      (col("id") + 900000L).as("doc_id"),
      lit("identical boilerplate navigation footer repeated on every page")
        .as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val got = Dedup.nearDupPairs(corpus, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the default IS the measured contract configuration, in the open
    val explicit = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        shingleLen = 3, bands = 16, rowsPerBand = 4, threshold = 0.8,
        maxBucketSize = Dedup.DefaultMaxBucketSize)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === explicit)
    // the 40-doc template cluster (> DefaultMaxBucketSize in every band
    // bucket) vanishes from what a naive caller gets...
    assert(!got.exists { case (a, b) => a >= 900000L || b >= 900000L })
    // ...and nothing natural moves: the default equals the exact brute
    // answer over the original corpus
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === exact && exact.nonEmpty)
  }

  test("jaccardPrefixPairs: default df cap is exact below the cap; a biting cap yields a subset with exact values") {
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // corpus dfs sit far below DefaultMaxDocFreq, so the shipped default
    // must be bit-identical to the uncapped lossless audit form
    val default_ = triples(Dedup.jaccardPrefixPairs(docs, "doc_id", "text"))
    val audit = triples(Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
      maxDocFreq = None))
    assert(default_ === audit && audit.nonEmpty)
    // force the cap to bite (df cap 3 < engineered clone-cluster dfs):
    // survivors must be a SUBSET with bit-identical exact jaccards —
    // candidate pruning only, never value drift, never false positives
    val bitten = triples(Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
      maxDocFreq = Some(3)))
    assert(bitten.subsetOf(audit))
  }

  test("simhash: near-dup docs land within small hamming distance") {
    // take a known near-dup pair from the exact jaccard output
    val pair = Dedup.ngramJaccardPairs(docs, "doc_id", "text").select("doc_a", "doc_b").head()
    val (a, b) = (pair.getLong(0), pair.getLong(1))
    val fp = docs.where(col("doc_id").isin(a, b))
      .select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    val hamming = java.lang.Long.bitCount(fp(0) ^ fp(1))
    // random 52-bit fingerprints differ in ~26 bits; near-dups must sit far
    // below that baseline (weight-1 voting on small token sets is noisy, so
    // a handful of flipped bits is expected)
    assert(hamming <= 13, s"hamming($a,$b)=$hamming")
  }

  test("simhashPairs: banded candidate join finds identical-fingerprint dups") {
    val dup = docs.limit(3).withColumn("doc_id", col("doc_id") + 100000L)
    val pairs = Dedup.simhashPairs(docs.unionByName(dup), "doc_id", "text", maxHamming = 0)
    assert(pairs.where(col("doc_b") >= 100000L).count() >= 3)
  }

  test("ngram jaccard with doc-frequency cap still finds the engineered near-dups") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a generous cap keeps every engineered pair (their shared shingles are
    // rare); an aggressive cap may drop multi-clone clusters (df of shared
    // shingles == cluster size + noise) but must stay a SUBSET — the
    // recall/cost dial, never false positives
    val generous = Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocFreq = Some(20))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(generous === exact)
    val aggressive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocFreq = Some(5))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aggressive.subsetOf(exact) && aggressive.nonEmpty)
  }

  test("shingles: n-gram count and short-document guard") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b").toDF("text")
      .select(size(TextOps.shingles(col("text"), 3)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 0))
  }

  test("connected components: chains resolve transitively to the cluster minimum") {
    import spark.implicits._
    // two chains and one triangle; 5—6—7—8 needs 3 propagation hops
    val edges = Seq((6L, 5L), (6L, 7L), (7L, 8L), (20L, 21L),
      (30L, 31L), (31L, 32L), (30L, 32L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("connected components: maxIter below the diameter fails loudly, not wrongly") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 2)
    }
    assert(e.getMessage.contains("no fixpoint"))
    // and the required rounds DO converge (diameter 4 ⇒ ≤ 5 rounds)
    val ok = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 6)
      .where(col("canon_id") === 1L).count()
    assert(ok === 5L)
  }

  test("connected components: build-time jobs are the checkpoints, one fixpoint probe per round and the final copy") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    // the fixture needs exactly 3 rounds: one fewer fails. Its 29 jobs are
    // the edge and initial-label checkpoints, each round's checkpoint and
    // fixpoint probe, and the final managed copy — AQE runs each shuffle
    // stage of a checkpoint as its own job. A new eager action, or a probe
    // the loop no longer needs, moves the count.
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 3 - 1)
    }
    val (cc, jobs) = jobsDuring(
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 3))
    assert(jobs === 29, "build-time jobs of connectedComponents")
    assert(cc.where(col("canon_id") === 1L).count() === 5L)
  }

  test("connected components: reliable-checkpoint path matches localCheckpoint") {
    import spark.implicits._
    // same multi-round topology as the chains test; the reliable path
    // (df.checkpoint into a dir — what a multi-hour 100 TB CC run needs to
    // survive executor loss) must produce the identical label map
    val edges = Seq((6L, 5L), (6L, 7L), (7L, 8L), (20L, 21L),
      (30L, 31L), (31L, 32L), (30L, 32L)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val reliable = Dedup.connectedComponents(edges, "doc_a", "doc_b",
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L,
        20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
      // the rounds really went through the reliable path: checkpoint files
      // were written under the directory
      def fileCount(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(fileCount).sum else 1
      assert(fileCount(new java.io.File(dir)) > 0, "no reliable checkpoint files written")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("connected components: intermediate checkpoint storage is freed") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (1L to 12L).sliding(2).map(p => (p.head, p.last)).toSeq
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b")
    assert(cc.where(col("canon_id") === 1L).count() === 12L)
    // several propagation rounds ran; only the FINAL label map may remain
    // pinned (checkpoint blocks bypass catalog.clearCache, so leaking the
    // per-round maps would accumulate across a long session)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"expected <=1 surviving checkpoint RDD, got ${after - before}")
    // …and that survivor is CacheManager-managed (the final labels are
    // copied into a managed persist; raw checkpoint blocks would bypass
    // clearCache and pin one label map per call in a long session)
    spark.catalog.clearCache()
    val afterClear = spark.sparkContext.getPersistentRDDs.size
    assert(afterClear - before <= 0,
      s"clearCache left ${afterClear - before} unmanaged RDD(s) pinned")
  }

  test("persisted intermediates: clearCache releases every near-dup operator's stages") {
    // each operator persists a stage its plan reads more than once; the
    // persists are CacheManager-managed, so the caller's clearCache must
    // release them all (connectedComponents and the IVF index have their
    // own tests)
    val evalPred = col("doc_id") % 10 === 0
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, "doc_id", "text")),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text")),
      "ngramJaccardLowerBound" -> (() =>
        Dedup.ngramJaccardLowerBound(docs, "doc_id", "text", maxDocFreq = Some(8))),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, "doc_id", "text")),
      "containmentPairsBrute" -> (() => Dedup.containmentPairsBrute(docs, "doc_id", "text")),
      "jaccardPrefixPairs" -> (() => Dedup.jaccardPrefixPairs(docs, "doc_id", "text")),
      "contamination" -> (() => Dedup.contamination(docs, "doc_id", "text", evalPred)),
      "contaminationBloom" -> (() =>
        Dedup.contaminationBloom(docs, "doc_id", "text", evalPred)))
    ops.foreach { case (name, op) =>
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.size
      op().count()
      val held = spark.sparkContext.getPersistentRDDs.size
      assert(held > before, s"$name ran without persisting a stage")
      spark.catalog.clearCache()
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after === before, s"$name: ${after - before} RDD(s) still pinned after clearCache")
    }
  }

  test("shared-substring pairs catch partial overlap jaccard misses; df cap drops boilerplate") {
    import spark.implicits._
    // four long docs with unique bodies; 1 and 2 share a syndicated
    // 20-token span; ALL share a 20-token boilerplate footer
    val span = (1 to 20).map(i => s"s$i").mkString(" ")
    val footer = (1 to 20).map(i => s"f$i").mkString(" ")
    def body(p: String) = (1 to 80).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"${body("a")} $span $footer"),
      (2L, s"${body("b")} $span $footer"),
      (3L, s"${body("c")} $footer"),
      (4L, s"${body("d")} $footer")).toDF("doc_id", "text")
    // whole-doc jaccard at a realistic threshold sees NOTHING here
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.8).count() === 0)
    // substring criterion: every pair shares the footer window
    val pairs = Dedup.sharedSubstringPairs(docs, "doc_id", "text", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet === Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
    // the syndicated pair shares strictly more spans than footer-only pairs
    assert(pairs((1L, 2L)) > pairs((3L, 4L)))
    // df cap (>2 docs = boilerplate) keeps ONLY the syndicated pair
    val capped = Dedup.sharedSubstringPairs(docs, "doc_id", "text", 20,
      maxDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
  }

  test("contamination == brute-force shingle intersection on randomized docs") {
    import spark.implicits._
    // seeded random docs over a 10-word vocab, lengths 0..11 — covers
    // empty docs, sub-shingle-length docs, and heavy natural overlap
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.contamination(docs, "doc_id", "text",
        col("doc_id") < 10, shingleLen = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh = docs.select(col("doc_id"),
      TextOps.shingles(col("text"), 3).as("sh"), (col("doc_id") < 10).as("ev"))
    val evalGrams = sh.where(col("ev"))
      .select(explode(col("sh")).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val expect = sh.where(!col("ev")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet.count(evalGrams.contains).toLong)
      .filter(_._2 > 0L).toMap
    assert(got === expect)
  }

  test("incremental: corpus-known content vanishes, fresh survives, batch dupes collapse") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta"),   // byte-identical to corpus doc 1 → dropped
      (11L, "epsilon zeta"), // fresh
      (12L, "epsilon zeta"), // in-batch dup of 11 → collapsed to min id
      (13L, "eta theta")     // fresh
    ).toDF("doc_id", "text")
    val got = Dedup.incremental(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(11L, 13L))
  }

  test("contamination: shared n-grams counted per train doc; eval side broadcasts") {
    import spark.implicits._
    // eval doc 100 = "a b c d e f"; train doc 1 shares the 4-grams starting
    // at a and b (2 hits), train doc 2 shares none, train doc 3 is an exact
    // copy (3 distinct 4-grams, all hits)
    val docs = Seq(
      (100L, "a b c d e f"),
      (1L, "z a b c d e y"),
      (2L, "p q r s t u v"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val got = Dedup.contamination(docs, "doc_id", "text",
        col("doc_id") >= 100L, shingleLen = 4)
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 2L, 3L -> 3L))
    // the eval shingle set must be the BROADCAST side — a 100 TB corpus
    // never shuffles for the probe
    assert(got.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("contaminationBloom == contamination on randomized docs (prune is result-invariant)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val exact = Dedup.contamination(docs, "doc_id", "text",
        col("doc_id") < 10, shingleLen = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    // a tiny expectedGrams forces a saturated, FP-heavy filter — the
    // exact join behind the probe must still remove every false positive
    val bloom = Dedup.contaminationBloom(docs, "doc_id", "text",
        col("doc_id") < 10, shingleLen = 3, expectedGrams = 50L, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(bloom === exact)
  }

  test("prefix-filtered jaccard == exploded exact jaccard at several thresholds") {
    // the PPJoin candidate discipline is lossless + exactly verified, so
    // output must be IDENTICAL (pairs AND jaccard values) to the exploded
    // path at any threshold — including low ones where prefixes get long
    // vs the RETAINED explode twin — ngramJaccardPairs itself delegates to
    // the prefix path uncapped (r12 verdict #2), so comparing against it
    // would be a tautology
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val prefix = Dedup.jaccardPrefixPairs(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = Dedup.ngramJaccardLowerBound(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix === exact, s"threshold $t")
      assert(prefix.nonEmpty || t > 0.8)
    }
  }

  test("prefix-filtered jaccard survives heavy boilerplate without a df cap") {
    import spark.implicits._
    // 30 docs sharing one boilerplate sentence + unique bodies, plus one
    // genuine near-dup pair: the shared boilerplate shingles are the df
    // heavy-hitters that would dominate the exploded join's candidates;
    // the prefix path must still return exactly the brute-force answer
    val boiler = "all rights reserved contact us for more information today"
    val uniq = (0L until 30L).map(i =>
      (i, s"$boiler body$i text$i filler$i words$i here$i end$i"))
    val nearDup = Seq(
      100L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      101L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda")
    val corpus = (uniq ++ nearDup).toDF("doc_id", "text")
    val got = Dedup.jaccardPrefixPairs(corpus, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.ngramJaccardLowerBound(corpus, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want && got.contains((100L, 101L)))
  }

  test("containment catches inclusion pairs symmetric Jaccard misses") {
    import spark.implicits._
    // a short quote fully contained in a long host doc: containment 1.0,
    // Jaccard tiny — the eval-contamination shape
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = s"$quote one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val corpus = Seq(1L -> host, 2L -> quote,
      3L -> "unrelated words entirely different content here now").toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(3), r.getDouble(4)))).toMap
    assert(cont.keySet === Set((1L, 2L)))
    // direction: the QUOTE (smaller set, doc 2 = the b side) is contained
    assert(cont((1L, 2L))._2 === 1.0)
    assert(cont((1L, 2L))._1 < 0.5)
    // symmetric Jaccard at the same bar finds nothing
    assert(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      threshold = 0.9).count() === 0)
    // and containment equals a brute-force set recompute
    val sh = corpus.collect().map { r =>
      val w = r.getString(1).split(" ")
      r.getLong(0) -> w.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val inter = sh(1L).intersect(sh(2L)).size
    assert(cont((1L, 2L)) ===
      ((inter.toDouble / sh(1L).size, inter.toDouble / sh(2L).size)))
  }

  test("prefix-filtered containment equals the brute self-join at t in {0.6, 0.8, 0.9}") {
    import spark.implicits._
    // boilerplate-heavy corpus + planted inclusions of different strengths:
    // full quotes, partial overlaps, and unrelated docs — exercises pairs
    // on both sides of each threshold so losslessness is actually tested
    val boiler = "all rights reserved contact us for more information today"
    val uniq = (0L until 25L).map(i =>
      (i, s"$boiler body$i text$i filler$i words$i here$i end$i"))
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val planted = Seq(
      200L -> s"$quote one two three four five six seven eight nine ten",
      201L -> quote, // full inclusion: containment 1.0
      202L -> "alpha beta gamma delta other words here now today friend",
      203L -> s"$boiler extra tail words") // boilerplate-only overlap
    val corpus = (uniq ++ planted).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.8, 0.9)) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9), math.round(r.getDouble(4) * 1e9))
      val got = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = t)
        .collect().map(key).toSet
      val want = Dedup.containmentPairsBrute(corpus, "doc_id", "text", threshold = t)
        .collect().map(key).toSet
      assert(got === want, s"prefix-filtered containment drifted at t=$t")
      assert(got.exists { case (a, b, _, _, _) => a == 200L && b == 201L },
        s"planted full inclusion must survive at t=$t")
    }
  }

  test("containment maxDocFreq cap: subset of exact with identical values, drops boilerplate-only pairs") {
    import spark.implicits._
    val boiler = "all rights reserved contact us for more information today"
    // ONLY-boilerplate short docs: every pair among them has containment
    // 1.0 through heavy shingles alone — the cap must drop those pairs
    // while keeping the rare-shingle inclusion pair intact
    val boilerOnly = (300L until 310L).map(i => (i, s"$boiler tail$i"))
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val planted = Seq(
      400L -> s"$quote one two three four five six seven eight nine ten",
      401L -> quote)
    val corpus = (boilerOnly ++ planted).toDF("doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.8)
    val capped = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.8,
      maxDocFreq = Some(5))
    val (exactKeys, cappedKeys) = (keys(exact), keys(capped))
    assert(cappedKeys.subsetOf(exactKeys), "cap must never add pairs")
    assert(cappedKeys.contains((400L, 401L)), "rare-shingle inclusion must survive the cap")
    assert(exactKeys.exists { case (a, _) => a >= 300L && a < 310L },
      "exact mode should see the boilerplate-only pairs")
    assert(!cappedKeys.exists { case (a, _) => a >= 300L && a < 310L },
      "capped mode must drop pairs connected only through heavy shingles")
    // surviving pairs carry EXACT containment values (full-array verify)
    val cv = capped.collect().map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val ev = exact.collect().map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    cv.foreach { case (k, v) => assert(ev(k) === v, s"capped values drifted for $k") }
  }
}
