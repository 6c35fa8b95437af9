package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Scale-posture proofs on small data: the *plans* that matter at 100 TB.
  * Bucketing removes the shuffle from a co-located join; salting spreads a
  * hot key without changing the join result. */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession.{jobsDuring, spark, table}

  test("bucketed co-located join plans with NO shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val orders = table("orders")
    val lineitem = table("lineitem")
    orders.write.mode("overwrite")
      .option("path", s"$wh/orders_b").bucketBy(8, "o_orderkey")
      .saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .option("path", s"$wh/lineitem_b").bucketBy(8, "l_orderkey")
      .saveAsTable("lineitem_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val j = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(2000)}")
      assert(j.count() === orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("salted join: same result multiset as the plain join") {
    val orders = table("orders")
    val lineitem = table("lineitem")
    val salted = Joins.saltedInner(lineitem, "l_orderkey", orders, "o_orderkey", salts = 4)
    val plain = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"))
    assert(salted.count() === plain.count())
    // spot-check a grouped projection matches exactly
    val a = salted.groupBy("o_orderkey").count()
    val b = plain.groupBy("o_orderkey").count()
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("auto-salted join: sampled skew probe triggers salting on a hot key only") {
    import spark.implicits._
    // engineered hot key: 60% of the big side on key 1, the rest uniform
    val big = spark.range(0L, 40000L).select(
      when(col("id") % 5 < 3, 1L).otherwise(col("id") % 997L).as("k"),
      col("id").as("payload"))
    val small = (0L until 997L).map(k => (k, s"dim_$k")).toDF("dk", "dv")
    val (share, n) = Joins.sampledMaxKeyShare(big, "k", 0.05, 42L)
    assert(n >= 1000L && share > 0.5 && share < 0.7,
      s"probe should see the ~60% hot key, got share=$share n=$n")
    val auto = Joins.innerAutoSalted(big, "k", small, "dk")
    assert(auto.queryExecution.executedPlan.toString.contains("graft_salt"),
      "hot-keyed input must take the salted path")
    // result multiset invariant vs the plain join
    val plain = big.join(small, col("k") === col("dk"))
    assert(auto.count() === plain.count())
    val ga = auto.groupBy("k").count()
    val gp = plain.groupBy("k").count()
    assert(ga.exceptAll(gp).count() === 0 && gp.exceptAll(ga).count() === 0)
    // uniform input: probe stays under threshold, plain join, no salt
    val uniform = spark.range(0L, 40000L)
      .select((col("id") % 997L).as("k"), col("id").as("payload"))
    val (uShare, _) = Joins.sampledMaxKeyShare(uniform, "k", 0.05, 42L)
    assert(uShare < 0.15, s"uniform keys must not trip the threshold: $uShare")
    val autoU = Joins.innerAutoSalted(uniform, "k", small, "dk")
    assert(!autoU.queryExecution.executedPlan.toString.contains("graft_salt"))
    assert(autoU.count() === uniform.join(small, col("k") === col("dk")).count())
  }

  test("auto-salted join: building runs exactly the sampled skew probe") {
    import spark.implicits._
    val big = spark.range(0L, 40000L).select(
      when(col("id") % 5 < 3, 1L).otherwise(col("id") % 997L).as("k"),
      col("id").as("payload"))
    val small = (0L until 997L).map(k => (k, s"dim_$k")).toDF("dk", "dv")
    // the probe stays eager: the salted-or-plain plan is chosen from it.
    // AQE runs the sample's partial aggregate and the final one as jobs.
    val (_, probeJobs) = jobsDuring(Joins.sampledMaxKeyShare(big, "k", 0.05, 42L))
    val (_, jobs) = jobsDuring(Joins.innerAutoSalted(big, "k", small, "dk"))
    assert(probeJobs === 3)
    assert(jobs === probeJobs, "build-time jobs of innerAutoSalted")
  }

  /** r11 verdict #8: the 0.15 default threshold is the MEASURED crossover
    * region (tools/SaltProbe, table in PLANS.md — ~0.27 on 8 threads,
    * ~0.10 on 32; the default sits under the high-parallelism side). Pin
    * the decision just below and just above it, with margin for the ±1%
    * probe noise at the default 5% sample of 40k rows. */
  test("auto-salt threshold brackets the measured crossover share") {
    import spark.implicits._
    def staged(share: Double) = spark.range(0L, 40000L).select(
      when(pmod(col("id"), lit(1000)) < (share * 1000).toInt, lit(7L))
        .otherwise(col("id") % 997L).as("k"),
      col("id").as("payload"))
    val small = (0L until 997L).map(k => (k, s"dim_$k")).toDF("dk", "dv")
    val below = Joins.innerAutoSalted(staged(0.10), "k", small, "dk")
    assert(!below.queryExecution.executedPlan.toString.contains("graft_salt"),
      "share below the crossover must take the plain join (AQE regime)")
    val above = Joins.innerAutoSalted(staged(0.25), "k", small, "dk")
    assert(above.queryExecution.executedPlan.toString.contains("graft_salt"),
      "share above the crossover must salt")
    // result-invariance at the above-crossover share
    val plain = staged(0.25).join(small, col("k") === col("dk"))
    assert(above.count() === plain.count())
  }

  /** Total shuffle records written across every stage triggered by `body`. */
  private def shuffleRecords(body: => Unit): Long =
    graft.profile.Profile.during(spark)(body)._2.shuffleRecords

  /** Round-10 verdict #5: the bigram type-first scoring and term-table
    * bounding are justified by Zipf arguments the uniform synthetic
    * testdata cannot exhibit. This probe stages a DETERMINISTIC
    * Zipf-distributed corpus (inverse-CDF over a content-keyed md5
    * uniform: rank = floor(exp(u · ln V)) has p(r) ∝ 1/r) next to a
    * same-shaped uniform corpus, and asserts the premises MATERIALIZE:
    * the type table collapses relative to the token stream under Zipf,
    * and the type-first plan moves measurably fewer shuffle records than
    * the former stream ⋈ c2 ⋈ c1 chain. Measured numbers go to PLANS.md. */
  test("Zipf probe: type-table collapse and shuffle-record reduction are real") {
    import graft.functions.TextAnalysis
    // Zipf(s=1.5) over a 1M vocab via the inverse CDF
    // rank = (1 + u·(V^(1-s) − 1))^(1/(1-s)): steep enough that 120k
    // draws exhibit the head-heavy repetition every crawl-scale corpus
    // has, while the uniform twin stays ~all-distinct (V >> draws)
    val V = 1000000.0
    val s15 = 1.5
    // build texts via explode/agg so each position gets its own md5 draw
    def build(zipf: Boolean) = {
      val tag = if (zipf) "z" else "u"
      val tok = spark.range(2000L).select(col("id").as("doc_id"),
          explode(sequence(lit(0), lit(59))).as("p"))
        .select(col("doc_id"), col("p"),
          ((conv(substring(md5(concat_ws("#", lit(tag), col("doc_id"), col("p"))),
            1, 8), 16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)).as("u"))
        .select(col("doc_id"), col("p"),
          (if (zipf) floor(pow(
            lit(1.0) + col("u") * (math.pow(V, 1.0 - s15) - 1.0),
            1.0 / (1.0 - s15)))
           else floor(col("u") * V)).cast("long").as("rank"))
      tok.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("rank")))),
          e => concat(lit("w"), e.getField("rank"))), " ").as("text"))
    }
    val zc = build(zipf = true).cache(); zc.count()
    val uc = build(zipf = false).cache(); uc.count()
    def ratios(docs: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      val nTok = toks.count().toDouble
      val termRatio = toks.distinct().count() / nTok
      val bg = docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val pairs = bg.as("a").join(bg.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.pos") + 1 === col("b.pos"))
        .select(col("a.w").as("w1"), col("b.w").as("w2"))
      val nBg = pairs.count().toDouble
      val bgRatio = pairs.distinct().count() / nBg
      (termRatio, bgRatio)
    }
    val (zTerm, zBg) = ratios(zc)
    val (uTerm, uBg) = ratios(uc)
    info(f"type/stream ratios — zipf: terms $zTerm%.3f bigrams $zBg%.3f; " +
      f"uniform: terms $uTerm%.3f bigrams $uBg%.3f")
    // the Zipf premise: the type table collapses relative to the stream
    assert(zTerm < uTerm / 2,
      f"Zipf unigram type table should collapse: $zTerm%.3f vs uniform $uTerm%.3f")
    assert(zBg < uBg / 2,
      f"Zipf bigram type table should collapse: $zBg%.3f vs uniform $uBg%.3f")
    // the plan consequence: type-first scoring shuffles measurably less
    // than the former stream ⋈ c2 ⋈ c1 chain on the SAME Zipf corpus.
    // Broadcast is disabled for BOTH measurements: that is the regime the
    // optimization targets — at crawl scale the count tables exceed any
    // broadcast threshold and every stream join is an exchange (locally,
    // 10 MB tables broadcast and hide the stream shuffles entirely).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeBc = spark.conf.getOption(
      "spark.sql.adaptive.autoBroadcastJoinThreshold").getOrElse("-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val typeFirst = shuffleRecords {
      TextAnalysis.bigramCrossEntropy(zc, "doc_id", "text").count(); ()
    }
    val naive = shuffleRecords {
      // the pre-r10 shape, reconstructed with the SAME map-only bigram
      // formation the operator uses (sequence+transform, no window): the
      // corpus stream pays BOTH count joins (re-shuffled once per join)
      // before the final agg — the only difference vs type-first is the
      // join structure, so the record delta is attributable to it
      val toks = split(col("text"), " ")
      val bg = zc.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w1"),
              element_at(toks, i + 2).as("w2")))).as(Seq("pos", "b")))
        .select(col("doc_id"), col("pos"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col("doc_id"),
          (-log(col("c2").cast("double") / col("c1").cast("double"))).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("lp")) / count(lit(1))).as("xent"))
        .count(); ()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqeBc)
    info(s"shuffle records — type-first: $typeFirst, stream-chain: $naive")
    assert(typeFirst.toDouble * 1.3 < naive.toDouble,
      s"type-first must shuffle measurably fewer records: $typeFirst vs $naive")
    zc.unpersist(); uc.unpersist()
  }

  /** r11 verdict #2: the containment prefix filter must MEASURABLY shrink
    * candidate generation on a boilerplate-heavy corpus — the exact shape
    * that made the full self-join the repo's one plan-level scale-killer
    * (a shingle shared by all N docs contributes ~N²/2 candidate rows). */
  test("containment prefix filter shrinks candidate shuffle on boilerplate-heavy corpus") {
    import graft.functions.Dedup
    // 400 docs, all sharing a 10-word boilerplate sentence (8 shingles of
    // df=400 each) plus 6 unique words; at t=0.8 the true answer is EMPTY
    // (shared shingles = 8 < ceil(0.8·15)), so any disagreement below is
    // structural, not data luck
    val boiler = "all rights reserved contact us for more information today friend"
    val docs = spark.range(400L).select(col("id").as("doc_id"),
      concat_ws(" ", (Seq(lit(boiler)) ++ (0 until 6).map(j =>
        concat(lit("u"), col("id"), lit(s"w$j")))): _*).as("text"))
      .cache()
    docs.count()
    // broadcast disabled for BOTH measurements — the regime the filter
    // targets: at corpus scale the exploded shingle stream exceeds any
    // broadcast threshold and candidate generation is an exchange
    // (locally the 400-doc table broadcasts and hides the shuffles)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeBc = spark.conf.getOption(
      "spark.sql.adaptive.autoBroadcastJoinThreshold").getOrElse("-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val (bruteRecords, prefixRecords) =
      try {
        val b = shuffleRecords {
          assert(Dedup.containmentPairsBrute(docs, "doc_id", "text",
            threshold = 0.8).count() === 0L)
        }
        val p = shuffleRecords {
          assert(Dedup.containmentPairs(docs, "doc_id", "text",
            threshold = 0.8).count() === 0L)
        }
        (b, p)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqeBc)
      }
    info(s"containment shuffle records — brute: $bruteRecords, prefix: $prefixRecords")
    // brute ships ~8·400²/2 ≈ 640k candidate pair rows into its groupBy;
    // the prefix path's candidates are empty (boilerplate never enters a
    // prefix) and its overhead is the df-count + window stages
    assert(prefixRecords.toDouble * 3 < bruteRecords.toDouble,
      s"prefix filter must shrink candidate shuffle ≥3×: $prefixRecords vs $bruteRecords")
    docs.unpersist()
  }
}
