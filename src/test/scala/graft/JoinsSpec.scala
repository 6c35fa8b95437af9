package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.dsl.Dsl._
import graft.operators.{EventLog, Joins}

class JoinsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, table}

  lazy val orders = table("orders")
  lazy val lineitem = table("lineitem")
  lazy val nation = table("nation")
  lazy val region = table("region")

  test("J1 inner join cardinality matches SQL semantics (reference cardinality oracle style)") {
    val joined = Joins.inner(orders, "o_orderkey", lineitem, "l_orderkey")
    orders.createOrReplaceTempView("o")
    lineitem.createOrReplaceTempView("l")
    val expected = spark.sql("SELECT count(*) FROM o JOIN l ON o_orderkey = l_orderkey")
      .head().getLong(0)
    assert(joined.count() === expected && expected > 0)
  }

  test("J1 with inner predicate == filter-then-join") {
    val j = Joins.inner(orders, "o_orderkey", lineitem, "l_orderkey",
      innerPred = Some("l_quantity" $gt 25.0))
    val expected = orders.join(
      lineitem.where(col("l_quantity") > 25.0),
      orders("o_orderkey") === lineitem("l_orderkey")).count()
    assert(j.count() === expected)
  }

  test("J2 zipByOrdinal stops at the shorter side and pairs in order") {
    val z = Joins.zipByOrdinal(
      nation, Seq(col("n_nationkey").asc),
      region, Seq(col("r_regionkey").asc))
    assert(z.count() === math.min(nation.count(), region.count()))
    val first = z.orderBy(col("n_nationkey")).select("n_nationkey", "r_regionkey").head()
    assert(first.getInt(0) === 0 && first.getInt(1) === 0)
  }

  test("zipWithOrdinal assigns a dense 0-based ordinal") {
    val z = Joins.zipWithOrdinal(nation)
    assert(z.count() === nation.count())
    val ords = z.select("zip_ord").collect().map(_.getLong(0)).sorted
    assert(ords.toSeq === (0L until nation.count()).toSeq)
  }

  test("zipWithOrdinal: building runs the sorted input and its partition sizes") {
    // stays eager: RDD.zipWithIndex sizes the partitions at construction
    // (the offsets are the ordinal's base). Two jobs: the range exchange
    // samples its bounds, then the size job runs the sorted input.
    val sorted = lineitem.orderBy(col("l_orderkey"), col("l_linenumber"))
    val (z, jobs) = SparkTestSession.jobsDuring(Joins.zipWithOrdinal(sorted))
    assert(jobs === 2, "build-time jobs of zipWithOrdinal")
    assert(z.count() === lineitem.count())
  }

  test("U1 either is a tagged union with both sides intact") {
    val e = Joins.either(nation, region)
    assert(e.count() === nation.count() + region.count())
    assert(e.where(col("side") === "left").count() === nation.count())
    assert(e.where(col("side") === "right" && col("right").isNotNull).count() === region.count())
  }

  test("U2 concat preserves all rows") {
    val c = Joins.concat(region, region)
    assert(c.count() === 2 * region.count())
  }

  test("S3 event log: offset resume row count (reference domainSize - offset oracle)") {
    val events = table("events")
    val key = events.select("user_id").head().getLong(0)
    val all = events.where(col("user_id") === key)
    val minSeq = all.agg(min("event_id")).head().getLong(0)
    val offset = minSeq + 3
    val log = EventLog.from(events, "user_id", lit(key), "event_id", offset, 256L)
    assert(log.count() === all.where(col("event_id") >= offset).count())
    // partition arithmetic: partition_nr = floor(event_id / 256)
    assert(log.where(col("partition_nr") =!= floor(col("event_id") / 256L)).count() === 0)
  }

  test("rangeJoin == brute-force BETWEEN join, including negative coordinates") {
    import spark.implicits._
    // deterministic pseudo-random points/intervals straddling zero so the
    // floor-division binning is exercised on negatives (truncating division
    // would mis-bin them)
    val rnd = new scala.util.Random(7)
    val points = (0L until 400L).map(i => (i, rnd.nextLong() % 10000L))
      .toDF("p_id", "p")
    val intervals = (0L until 60L).map { i =>
      val s = rnd.nextLong() % 10000L
      (i, s, s + rnd.nextInt(800).toLong)
    }.toDF("i_id", "s", "e")
    val got = Joins.rangeJoin(points, intervals, "p", "s", "e", binWidth = 500L)
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    val expected = points.join(intervals, col("p") >= col("s") && col("p") <= col("e"))
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    assert(got === expected && expected.nonEmpty)
    // and no duplicate pair survives the multi-bin interval replication
    assert(Joins.rangeJoin(points, intervals, "p", "s", "e", 500L).count()
      === expected.size)
  }

  test("intervalJoin == brute-force overlap join, each pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // intervals straddling zero, lengths 0..~6 bins so multi-bin pairs
    // and bin-boundary pairs both occur
    val a = (0L until 150L).map { i =>
      val s = rnd.nextLong() % 5000L; (i, i % 5, s, s + rnd.nextInt(1200).toLong)
    }.toDF("a_id", "a_key", "a_s", "a_e")
    val b = (0L until 150L).map { i =>
      val s = rnd.nextLong() % 5000L; (i, i % 5, s, s + rnd.nextInt(1200).toLong)
    }.toDF("b_id", "b_key", "b_s", "b_e")
    val got = Joins.intervalJoin(a, b, "a_s", "a_e", "b_s", "b_e",
        binWidth = 200L, extraKeys = Seq("a_key" -> "b_key"))
    val expected = a.join(b, col("a_key") === col("b_key") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.select("a_id", "b_id").as[(Long, Long)].collect().toSet === expected)
    assert(expected.nonEmpty)
    // first-shared-bin crediting: no duplicate pairs, no distinct needed
    assert(got.count() === expected.size)
    // and the plan is an equi-join, never a nested loop
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested-loop plan:\n$plan")
  }

  test("rangeJoin plans as an equi-join on the bin, never a nested loop") {
    import spark.implicits._
    val points = (0L until 100L).map(i => (i, i * 7L)).toDF("p_id", "p")
    val intervals = (0L until 10L).map(i => (i, i * 50L, i * 50L + 30L))
      .toDF("i_id", "s", "e")
    val plan = Joins.rangeJoin(points, intervals, "p", "s", "e", 64L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested-loop plan:\n$plan")
  }

  test("rangeJoin rejects overlapping column names and non-positive bins") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Joins.rangeJoin(df, df.withColumnRenamed("a", "c"), "a", "b", "c", 10L)
    }
    intercept[IllegalArgumentException] {
      Joins.rangeJoin(df, df.toDF("c", "d"), "a", "c", "d", 0L)
    }
  }

  test("bloomSemiJoin == plain semi join; the probe prunes before the join") {
    import SparkTestSession.table
    import spark.implicits._
    val li = table("lineitem")
    val o = table("orders").where(col("o_totalprice") > 400000.0)
    val got = Joins.bloomSemiJoin(li, "l_orderkey", o, "o_orderkey",
      expectedKeys = 10000L, fpp = 0.01)
    val plain = li.join(o.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    // exactness: identical multiset despite Bloom false positives
    assert(got.exceptAll(plain).count() === 0 && plain.exceptAll(got).count() === 0)
    assert(got.count() === plain.count() && plain.count() > 0)
    // the probe really is in the plan (a codegen'd filter, not a UDF)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloommightcontain"),
      s"no Bloom probe in plan:\n$plan")
    // the sketch prunes hard on a selective dim side: the probe alone
    // admits at most matches + fpp-slack of the fact table
    val matchKeys = o.select("o_orderkey").as[Long].collect().toSet
    val bf = o.stat.bloomFilter(col("o_orderkey"), 10000L, 0.01)
    val admitted = li.where(
      graft.expressions.BloomFunctions.bloom_might_contain(col("l_orderkey"), bf))
      .count()
    val trueMatches = li.where(
      col("l_orderkey").isInCollection(matchKeys)).count()
    assert(admitted >= trueMatches)
    assert(admitted <= trueMatches + (li.count() * 0.05).toLong,
      s"bloom admitted $admitted vs $trueMatches true matches")
    // non-integral keys are rejected loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      li.where(graft.expressions.BloomFunctions.bloom_might_contain(
        col("l_returnflag"), bf)).collect()
    }
  }

  test("bloomAntiJoin == plain anti join; NULL keys take the direct path") {
    import SparkTestSession.table
    import spark.implicits._
    val li = table("lineitem")
    val o = table("orders").where(col("o_totalprice") > 400000.0)
    val got = Joins.bloomAntiJoin(li, "l_orderkey", o, "o_orderkey",
      expectedKeys = 10000L, fpp = 0.01)
    val plain = li.join(o.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_anti")
    assert(got.exceptAll(plain).count() === 0 && plain.exceptAll(got).count() === 0)
    assert(got.count() === plain.count() && plain.count() > 0)
    // NULL fact keys never match: SQL anti semantics keeps them, and the
    // coalesce routes them down the no-join path
    val fact = Seq(Some(1L), Some(2L), None).toDF("k")
    val dim = Seq(1L).toDF("d")
    val anti = Joins.bloomAntiJoin(fact, "k", dim, "d", 100L, 0.01)
      .select("k").collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(anti.sorted.toSeq === Seq(-1L, 2L))
    // non-integral keys are rejected at the OPERATOR boundary (a silent
    // cast would NULL string keys and break the exactness contract)
    intercept[IllegalArgumentException] {
      Joins.bloomAntiJoin(li, "l_returnflag", o, "o_orderkey", 100L, 0.01)
    }
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(li, "l_orderkey", o, "o_orderstatus", 100L, 0.01)
    }
  }

  test("applyChangelog: latest upsert wins, latest delete removes the key, ties by id") {
    import SparkTestSession.spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val log = Seq(
      // key 1: upsert then later upsert - latest value wins
      (1L, 1L, ts(0), "upsert", 10.0),
      (2L, 1L, ts(5), "upsert", 20.0),
      // key 2: upsert then later delete - key absent
      (3L, 2L, ts(0), "upsert", 30.0),
      (4L, 2L, ts(5), "delete", 0.0),
      // key 3: delete then later upsert - resurrection, key present
      (5L, 3L, ts(0), "delete", 0.0),
      (6L, 3L, ts(5), "upsert", 40.0),
      // key 4: same timestamp twice - the higher event_id wins
      (7L, 4L, ts(1), "upsert", 50.0),
      (8L, 4L, ts(1), "upsert", 60.0)
    ).toDF("event_id", "user_id", "ts", "op", "value")
    val out = EventLog.applyChangelog(log, "user_id", "ts", "event_id",
        "op", "delete", payload = Seq("value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(4))).toMap
    assert(out === Map(1L -> (2L, 20.0), 3L -> (6L, 40.0), 4L -> (8L, 60.0)))
    // the plan is a partial aggregate, never a window over the log
    val plan = EventLog.applyChangelog(log, "user_id", "ts", "event_id",
      "op", "delete", payload = Seq("value")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(600))
  }
}
