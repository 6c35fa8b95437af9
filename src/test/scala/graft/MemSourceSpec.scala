package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dsl.Dsl._
import graft.operators.Joins
import graft.channel.ReadMode
import graft.sources.mem.{MemAgg, MemScan, MemStore}

/** DSv2 connector spec — replicates the reference's embedded-store test
  * setup (mongo-java-server fixtures, SURVEY.md §5): langs (5 dims) ×
  * programmers (100 facts, random FK) with the exact cardinality oracle of
  * JoinMongoSpec.scala:75, plus proof that filters and projection reach the
  * store (the reference's pushdown contract). */
class MemSourceSpec extends AnyFunSuite {
  import SparkTestSession.{scansDuring, spark}

  val fmt = "graft.sources.mem.GraftMemSource"

  def seed(): Unit = {
    import spark.implicits._
    val langs = Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "ObjectiveC", 10),
      (3, "Scala", 90), (4, "Groovy", 50))
      .toDF("index", "name", "popularity_factor")
    val rnd = new scala.util.Random(42)
    val programmers = (1 to 100)
      .map(i => (s"dev_$i", rnd.nextInt(5)))
      .toDF("name", "lang")
    MemStore.register("langs", langs)
    MemStore.register("programmers", programmers)
  }
  seed()

  def load(c: String) = spark.read.format(fmt).option("collection", c).load()

  /** The filters the scans' cursors ran, rendered. */
  def pushed(scans: Seq[MemScan]): Seq[String] =
    scans.flatMap(_.cursorSpec.filters).map(_.toString)

  test("two scans of one collection in one query each carry their own pushed filter") {
    // a union of two differently filtered reads of the same collection:
    // each executed scan holds its own filter, side by side
    val (n, scans) = scansDuring("programmers") {
      load("programmers").where(col("lang") === 1)
        .union(load("programmers").where(col("lang") === 3)).count()
    }
    assert(n === MemStore.rowsOf("programmers").count(r => r.getInt(1) == 1 || r.getInt(1) == 3))
    val filters = scans.map(s => pushed(Seq(s)).filter(_.startsWith("EqualTo(")).toSet)
    assert(filters.toSet === Set(Set("EqualTo(lang,1)"), Set("EqualTo(lang,3)")), filters)
  }

  test("a nested field read over a struct column returns that field, over the mem and wire clients") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val inner = StructType(Seq(StructField("x", StringType), StructField("a", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row("x1", "a1")), Row(2L, Row("x2", "a2"))),
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType), StructField("s", inner))))
    MemStore.register("nested_s", df)
    val server = graft.sources.mem.MemWireServer.start()
    try {
      val wire = spark.read.format(fmt).option("collection", "nested_s")
        .option("client", "wire").option("port", server.port.toString).load()
      for (scan <- Seq(load("nested_s"), wire)) {
        def read(q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
          q(scan).collect().map(_.getString(0)).sorted.toSeq
        assert(read(_.select("s.a")) === Seq("a1", "a2"))
        assert(read(_.select("s.x")) === Seq("x1", "x2"))
        assert(read(_.where(col("id") === 2L).select(col("s.a"))) === Seq("a2"))
      }
    } finally server.close()
  }

  test("scan reads all documents") {
    assert(load("langs").count() === 5)
    assert(load("programmers").count() === 100)
  }

  test("J1 on the connector: langs ⋈ programmers == 100 rows (reference JoinMongoSpec oracle)") {
    val langs = load("langs")
    val programmers = load("programmers")
    // mapper projection (P16): programmer name + language name, like the
    // reference's mapper(outer, inner)
    val joined = Joins.inner(langs, "index", programmers, "lang")
      .select(programmers("name").as("programmer"), langs("name").as("language"))
    assert(joined.count() === 100)
  }

  test("filters are pushed to the store (reference pushdown contract)") {
    val (got, scans) = scansDuring("langs") {
      load("langs").where(("index" $gte 2 $lte 3).column)
        .select("name").collect().map(_.getString(0)).toSet
    }
    assert(got === Set("ObjectiveC", "Scala"))
    val filters = pushed(scans).mkString(" ")
    assert(filters.contains("GreaterThanOrEqual") && filters.contains("LessThanOrEqual"),
      s"expected range filters pushed, got: $filters")
  }

  test("projection is pruned at the store (column pruning)") {
    val df = load("programmers").select("lang")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(df.columns.toSeq === Seq("lang"))
    assert(df.distinct().count() === 5)
    // the scan itself reads only the pruned schema
    assert(scanDesc.contains("graft-mem:programmers"))
    assert(!scanDesc.contains("name"), s"scan should not read 'name':\n${scanDesc.take(800)}")
  }

  test("unsupported filters stay Spark-side (residual Filter node)") {
    // string EndsWith is not in the store's supported set
    val (n, scans) = scansDuring("programmers") {
      load("programmers").where(col("name").endsWith("_7")).count()
    }
    assert(n === 1)
    assert(!pushed(scans).exists(_.contains("EndsWith")),
      s"EndsWith must not be pushed: ${pushed(scans)}")
  }

  test("T4 error injection: cursor-creation failure surfaces as query failure (reference MongoObsCursorError)") {
    import spark.implicits._
    MemStore.register("failing_cursor", Seq((1, "a")).toDF("id", "v"))
    MemStore.failureModes("failing_cursor") = MemStore.CursorError
    try {
      val e = intercept[org.apache.spark.SparkException] {
        load("failing_cursor").collect()
      }
      assert(e.getMessage.contains("injected") ||
        Option(e.getCause).exists(_.getMessage.contains("injected")))
    } finally MemStore.failureModes.remove("failing_cursor")
  }

  test("T4 error injection: mid-fetch failure surfaces, never silent truncation (reference MongoObsFetchError)") {
    import spark.implicits._
    MemStore.register("failing_fetch", (1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    MemStore.failureModes("failing_fetch") = MemStore.FetchError(afterRows = 3)
    try {
      val e = intercept[org.apache.spark.SparkException] {
        load("failing_fetch").collect()
      }
      assert(e.getMessage.contains("injected") ||
        Option(e.getCause).exists(_.getMessage.contains("injected")))
    } finally MemStore.failureModes.remove("failing_fetch")
  }

  test("O4 maxTimeMS: observed store-side; exceeded deadline fails the query, never truncates") {
    // generous deadline: completes, option reaches the store
    val (n, scans) = scansDuring("programmers") {
      spark.read.format(fmt).option("collection", "programmers")
        .option("maxTimeMS", "60000").load().count()
    }
    assert(n === 100)
    assert(scans.forall(_.maxTimeMs.contains(60000L)), scans.map(_.maxTimeMs))
    // maxTimeMS=0 means UNBOUNDED (MongoDB cursor semantics) — must
    // complete, and the option still reaches the store
    val (n0, scans0) = scansDuring("programmers") {
      spark.read.format(fmt).option("collection", "programmers")
        .option("maxTimeMS", "0").load().count()
    }
    assert(n0 === 100)
    // the scan DID carry its options, and 0 was interpreted as "no
    // deadline" — no maxTimeMS, rather than a 0ms one
    assert(scans0.forall(_.readPreference.render == "primary"))
    assert(scans0.forall(_.maxTimeMs.isEmpty), scans0.map(_.maxTimeMs))
    // tiny positive deadline + injected per-fetch latency: the first
    // fetch alone exceeds it deterministically → query error, not a
    // truncated result
    MemStore.failureModes("programmers") = MemStore.SlowFetch(50)
    try {
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format(fmt).option("collection", "programmers")
          .option("maxTimeMS", "5").load().collect()
      }
      assert(e.getMessage.contains("maxTimeMS") ||
        Option(e.getCause).exists(_.getMessage.contains("maxTimeMS")))
    } finally MemStore.failureModes.remove("programmers")
  }

  test("O4/T4 a pushed aggregate honours maxTimeMS and the injected failure modes") {
    // count() pushes a partial count(*) to the store: its cursors go
    // through the same reader as the row path, deadline and faults included
    def cause(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    MemStore.failureModes("programmers") = MemStore.SlowFetch(50)
    try {
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format(fmt).option("collection", "programmers")
          .option("maxTimeMS", "5").load().count()
      }
      assert(cause(e).contains("maxTimeMS"), cause(e))
    } finally MemStore.failureModes.remove("programmers")
    MemStore.failureModes("programmers") = MemStore.CursorError
    try {
      val e = intercept[org.apache.spark.SparkException] { load("programmers").count() }
      assert(cause(e).contains("injected"), cause(e))
    } finally MemStore.failureModes.remove("programmers")
    val (n, scans) = scansDuring("programmers")(load("programmers").count())
    assert(n === 100)
    assert(scans.forall(_.spec.agg.isDefined), "count() must push the aggregate")
  }

  test("T7 readPreference: recorded store-side like a driver would route it") {
    val (n, scans) = scansDuring("langs") {
      spark.read.format(fmt).option("collection", "langs")
        .option("readPreference", "secondaryPreferred").load().count()
    }
    assert(n === 5)
    assert(scans.forall(_.readPreference.render == "secondaryPreferred"))
    // default when unspecified: primary
    val (nd, scansd) = scansDuring("langs")(load("langs").count())
    assert(nd === 5)
    assert(scansd.forall(_.readPreference.render == "primary"))
    // full reference surface (mongo/package.scala:24-54): tagged preference
    // is validated, normalized, and parsed into routing metadata
    val (nt, tagged) = scansDuring("langs") {
      spark.read.format(fmt).option("collection", "langs")
        .option("readPreference", "secondaryPreferred[dc=east,rack=r1;dc=west]")
        .load().count()
    }
    assert(nt === 5)
    tagged.map(_.readPreference).foreach { rp =>
      assert(rp.render === "secondaryPreferred[dc=east,rack=r1;dc=west]")
      assert(rp.mode === ReadMode.Secondary)
      assert(rp.preferred)
      assert(rp.tagSets.map(_.render).mkString(";") === "dc=east,rack=r1;dc=west")
    }
    // invalid mode / the reference's rejected combination fail before any
    // job runs (IllegalArgumentException at scan build)
    assertThrows[IllegalArgumentException] {
      spark.read.format(fmt).option("collection", "langs")
        .option("readPreference", "bogus").load().collect()
    }
    assertThrows[IllegalArgumentException] {
      spark.read.format(fmt).option("collection", "langs")
        .option("readPreference", "primary[dc=east]").load().collect()
    }
  }

  test("unknown collection fails fast") {
    assertThrows[IllegalArgumentException] {
      spark.read.format(fmt).option("collection", "nope").load()
    }
  }

  test("$or / $not evaluate store-side (reference mongo/package.scala:109-115)") {
    val (n, scans) = scansDuring("programmers") {
      load("programmers").where(col("lang") === 1 || col("lang") === 3).count()
    }
    assert(pushed(scans).exists(_.startsWith("Or(")), s"expected Or pushed, got: ${pushed(scans)}")
    // correctness vs the registered data itself
    val expected = MemStore.rowsOf("programmers")
      .count(r => r.getInt(1) == 1 || r.getInt(1) == 3)
    assert(n === expected)
    // Not: a store-side negation, not a client-side residual
    val (m, scans2) = scansDuring("programmers") {
      load("programmers").where(!(col("lang") === 2)).count()
    }
    assert(pushed(scans2).exists(p => p.contains("Not(") || p.contains("!=")),
      s"expected a negation pushed, got: ${pushed(scans2)}")
    assert(m === MemStore.rowsOf("programmers").count(_.getInt(1) != 2))
  }

  test("limit pushdown: the store serves at most limit rows per cursor (reference storage.scala:320-324)") {
    val (got, scans) = scansDuring("programmers")(load("programmers").limit(7).collect())
    assert(got.length === 7)
    assert(scans.forall(_.spec.limit.contains(7)), s"limit not pushed: ${scans.map(_.spec.limit)}")
    // 4 store partitions × ≤7 rows each — far below the 100-row collection
    val served = MemStore.served.get("programmers").map(_.get()).getOrElse(-1L)
    assert(served > 0 && served <= 28, s"store served $served rows under limit 7")
  }

  test("top-n pushdown: cursor-side sort + limit, exact global result") {
    val (got, scans) = scansDuring("programmers") {
      load("programmers").orderBy(col("name").desc).limit(5)
        .collect().map(_.getString(0)).toSeq
    }
    val expected = MemStore.rowsOf("programmers").map(_.getString(0))
      .sorted(Ordering[String].reverse).take(5).toSeq
    assert(got === expected)
    scans.map(_.spec).foreach { spec =>
      assert(spec.topN === Seq(("name", true)) && spec.limit.contains(5),
        s"topN not pushed: keys=${spec.topN} n=${spec.limit}")
    }
    val served = MemStore.served.get("programmers").map(_.get()).getOrElse(-1L)
    assert(served > 0 && served <= 20, s"store served $served rows under topN 5")
  }

  test("top-n pushdown declines computed sort keys; result stays exact") {
    val (got, scans) = scansDuring("programmers") {
      load("programmers").orderBy((col("lang") + 1).desc, col("name"))
        .limit(3).collect().map(_.getString(0)).toSeq
    }
    val expected = MemStore.rowsOf("programmers")
      .map(r => (r.getInt(1), r.getString(0)))
      .sortBy { case (l, nm) => (-l, nm) }.take(3).map(_._2).toSeq
    assert(got === expected)
    assert(scans.forall(_.spec.topN.isEmpty), "computed sort key must not be pushed")
  }

  test("offset (skip) pushdown: one global cursor, exact paging with sort+limit") {
    // plain skip: the store applies it exactly (no partial-push contract
    // for offset), so the scan collapses to one cursor partition
    val skipped = load("programmers").offset(90)
    val (n, scans) = scansDuring("programmers")(skipped.count())
    assert(n === 10)
    assert(scans.forall(_.spec.offset == 90), s"offset not pushed: ${scans.map(_.spec.offset)}")
    assert(skipped.rdd.getNumPartitions === 1,
      "a pushed offset requires the single-cursor plan")
    // the reference's full cursor triple sort+skip+limit as one page:
    // the SORT and LIMIT reach the cursor (pushed topN); the skip stays
    // Spark-side here BY DESIGN — DSv2 only pushes an offset past a
    // FULLY-pushed sort (no partial-push contract for offset), and our
    // topN is partially pushed so each shard cursor can prune in
    // parallel. Result is exact either way.
    val (page, pageScans) = scansDuring("programmers") {
      load("programmers").orderBy(col("name")).offset(3).limit(5)
        .collect().map(_.getString(0)).toSeq
    }
    val expected = MemStore.rowsOf("programmers").map(_.getString(0))
      .sorted.slice(3, 8).toSeq
    assert(page === expected)
    pageScans.map(_.spec.topN).foreach { keys =>
      assert(keys === Seq(("name", false)), s"paging sort must reach the cursor: $keys")
    }
  }

  test("store-reported statistics let Spark broadcast a connector dimension") {
    import spark.implicits._
    MemStore.register("stats_dim", (0 until 20).map(i => (i, s"d$i")).toDF("dk", "dv"))
    val fact = spark.range(0L, 20000L).select((col("id") % 20).cast("int").as("fk"))
    val joined = fact.join(load("stats_dim"), col("fk") === col("dk"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"20-row store relation with reported stats must broadcast:\n${plan.take(1200)}")
    assert(joined.count() === 20000L)
  }

  test("O5 declared clustering order elides the per-partition sort") {
    import spark.implicits._
    val sorted = (0 until 100).map(i => (f"k$i%03d", i)).toDF("name", "v")
    MemStore.register("clustered", sorted)
    val ordered = spark.read.format(fmt).option("collection", "clustered")
      .option("orderedBy", "name").load()
      .sortWithinPartitions("name")
    val planOrdered = ordered.queryExecution.executedPlan.toString
    assert(!planOrdered.contains("Sort "),
      s"declared clustering order must elide the sort:\n${planOrdered.take(1200)}")
    // rows really are served in order within each cursor
    assert(ordered.collect().map(_.getString(0)).toSeq.sliding(2).forall {
      case Seq(a, b) => a <= b; case _ => true })
    // without the declaration the sort stays
    val undeclared = load("clustered").sortWithinPartitions("name")
    assert(undeclared.queryExecution.executedPlan.toString.contains("Sort "),
      "undeclared order must keep the sort")
  }

  test("runtime (DPP-style) filtering reaches the store at execution") {
    import spark.implicits._
    MemStore.register("rt_fact",
      (0 until 1000).map(i => (i % 50, s"p$i")).toDF("k", "payload"))
    MemStore.register("rt_dim",
      (0 until 50).map(i => (i, s"b${i % 10}")).toDF("dk", "bucket"))
    // selective dim filter + equi-join: Spark injects the dim's keys into
    // the fact scan at execution (SupportsRuntimeFiltering). The dim
    // predicate must NOT be store-pushable (endsWith is outside
    // MemStore.supported): a fully absorbed filter leaves no Filter node
    // for the DPP rule's selectivity check — same reason file-source DPP
    // keys off post-scan dim filters.
    val (n, scans) = scansDuring("rt_fact") {
      load("rt_fact")
        .join(load("rt_dim").where(col("bucket").endsWith("3")),
          col("k") === col("dk"))
        .count()
    }
    assert(n === 100, s"5 dim keys x 20 fact rows each, got $n")
    assert(pushed(scans).exists(f => f.startsWith("In(") || f.contains("k")),
      s"expected a runtime key filter store-side, got: ${pushed(scans)}")
  }

  test("aggregate pushdown: partial group-by served cursor-side, exact merge") {
    val raw = MemStore.rowsOf("programmers").map(r => (r.getInt(1), r.getString(0)))
    val expected = raw.groupBy(_._1).map { case (k, vs) =>
      k -> (vs.length.toLong, vs.map(_._2).max) }
    val (gotTriples, scans) = scansDuring("programmers") {
      load("programmers").groupBy("lang")
        .agg(count(lit(1)).as("n"), max(col("name")).as("mx"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    }
    assert(gotTriples === expected)
    scans.map(_.spec.agg.fold((Seq.empty[String], Seq.empty[String])) {
      case (g, fs) => (g, fs.map(MemAgg.render)) }).foreach { case (g, fs) =>
      assert(g === Seq("lang") && fs.exists(_.startsWith("count")) &&
        fs.exists(_.startsWith("max")), s"agg not pushed: groups=$g funcs=$fs")
    }
    // the store shipped partials (≤ 4 slices × 5 langs), not 100 rows
    val served = MemStore.served.get("programmers").map(_.get()).getOrElse(-1L)
    assert(served > 0 && served <= 20, s"store served $served partial rows")
  }

  test("aggregate pushdown: global aggregates, empty-store count is 0 not NULL") {
    import spark.implicits._
    val (row, scans) = scansDuring("programmers") {
      load("programmers")
        .agg(count(lit(1)).as("n"), sum(col("lang")).as("s"), min(col("name")).as("mn"))
        .head()
    }
    val raw = MemStore.rowsOf("programmers")
    assert(row.getLong(0) === raw.length.toLong)
    assert(row.getLong(1) === raw.map(_.getInt(1).toLong).sum)
    assert(row.getString(2) === raw.map(_.getString(0)).min)
    assert(scans.forall(_.spec.agg.isDefined))
    // empty store: a pushed global count must still be 0 (each cursor
    // ships one partial row even when its slice is empty)
    MemStore.register("agg_empty", Seq.empty[(Int, String)].toDF("id", "v"))
    val e = spark.read.format(fmt).option("collection", "agg_empty").load()
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn")).head()
    assert(e.getLong(0) === 0L && e.isNullAt(1))
    // DISTINCT declines pushdown but stays exact via the row path
    val (d, distinctScans) = scansDuring("programmers") {
      load("programmers").agg(countDistinct(col("lang"))).head().getLong(0)
    }
    assert(d === 5L)
    assert(distinctScans.forall(_.spec.agg.isEmpty), "distinct aggregates must not push")
  }

  test("table-sample pushdown: the cursor ships only the sampled fraction") {
    import spark.implicits._
    MemStore.register("sample_big",
      (0 until 2000).map(i => (i, s"row$i")).toDF("id", "v"))
    val (rows, scans) = scansDuring("sample_big") {
      spark.read.format(fmt).option("collection", "sample_big").load()
        .sample(withReplacement = false, 0.2, seed = 7L).collect()
    }
    val n = rows.length.toLong
    // Bernoulli(0.2) over 2000 rows: well inside ±5 sigma
    assert(n > 280 && n < 520, s"sampled count $n far from 400")
    scans.foreach { scan =>
      val (lo, hi, _) = scan.spec.sample.getOrElse((-1.0, -1.0, 0L))
      assert(lo === 0.0 && hi === 0.2, s"sample not pushed: ($lo, $hi)")
      // and explain shows it on the scan
      assert(scan.description().contains("PushedSample: [0.0, 0.2) seed 7"), scan.description())
    }
    // the STORE served only the sampled rows, not 2000
    val served = MemStore.served.get("sample_big").map(_.get()).getOrElse(-1L)
    assert(served === n, s"store served $served, emitted $n")
    // determinism: same seed, same rows
    val again = spark.read.format(fmt).option("collection", "sample_big").load()
      .sample(withReplacement = false, 0.2, seed = 7L).collect()
    assert(again.map(_.getInt(0)).toSeq === rows.map(_.getInt(0)).toSeq)
    // sample COMPOSES with aggregate pushdown: count() over the sample
    // ships per-cursor partial counts (4 rows), not the sampled rows
    val cnt = spark.read.format(fmt).option("collection", "sample_big").load()
      .sample(withReplacement = false, 0.2, seed = 7L).count()
    assert(cnt === n)
    val servedAgg = MemStore.served.get("sample_big").map(_.get()).getOrElse(-1L)
    assert(servedAgg <= 4, s"sampled count should ship partials, served $servedAgg")
    // with-replacement has no cursor analog: declines, result still valid
    val (_, replaced) = scansDuring("sample_big") {
      spark.read.format(fmt).option("collection", "sample_big").load()
        .sample(withReplacement = true, 0.2, seed = 7L).count()
    }
    assert(replaced.forall(_.spec.sample.isEmpty))
  }

  test("join pushdown: two collections join INSIDE the store, no Spark join node") {
    import spark.implicits._
    MemStore.register("jp_langs", Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "ObjectiveC", 10),
      (3, "Scala", 90), (4, "Groovy", 50))
      .toDF("index", "lname", "popularity_factor"))
    MemStore.register("jp_devs",
      (1 to 100).map(i => (s"dev_$i", i % 5)).toDF("dname", "lang"))
    val prev = spark.conf.getOption("spark.sql.optimizer.datasourceV2JoinPushdown")
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try {
      val langs = load("jp_langs").where(col("popularity_factor") >= 20)
      val devs = load("jp_devs")
      val joined = devs.join(langs, col("lang") === col("index"))
        .select(col("dname"), col("lname"))
      val plan = joined.queryExecution.executedPlan.toString
      // client-side recompute from the registered rows
      val keep = MemStore.rowsOf("jp_langs")
        .filter(_.getInt(2) >= 20).map(r => r.getInt(0) -> r.getString(1)).toMap
      val expected = MemStore.rowsOf("jp_devs")
        .flatMap(r => keep.get(r.getInt(1)).map(l => (r.getString(0), l))).toSet
      val got = joined.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === expected && got.nonEmpty)
      // the join disappeared from the Spark plan: ONE scan serves it
      assert(!plan.contains("Join"),
        s"pushed join must leave no Spark join node:\n${plan.take(1200)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", v)
        case None => spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      }
    }
  }

  test("S3/S4 streaming offset resume over the store: startOffset honored, restart exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val coll = "stream_resume_spec"
    val part1 = (0 until 30).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val part2 = (30 until 45).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    MemStore.register(coll, part1)
    val ckpt = java.nio.file.Files.createTempDirectory("memresume-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("memresume-out").toString
    def incarnation(): Unit = {
      val src = spark.readStream.format(fmt)
        .option("collection", coll).option("startOffset", "10").load()
      val q = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    incarnation()
    val first = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
    assert(first.toSeq === (10L until 30L), "startOffset must skip the first 10 rows")
    MemStore.append(coll, part2) // the log grows while the stream is down
    incarnation()
    val all = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
    // exactly-once: appended rows exactly once, no old offsets re-read
    assert(all.toSeq === (10L until 45L))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(ckpt))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(out))
  }

  test("NESTED join pushdown: a 3-collection chain collapses into ONE scan (r12)") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.optimizer.datasourceV2JoinPushdown")
    try {
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      MemStore.register("jp3_region",
        Seq((0, "emea"), (1, "apac")).toDF("rid", "rname"))
      MemStore.register("jp3_team",
        Seq((10, 0, "core"), (11, 1, "infra"), (12, 0, "ml"))
          .toDF("tid", "t_rid", "tname"))
      val rnd = new scala.util.Random(7)
      MemStore.register("jp3_member",
        (1 to 60).map(i => (s"m_$i", 10 + rnd.nextInt(3)))
          .toDF("mname", "m_tid"))
      val joined = load("jp3_member").alias("m")
        .join(load("jp3_team").alias("t"), col("m.m_tid") === col("t.tid"))
        .join(load("jp3_region").alias("r"), col("t.t_rid") === col("r.rid"))
        .select(col("m.mname"), col("t.tname"), col("r.rname"))
      // oracle: recompute client-side from the registered arrays
      val teams = MemStore.rowsOf("jp3_team")
        .map(r => r.getInt(0) -> (r.getInt(1), r.getString(2))).toMap
      val regions = MemStore.rowsOf("jp3_region")
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      val want = MemStore.rowsOf("jp3_member").map { r =>
        val (rid, tname) = teams(r.getInt(1))
        (r.getString(0), tname, regions(rid))
      }.sorted.toSeq
      val got = joined.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(got === want && got.size === 60)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"3-way chain must fully push (no Spark join node):\n${plan.take(1000)}")
      assert(plan.count(_ == '⋈') >= 2,
        s"the scan description should show the nested store tree:\n${plan.take(1000)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", v)
        case None => spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      }
    }
  }

  test("cross-client join is NOT pushed (a store only joins its own collections)") {
    val prev = spark.conf.getOption("spark.sql.optimizer.datasourceV2JoinPushdown")
    try {
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      val mem = load("langs")
      val pq = spark.read.format(fmt)
        .option("collection", "nation")
        .option("client", "parquet").option("path", SparkTestSession.sfDir)
        .load()
      val j = mem.join(pq, mem("index") === pq("n_regionkey"))
      // result stays correct; the join simply runs Spark-side
      assert(j.count() ===
        spark.read.parquet(s"${SparkTestSession.sfDir}/nation.parquet")
          .where(col("n_regionkey") < 5).count())
      assert(j.queryExecution.executedPlan.toString.contains("Join"),
        "cross-client joins must stay Spark-side")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", v)
        case None => spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
      }
    }
  }

  test("keyed streaming offsets: each key resumes at its OWN checkpointed rank (exactly-once)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val coll = "keyed_resume_spec"
    // asymmetric keys — a global row index would resume both keys at the
    // same position and corrupt whichever key is shorter
    val part1 =
      ((0 until 30).map(i => ("log-a", i.toLong)) ++
        (0 until 8).map(i => ("log-b", i.toLong)))
        .sortBy(_._2).toDF("pkey", "seq") // interleaved registration order
    val part2 =
      ((30 until 35).map(i => ("log-a", i.toLong)) ++
        (8 until 20).map(i => ("log-b", i.toLong)))
        .sortBy(_._2).toDF("pkey", "seq")
    MemStore.register(coll, part1)
    val ckpt = java.nio.file.Files.createTempDirectory("memkeyed-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("memkeyed-out").toString
    def incarnation(): Unit = {
      val src = spark.readStream.format(fmt)
        .option("collection", coll)
        .option("keyColumn", "pkey").option("startOffset", "5").load()
      val q = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    incarnation()
    val first = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    // startOffset=5 applies PER KEY: each key skips ITS first 5 ranks
    val want1 = ((5 until 30).map(i => ("log-a", i.toLong)) ++
      (5 until 8).map(i => ("log-b", i.toLong))).sorted
    assert(first.toSeq === want1, "per-key startOffset must skip each key's prefix")
    MemStore.append(coll, part2) // both logs grow while the stream is down
    incarnation()
    val all = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val want2 = ((5 until 35).map(i => ("log-a", i.toLong)) ++
      (5 until 20).map(i => ("log-b", i.toLong))).sorted
    // exactly-once per key: log-a resumes at rank 30, log-b at rank 8 —
    // no re-reads, no skips, despite the asymmetric appends
    assert(all.toSeq === want2)
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(ckpt))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(out))
  }

  test("MemKeyedOffset json round-trips keys with quotes, backslashes, control chars") {
    import graft.sources.mem.MemKeyedOffset
    val o = MemKeyedOffset(Map("plain" -> 3L, "qu\"ote" -> 5L,
      "back\\slash" -> 7L, "ctlkey" -> 11L))
    val parsed = MemKeyedOffset.parse(o.json())
    assert(parsed === o)
    // the checkpointed form, byte for byte: sorted keys, escaped
    assert(o.json() === "{\"back\\\\slash\":7,\"ctl\\u0001key\":11,\"plain\":3,\"qu\\\"ote\":5}")
    assert(MemKeyedOffset.parse(MemKeyedOffset(Map.empty).json()) ===
      MemKeyedOffset(Map.empty))
  }

  test("pushed Not / NOT IN over a NULLABLE column keep SQL three-valued logic (ADVICE r11)") {
    // rows with NULL rating: col =!= v and NOT IN must FILTER them (SQL
    // UNKNOWN), which two-valued store eval got wrong (Not(false) = true)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rating",
        org.apache.spark.sql.types.IntegerType, nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row("a", Int.box(1)),
      org.apache.spark.sql.Row("b", Int.box(2)),
      org.apache.spark.sql.Row("c", null),
      org.apache.spark.sql.Row("d", Int.box(3)),
      org.apache.spark.sql.Row("e", null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
    MemStore.register("nullable_ratings", df)
    df.createOrReplaceTempView("nullable_ratings_oracle")

    def viaStore(cond: org.apache.spark.sql.Column): (Set[String], Seq[MemScan]) =
      scansDuring("nullable_ratings") {
        load("nullable_ratings").where(cond)
          .select("name").collect().map(_.getString(0)).toSet
      }
    // col =!= v compiles to Not(EqualTo): NULL rows must NOT be served
    val (notEq, scans) = viaStore(col("rating") =!= 2)
    assert(notEq === Set("a", "d"))
    assert(pushed(scans).exists(p => p.contains("Not(") || p.contains("!=")),
      s"negation should be fully pushed, got: ${pushed(scans)}")
    // NOT IN: UNKNOWN for NULL attribute — only definite non-members pass
    assert(viaStore(!col("rating").isin(1, 3))._1 === Set("b"))
    // and the positive forms still see exactly the non-null matches
    assert(viaStore(col("rating").isin(1, 3))._1 === Set("a", "d"))
    assert(viaStore(not(col("rating") < 3))._1 === Set("d"))
  }

  test("StoreClient seam: parquet-backed client runs the same pushdown pipeline") {
    val dir = SparkTestSession.sfDir
    def viaClient = spark.read.format(fmt)
      .option("collection", "nation")
      .option("client", "parquet").option("path", dir)
      .load()
    // full scan equals the direct parquet read
    val direct = spark.read.parquet(s"$dir/nation.parquet")
    assert(viaClient.count() === direct.count())
    // filters still push (instrumentation is client-independent)
    val (got, scans) = scansDuring("nation") {
      viaClient.where(col("n_regionkey") === 0)
        .select("n_name").collect().map(_.getString(0)).toSet
    }
    val want = direct.where(col("n_regionkey") === 0)
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(got === want && got.nonEmpty)
    assert(pushed(scans).exists(_.contains("n_regionkey")),
      s"filter must reach the store through the parquet client: ${pushed(scans)}")
    // cursor TopN prunes through the client too
    val (top, topScans) = scansDuring("nation") {
      viaClient.orderBy(col("n_name")).limit(3)
        .collect().map(_.getString(1)).toSeq
    }
    assert(top === direct.collect().map(_.getString(1)).sorted.take(3).toSeq)
    assert(topScans.forall(_.spec.topN.nonEmpty), "TopN should push via the client")
    // unknown client name fails fast
    val e = intercept[Exception] {
      spark.read.format(fmt).option("collection", "nation")
        .option("client", "bogus").load()
    }
    assert(e.getMessage.contains("bogus"))
  }

  test("pushed TopN orders bigints above 2^53 exactly (ADVICE r11)") {
    import spark.implicits._
    // doubles collapse adjacent longs here: (base+1).toDouble == base.toDouble
    val base = (1L << 53) + 2L
    val ids = Seq(base + 1L, base, base + 3L, base - 7L, base + 2L)
    MemStore.register("big_ids",
      ids.zipWithIndex.map { case (v, i) => (v, s"r$i") }.toDF("id", "tag"))
    val (got, scans) = scansDuring("big_ids") {
      load("big_ids").orderBy(col("id").desc).limit(3)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(got === ids.sorted(Ordering[Long].reverse).take(3),
      s"store-side TopN must compare longs exactly, got $got")
    assert(scans.forall(s => s.spec.topN == Seq(("id", true)) && s.spec.limit.contains(3)),
      "TopN should be pushed")
  }

  test("store eval compares a long column against non-finite doubles (ADVICE r12)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import graft.sources.mem.{MemStoreClient, QuerySpec}
    // Spark never pushes a long column against a Double literal (it gives
    // both sides one type first), so the store refuses the pair with a
    // clear error, never a reader crash
    val schema = StructType(Seq(StructField("rid", LongType), StructField("l", LongType),
      StructField("d", DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(0L, 42L, 42.0),
      Row(1L, null, Double.PositiveInfinity), Row(2L, -7L, Double.NegativeInfinity),
      Row(3L, Long.MaxValue, Double.NaN)), schema)
    MemStore.register("nonfinite", df)
    def query(f: org.apache.spark.sql.sources.Filter) = MemStoreClient.query("nonfinite", 0, 4,
      QuerySpec(Seq(f), None, Nil, 0, None, Seq("rid"), countServed = false)).toSeq
    Seq(LessThan("l", Double.box(Double.PositiveInfinity)),
        GreaterThan("l", Double.box(Double.NegativeInfinity)),
        LessThan("l", Double.box(41.5))).foreach { f =>
      val e = intercept[IllegalArgumentException](query(f))
      assert(e.getMessage.contains("'l'") && e.getMessage.contains("bigint") &&
        e.getMessage.contains("java.lang.Double"), e.getMessage)
    }
    // and ±Infinity against a double column follows Spark, through the reader
    def rids(d: org.apache.spark.sql.DataFrame) = d.select("rid").collect().map(_.getLong(0)).sorted.toSeq
    Seq(col("d") < Double.PositiveInfinity, col("d") > Double.NegativeInfinity,
        col("d") >= Double.PositiveInfinity, col("d") === Double.NegativeInfinity).foreach { c =>
      assert(rids(load("nonfinite").where(c)) === rids(df.where(c)), s"$c")
    }
  }

  test("store eval of In is three-valued: NULL attr, hit, miss with NULL, plain miss") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.sources.{Filter, In, Not}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sources.mem.{MemStoreClient, QuerySpec}
    val schema = StructType(Seq(StructField("rid", LongType), StructField("k", LongType)))
    MemStore.register("in3", spark.createDataFrame(
      java.util.Arrays.asList(Row(0L, 7L), Row(1L, null)), schema))
    // a store cursor serves the rows a filter marks TRUE: TRUE is served
    // by f, FALSE by NOT f, UNKNOWN by neither
    def truth(rid: Long, f: Filter): Option[Boolean] = {
      def served(g: Filter) = MemStoreClient.query("in3", 0, 2,
        QuerySpec(Seq(g), None, Nil, 0, None, Seq("rid"), countServed = false))
        .map(_.getLong(0)).contains(rid)
      if (served(f)) Some(true) else if (served(Not(f))) Some(false) else None
    }
    val withNull = Array[Any](1L, null, 3L)
    assert(truth(1L, In("k", Array[Any](7L))) === None)
    assert(truth(0L, In("k", Array[Any](null, 7L))) === Some(true))
    assert(truth(0L, In("k", withNull)) === None)
    assert(truth(0L, In("k", Array[Any](1L, 3L))) === Some(false))
    assert(truth(0L, In("k", Array.empty[Any])) === Some(false))
  }

  /** Runs a store probe on the mem scan and on the parquet client's scan
    * of the same frame (written as one file, so its cursor order holds). */
  private def probe(coll: String, frame: org.apache.spark.sql.DataFrame)(
      check: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    MemStore.register(coll, frame)
    check(load(coll), coll, frame)
    val dir = java.nio.file.Files.createTempDirectory("store-probe")
    try {
      frame.coalesce(1).write.parquet(s"$dir/$coll.parquet")
      check(spark.read.format(fmt).option("collection", coll)
        .option("client", "parquet").option("path", dir.toString).load(), coll, frame)
    } finally graft.gates.GateSupport.deleteRecursively(dir)
  }

  test("store probe: a pushed >= over -0.0 keeps the -0.0 rows, as Spark does") {
    probe("probe_zero", StoreProbes.doubles(spark))(StoreProbes.negativeZero)
  }

  test("store probe: pushed = NaN and IN (0.0, NaN) match the NaN rows, as Spark does") {
    probe("probe_nan", StoreProbes.doubles(spark))(StoreProbes.nan)
  }

  test("store probe: pushed > and < on strings order by UTF-8 bytes around U+E000 and U+FFFF") {
    probe("probe_utf8", StoreProbes.strings(spark))(StoreProbes.utf8Order)
  }

  test("store probe: a pushed top-1 DESC on strings serves Spark's greatest string") {
    probe("probe_top", StoreProbes.strings(spark))(StoreProbes.topDesc)
  }

  test("store probe: a pushed max on strings merges to Spark's greatest string") {
    probe("probe_max", StoreProbes.strings(spark))(StoreProbes.maxString)
  }

  test("mem scan rows feed a shuffle and a sort-merge join intact") {
    // the reader hands Spark plain converted rows, not UnsafeRows: Spark
    // must project them before any exchange or sort buffers them
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val joined = load("programmers").as("p").join(load("langs").as("l"), col("lang") === col("index"))
        .select(col("p.name"), col("l.name"), col("popularity_factor"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("Exchange"), plan)
      val got = joined.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val langs = MemStore.rowsOf("langs").map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
      val want = MemStore.rowsOf("programmers").map { r =>
        val (name, pop) = langs(r.getInt(1)); (r.getString(0), name, pop)
      }.toSet
      assert(got.size === 100 && got === want)
    }
  }

  private def withSQLConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
