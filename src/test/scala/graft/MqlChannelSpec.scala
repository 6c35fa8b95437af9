package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.channel.Channel
import graft.mql.{MqlParseException, MqlParser}

class MqlChannelSpec extends AnyFunSuite {
  import SparkTestSession.{scansDuring, spark, table, sfDir}

  lazy val li = table("lineitem")

  test("MQL scalar equality and nested range object (implicit AND)") {
    val p = MqlParser.parse("""{ "l_returnflag": "A", "l_quantity": { "$gte": 10, "$lte": 15 } }""")
    val expected = li.where(
      col("l_returnflag") === "A" && col("l_quantity").between(10, 15)).count()
    assert(li.where(p.column).count() === expected && expected > 0)
  }

  test("MQL $or / $and arrays and $in/$nin") {
    val p = MqlParser.parse(
      """{ "$or": [ { "l_quantity": { "$gt": 48 } },
                    { "$and": [ { "l_returnflag": { "$in": ["A","R"] } },
                                { "l_quantity": { "$lt": 2 } } ] } ] }""")
    val expected = li.where(
      col("l_quantity") > 48 ||
        (col("l_returnflag").isin("A", "R") && col("l_quantity") < 2)).count()
    assert(li.where(p.column).count() === expected)
  }

  test("MQL date literal uses the reference format") {
    val p = MqlParser.parse("""{ "l_shipdate": { "$lt": "01 Jan 1996 12:00:00:000 AM UTC" } }""")
    val expected = li.where(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))).count()
    assert(li.where(p.column).count() === expected && expected > 0)
  }

  test("channel builder forwards maxTimeMS/readPreference to the connector store-side (O4/T7)") {
    import spark.implicits._
    import graft.sources.mem.MemStore
    MemStore.register("channel_langs", Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "Scala", 90))
      .toDF("index", "name", "popularity_factor"))
    val (got, scans) = scansDuring("channel_langs") {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 1 } }""")
        b.memCollection("channel_langs")
        b.sort("index" -> graft.dsl.Order.Ascending)
        b.maxTimeMS(60000L)
        b.readPreference("secondaryPreferred")
      }.select("name").collect().map(_.getString(0)).toSeq
    }
    assert(got === Seq("C++", "Scala"))
    assert(scans.forall(_.maxTimeMs.contains(60000L)))
    assert(scans.forall(_.readPreference.render == "secondaryPreferred"))
    // expired deadline propagates as query failure through the channel:
    // tiny positive deadline + injected per-fetch latency (maxTimeMS=0
    // means unbounded under MongoDB cursor semantics, so it cannot force
    // expiry any more)
    MemStore.failureModes("channel_langs") = MemStore.SlowFetch(50)
    try assertThrows[org.apache.spark.SparkException] {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 0 } }""")
        b.memCollection("channel_langs")
        b.maxTimeMS(5L)
      }.collect()
    } finally MemStore.failureModes.remove("channel_langs")
  }

  test("T7 typed read preference: tag sets recorded; invalid modes fail at build") {
    import graft.channel.{ReadMode, ReadPreference, ReplicaTagSet}
    val (_, scans) = scansDuring("channel_langs") {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 0 } }""")
        b.memCollection("channel_langs")
        b.readPreference(ReadPreference.Nearest.tags(
          List(ReplicaTagSet(List("dc" -> "east")))))
      }.collect()
    }
    scans.map(_.readPreference).foreach { rp =>
      assert(rp.render === "nearest[dc=east]")
      assert(rp.mode === ReadMode.Nearest)
      assert(rp.tagSets.map(_.render).mkString(";") === "dc=east")
    }
    // string path: an unknown mode is remembered and thrown at build —
    // the same deferred fail-fast as a bad MQL query — without planning
    val e = intercept[IllegalArgumentException] {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 0 } }""")
        b.memCollection("channel_langs")
        b.readPreference("sometimesPrimary")
      }
    }
    assert(e.getMessage.contains("sometimesPrimary"))
    // the reference's rejected combination travels the same path
    assertThrows[IllegalArgumentException] {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 0 } }""")
        b.memCollection("channel_langs")
        b.readPreference("primary[dc=east]")
      }
    }
  }

  test("MQL dotted paths address nested struct fields (reference dotted-field grammar)") {
    import spark.implicits._
    val nested = Seq((1, 30), (2, 15)).toDF("id", "age")
      .select(col("id"), struct(col("age")).as("user"))
    val p = MqlParser.parse("""{ "user.age": { "$gt": 18 } }""")
    assert(nested.where(p.column).select("id").collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("MQL syntax error fails fast") {
    assertThrows[MqlParseException](MqlParser.parse("""{ "l_quantity": { "$gte": } }"""))
  }

  test("MQL unsupported operator fails fast (e.g. $regex)") {
    assertThrows[MqlParseException](MqlParser.parse("""{ "l_quantity": { "$regex": "a.*" } }"""))
  }

  test("MQL $not composes over conditions with three-valued semantics") {
    // beyond the reference parser's own TODO (mqlparser/package.scala:98)
    val p = MqlParser.parse("""{ "l_quantity": { "$not": { "$gte": 10, "$lte": 15 } } }""")
    val expected = li.where(!col("l_quantity").between(10, 15)).count()
    assert(li.where(p.column).count() === expected && expected > 0)
    // nested $not cancels
    val p2 = MqlParser.parse(
      """{ "l_quantity": { "$not": { "$not": { "$gt": 40 } } } }""")
    assert(li.where(p2.column).count() === li.where(col("l_quantity") > 40).count())
  }

  test("MQL $exists maps presence to IS [NOT] NULL on a null-bearing column") {
    import spark.implicits._
    val df = Seq((1L, Some("en")), (2L, None), (3L, Some("de")))
      .toDF("id", "lang_opt")
    val yes = MqlParser.parse("""{ "lang_opt": { "$exists": true } }""")
    val no = MqlParser.parse("""{ "lang_opt": { "$exists": false } }""")
    assert(df.where(yes.column).select("id").as[Long].collect().sorted
      === Array(1L, 3L))
    assert(df.where(no.column).select("id").as[Long].collect() === Array(2L))
    // non-boolean $exists operand is a parse error
    assertThrows[MqlParseException](
      MqlParser.parse("""{ "lang_opt": { "$exists": 1 } }"""))
  }

  test("channel builder: missing collection / missing query fail like reference build()") {
    val e1 = intercept[IllegalArgumentException] {
      Channel.create(spark, sfDir)(b => b.q("""{ "l_quantity": 1 }"""))
    }
    assert(e1.getMessage.contains("Collection"))
    val e2 = intercept[IllegalArgumentException] {
      Channel.create(spark, sfDir)(b => b.collection("lineitem"))
    }
    assert(e2.getMessage.contains("Query"))
  }

  test("channel builder: bad MQL surfaces the stored parse error at build") {
    assertThrows[MqlParseException] {
      Channel.create(spark, sfDir) { b =>
        b.q("{ not valid json !!")
        b.collection("lineitem")
      }
    }
  }

  test("MQL $or reaches the store as a pushed Or filter (reference $or pushdown, mongo/package.scala:109-115)") {
    import spark.implicits._
    import graft.sources.mem.MemStore
    MemStore.register("or_langs", Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "ObjectiveC", 10),
      (3, "Scala", 90), (4, "Groovy", 50))
      .toDF("index", "name", "popularity_factor"))
    val (got, scans) = scansDuring("or_langs") {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "$or": [ { "index": { "$lte": 1 } },
                           { "popularity_factor": { "$gt": 80 } } ] }""")
        b.memCollection("or_langs")
      }.select("name").collect().map(_.getString(0)).toSet
    }
    assert(got === Set("Java", "C++", "Scala"))
    val pushed = scans.flatMap(_.cursorSpec.filters).map(_.toString)
    assert(pushed.exists(_.startsWith("Or(")),
      s"$$or must evaluate store-side, got: $pushed")
  }

  test("channel sort+limit reaches the store CURSOR through the builder (reference storage.scala:320-324)") {
    import spark.implicits._
    import graft.sources.mem.MemStore
    MemStore.register("cursor_langs", Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "ObjectiveC", 10),
      (3, "Scala", 90), (4, "Groovy", 50))
      .toDF("index", "name", "popularity_factor"))
    val (got, scans) = scansDuring("cursor_langs") {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "popularity_factor": { "$gte": 20 } }""")
        b.memCollection("cursor_langs")
        b.sort("popularity_factor" -> graft.dsl.Order.Descending)
        b.limit(2)
      }.select("name").collect().map(_.getString(0)).toSeq
    }
    assert(got === Seq("Scala", "Groovy"))
    // the full reference cursor shape arrived store-side: the sort AND
    // the limit ride the cursor (TopN pushdown), not the client
    scans.map(_.spec).foreach { spec =>
      assert(spec.topN === Seq(("popularity_factor", true)) && spec.limit.contains(2),
        s"channel sort/limit must reach the cursor: keys=${spec.topN} n=${spec.limit}")
    }
    val pushed = scans.flatMap(_.cursorSpec.filters).map(_.toString)
    assert(pushed.exists(_.contains("GreaterThanOrEqual")),
      s"the MQL filter must also ride the cursor: $pushed")
  }

  test("channel skip pushes to the store cursor on the unsorted path") {
    import spark.implicits._
    import graft.sources.mem.MemStore
    MemStore.register("skip_langs",
      (0 until 40).map(i => (i, s"lang_$i")).toDF("index", "name"))
    val (got, scans) = scansDuring("skip_langs") {
      Channel.create(spark, sfDir) { b =>
        b.q("""{ "index": { "$gte": 0 } }""")
        b.memCollection("skip_langs")
        b.skip(30)
      }.count()
    }
    assert(got === 10)
    assert(scans.forall(_.spec.offset == 30),
      s"channel skip must reach the cursor: ${scans.map(_.spec.offset)}")
  }

  test("streaming channel: MQL-filtered connector stream with offset resume") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.mem.MemStore
    MemStore.register("stream_ch",
      (0 until 40).map(i => (i, i % 4)).toDF("id", "grp"))
    val ckpt = java.nio.file.Files.createTempDirectory("chstream-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("chstream-out").toString
    def incarnation(): Unit = {
      val src = Channel.stream(spark, startOffset = 8L) { b =>
        b.q("""{ "grp": { "$in": [1, 3] } }""")
        b.memCollection("stream_ch")
      }
      val q = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    incarnation()
    val first = spark.read.parquet(out).select("id").collect().map(_.getInt(0)).sorted
    assert(first.toSeq === (8 until 40).filter(i => i % 4 == 1 || i % 4 == 3),
      "startOffset skips the replayed prefix; the MQL filter applies")
    MemStore.append("stream_ch", (40 until 60).map(i => (i, i % 4)).toDF("id", "grp"))
    incarnation()
    val all = spark.read.parquet(out).select("id").collect().map(_.getInt(0)).sorted
    assert(all.toSeq === (8 until 60).filter(i => i % 4 == 1 || i % 4 == 3),
      "restart must deliver exactly the appended matches")
    // batch-cursor options are rejected fail-fast on a streaming channel
    val e = intercept[IllegalArgumentException] {
      Channel.stream(spark) { b =>
        b.q("""{ "grp": 1 }"""); b.memCollection("stream_ch"); b.limit(5)
      }
    }
    assert(e.getMessage.contains("unbounded cursor"))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(ckpt))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(out))
  }

  test("keyed streaming channel: per-key resume through keyBy (reference (persistence_id, sequence_nr))") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.mem.MemStore
    // asymmetric keys, interleaved registration order — a global offset
    // would resume both at the same row index and corrupt the shorter key
    val part1 = ((0 until 20).map(i => ("pid-a", i.toLong)) ++
      (0 until 6).map(i => ("pid-b", i.toLong))).sortBy(_._2)
      .toDF("pid", "seq")
    val part2 = ((20 until 24).map(i => ("pid-a", i.toLong)) ++
      (6 until 16).map(i => ("pid-b", i.toLong))).sortBy(_._2)
      .toDF("pid", "seq")
    MemStore.register("stream_ch_keyed", part1)
    val ckpt = java.nio.file.Files.createTempDirectory("chkeyed-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("chkeyed-out").toString
    def incarnation(): Unit = {
      val src = Channel.stream(spark, startOffset = 2L, keyBy = Some("pid")) { b =>
        b.q("""{ "seq": { "$gte": 0 } }""")
        b.memCollection("stream_ch_keyed")
      }
      val q = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    incarnation()
    MemStore.append("stream_ch_keyed", part2)
    incarnation()
    val all = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // startOffset=2 applies PER KEY; both keys resume at their own rank
    val want = ((2 until 24).map(i => ("pid-a", i.toLong)) ++
      (2 until 16).map(i => ("pid-b", i.toLong))).sorted
    assert(all === want, "keyed channel must deliver per-key exactly-once")
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(ckpt))
    graft.gates.GateSupport.deleteRecursively(java.nio.file.Paths.get(out))
  }

  test("channel repeat-execution determinism (reference ids ++ ids ++ ids)") {
    def run() = Channel.create(spark, sfDir) { b =>
      b.q("""{ "l_quantity": { "$gte": 49 } }""")
      b.collection("lineitem")
      b.sort("l_orderkey" -> graft.dsl.Order.Ascending,
        "l_linenumber" -> graft.dsl.Order.Ascending)
      b.limit(10)
    }.select("l_orderkey").collect().map(_.getLong(0)).toSeq
    val a = run(); val b = run(); val c = run()
    assert(a === b && b === c && a.size === 10)
  }
}
