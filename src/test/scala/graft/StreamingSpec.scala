package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.EventLog

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, table, sfDir}

  test("S4: streaming event-log scan matches the batch scan (offset resume)") {
    val events = table("events")
    val key = 3L
    val offset = 50L
    val batch = EventLog.from(events, "user_id", lit(key), "event_id", offset, 256L)

    val streamed = EventLog.stream(spark, sfDir, events.schema,
      "user_id", lit(key), "event_id", offset, 256L, fileGlob = "events.parquet")
    val q = streamed.writeStream.format("memory").queryName("s4_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s4_test")

    assert(got.count() === batch.count() && batch.count() > 0)
    assert(got.agg(min("event_id"), max("event_id")).head() ===
      batch.agg(min("event_id"), max("event_id")).head())
    // partition arithmetic carried through the streaming plan
    assert(got.where(col("partition_nr") =!= floor(col("event_id") / 256L)).count() === 0)
  }

  test("streaming exact dedup: dropDuplicates removes cross-batch repeats") {
    val docs = table("documents")
    // feed the same file twice via two subdirs -> every doc arrives twice
    val tmp = java.nio.file.Files.createTempDirectory("streamdedup").toString
    docs.write.parquet(tmp + "/a")
    docs.write.parquet(tmp + "/b")
    val src = spark.readStream.schema(docs.schema).parquet(tmp + "/{a,b}")
      .dropDuplicates("doc_id")
    val q = src.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_stream")
    assert(got.count() === docs.count())
    assert(got.groupBy("doc_id").count().where(col("count") > 1).count() === 0)
  }

  test("transformWithState: canonical min survives ACROSS micro-batches") {
    // two files + maxFilesPerTrigger=1 => two micro-batches. The SMALLER
    // event_id for each key arrives in batch 1, larger in batch 2 — the
    // batch-2 emission must still report batch-1's minimum, proving the
    // ValueState actually persists between batches (the AvailableNow
    // gate alone cannot distinguish state from per-batch aggregation).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val tmp = java.nio.file.Files.createTempDirectory("tws").toString
    Seq((1L, "click", 10L), (2L, "view", 20L)).toDF("user_id", "event_type", "event_id")
      .coalesce(1).write.parquet(tmp + "/b1")
    Seq((1L, "click", 99L), (2L, "view", 5L)).toDF("user_id", "event_type", "event_id")
      .coalesce(1).write.parquet(tmp + "/b2")
    val schema = ss.read.parquet(tmp + "/b1").schema
    val src = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp + "/{b1,b2}")
      .as[(Long, String, Long)]
    val q = graft.streaming.Stateful.canonicalDedup(src).toDF()
      .writeStream.format("memory").queryName("tws_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val snaps = ss.table("tws_test")
    // one emission per key per batch that contained it => 4 rows total
    assert(snaps.count() === 4)
    val finalMin = snaps.groupBy("user_id")
      .agg(min("min_event_id").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalMin === Map(1L -> 10L, 2L -> 5L))
    // key 1's batch-2 emission must carry batch-1's min (10), not 99:
    // exactly two distinct snapshots say 10 iff state crossed the batch
    assert(snaps.where(col("user_id") === 1L && col("min_event_id") === 10L)
      .count() === 2)
  }

  test("T6 supervision: restart from checkpoint resumes exactly-once (no loss, no replay)") {
    // The reference delegates supervision to runtime config (SURVEY.md
    // §2.8); Spark's form is checkpointed restart: a query that stops is
    // re-`start`ed with the same checkpointLocation and must process each
    // input exactly once across the two incarnations.
    val docs = table("documents")
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_restart").toString
    val ckpt = tmp + "/ckpt"
    val outDir = tmp + "/out"
    docs.limit(100).write.parquet(tmp + "/in/batch1")

    def run(): Unit = {
      val src = spark.readStream.schema(docs.schema).parquet(tmp + "/in/*")
      val q = src.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run() // first incarnation consumes batch1
    // crash window: new data lands while the query is down
    docs.where(col("doc_id") >= 100).limit(50).write.parquet(tmp + "/in/batch2")
    run() // restarted incarnation must pick up ONLY batch2
    val got = spark.read.parquet(outDir)
    assert(got.count() === 150, "restart must neither drop nor replay input")
    assert(got.groupBy("doc_id").count().where(col("count") > 1).count() === 0)
  }

  test("T2/T3: watermarked windowed aggregation completes under AvailableNow") {
    val events = table("events")
    val src = spark.readStream.schema(events.schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .withColumn("event_ts", graft.sources.Tables.tsFromNanos(col("ts")))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = src.writeStream.format("memory").queryName("wm_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("wm_test")
    val expected = events
      .withColumn("event_ts", graft.sources.Tables.tsFromNanos(col("ts")))
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() === expected.count())
    assert(got.agg(sum("n")).head().getLong(0) === events.count())
  }

  test("foreachBatch: epoch-path overwrite survives a resumed run without duplicates") {
    import org.apache.spark.sql.DataFrame
    val ev = table("events").select(col("event_id"), col("user_id"), col("event_type"))
    val base = java.nio.file.Files.createTempDirectory("graft_feb_spec").toString
    val (stage, out, ckpt) = (s"$base/stage", s"$base/out", s"$base/ckpt")
    ev.where(pmod(col("event_id"), lit(2)) === 0).coalesce(1).write.parquet(s"$stage/p0")
    ev.where(pmod(col("event_id"), lit(2)) === 1).coalesce(1).write.parquet(s"$stage/p1")
    def runOnce(): Unit = {
      val src = spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = src.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val total = ev.count()
    assert(spark.read.parquet(out).count() === total)
    // two files → two epochs, each in its own batch=<id> dir
    assert(spark.read.parquet(out).select("batch").distinct().count() === 2)
    // resume from the same checkpoint: no new files, no re-emission,
    // byte-identical read-back (the exactly-once property of the
    // idempotent epoch-path recipe)
    runOnce()
    assert(spark.read.parquet(out).count() === total)
  }

  test("s15 full outer: BOTH unmatched directions flush; no sentinel leaks") {
    val got = SparkEntry.queries("s15_stream_full_outer")(spark, sfDir)
    // non-vacuity: the gate must exercise both NULL directions — clicks
    // without a conversion AND purchases without a preceding click
    assert(got.where(col("purchase_id").isNull).count() > 0,
      "no unmatched clicks flushed")
    assert(got.where(col("click_id").isNull).count() > 0,
      "no unmatched purchases flushed")
    // sentinels (negative user ids) must stay in state, never emit
    assert(got.where(col("user_id") < 0).count() === 0, "sentinel leaked")
    // matched subset == the batch inner join
    val events = table("events")
      .withColumn("event_ts", graft.sources.Tables.tsFromNanos(col("ts")))
    val c = events.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("event_ts").as("c_ts"))
    val p = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("event_ts").as("p_ts"))
    val inner = c.join(p, col("cu") === col("pu") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    assert(got.where(col("click_id").isNotNull && col("purchase_id").isNotNull)
      .count() === inner.count())
  }

  test("chunked feed: stream-stream joins match batch oracles under a multi-chunk staging") {
    // Force the event-time-chunked staging (GateSupport.outerJoinFeed) on
    // the 1000-row test corpus: 100 rows/chunk → 10 feed micro-batches +
    // 2 sentinel batches. The watermark advances BETWEEN chunks, so
    // unmatched rows flush DURING the feed — the final row SET must still
    // equal the batch join exactly (the at-scale argument: contiguous
    // event-time ranges mean nothing arrives below the watermark, and the
    // 1h watermark delay exceeds the 30min join window, so a row is only
    // evicted after every possible match was ingested).
    sys.props("graft.feed.chunk.rows") = "100"
    try {
      val events = table("events")
        .withColumn("event_ts", graft.sources.Tables.tsFromNanos(col("ts")))
      val c = events.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          col("event_ts").as("c_ts"))
      val p = events.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          col("event_ts").as("p_ts"))
      val cond = col("cu") === col("pu") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")

      def assertSetEqual(got: org.apache.spark.sql.DataFrame,
          want: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        assert(got.exceptAll(want).count() === 0, s"$tag: extra rows")
        assert(want.exceptAll(got).count() === 0, s"$tag: missing rows")
      }

      val gotInner = SparkEntry.queries("s6_stream_join")(spark, sfDir)
      assertSetEqual(gotInner,
        c.join(p, cond).select(col("cu").as("user_id"), col("click_id"), col("purchase_id")),
        "inner")
      assert(gotInner.count() > 0, "chunked feed must still find inner matches")

      val gotOuter = SparkEntry.queries("s12_stream_outer_join")(spark, sfDir)
      assertSetEqual(gotOuter,
        c.join(p, cond, "left_outer")
          .select(col("cu").as("user_id"), col("click_id"), col("purchase_id")),
        "left_outer")
      assert(gotOuter.where(col("purchase_id").isNull).count() > 0,
        "chunked feed must still flush unmatched clicks")

      val gotFull = SparkEntry.queries("s15_stream_full_outer")(spark, sfDir)
      assertSetEqual(gotFull,
        c.join(p, cond, "full_outer")
          .select(coalesce(col("cu"), col("pu")).as("user_id"),
            col("click_id"), col("purchase_id")),
        "full_outer")

      val gotSemi = SparkEntry.queries("s17_stream_semi_join")(spark, sfDir)
      assertSetEqual(gotSemi,
        c.join(p, cond, "left_semi")
          .select(col("cu").as("user_id"), col("click_id")),
        "left_semi")

      // the staging itself really chunked: >2 feed files on disk
      val (stage, _) = graft.gates.GateSupport.outerJoinFeed(spark, sfDir)
      val feedFiles = new java.io.File(stage).listFiles()
        .count(f => f.getName.startsWith("feed_"))
      // 10 time ranges; a range could be empty under an uneven ts
      // distribution, but the multi-chunk shape must have engaged
      assert(feedFiles >= 5 && feedFiles <= 10,
        s"expected ~10 chunk files, got $feedFiles")
    } finally sys.props -= "graft.feed.chunk.rows"
  }
}
