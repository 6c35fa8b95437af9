package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, TextAnalysis}
import graft.operators.Joins
import graft.sources.Tables
import graft.sources.mem.MemStore
import graft.gates.GateSupport._

/** Structured Streaming twins and stateful operators.
  *
  * Split out of SparkEntry (round-9 advice #8) purely for file size; the
  * driver surface is unchanged — SparkEntry.queries/oracleSql concatenate
  * every family. Scaladoc on each entry cites the reference behavior it
  * re-expresses. Every gate opens its child session with
  * [[GateSupport.streamSession]] and is built from the stream helpers
  * beside it: a file or staged-feed source, an AvailableNow run into a
  * memory sink, a two-incarnation resume, or a per-batch observer.
  */
object StreamGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S4/T1-T3 — the SAME window aggregation through Structured Streaming:
    // file source (micro-batch demand ≙ the reference's demand paging,
    // storage.scala:149,172-180), Trigger.AvailableNow for bounded runs
    // (≙ reference stream completion on bounded queries, storage.scala:137).
    // Verified against the identical DuckDB oracle as the batch form.
    "s4_stream_window" -> ((s, dir) => {
      val ss = streamSession(s)
      val agg = fileStream(ss, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      toMemory(agg, "s4_stream_window_sink", "complete")
    }),


    // S6/J1-streaming — STREAM-STREAM inner join with watermarks and an
    // event-time range condition (the north-star "Structured Streaming
    // joins" form of the reference's streaming inner join): clicks joined
    // to purchases by the same user within 30 minutes. Reads the SHARED
    // chunked event-time-ordered feed (r19 — the same realism fix as
    // s12/s15/s17: one-file staging made micro-batch 1 the whole corpus,
    // so join state never evicted within the feed): matches emit as
    // found, and the sentinels' disjoint negative user ids can never
    // join — the AvailableNow result still equals the batch join (the
    // DuckDB oracle).
    "s6_stream_join" -> ((s, dir) => {
      val ss = streamSession(s)
      toMemory(clickPurchaseJoin(ss, dir, "inner")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id")),
        "s6_stream_join_sink")
    }),


    // §2.8 — stream-stream LEFT OUTER join: the attribution query's hard
    // half ("clicks WITHOUT a conversion") — unmatched left rows must
    // emit with a NULL right side, which only happens once the global
    // watermark provably passes each click's join bound (c_ts + 30 min).
    // A single-batch feed can never flush those rows (no later batch
    // advances the watermark), so the gate stages a multi-file feed with
    // controlled mtimes + maxFilesPerTrigger=1, like s10:
    //   batches 0..n-1 = the real feed in event-time-ordered chunks
    //             (one file when small — see GateSupport.outerJoinFeed;
    //             chunking lets the watermark advance BETWEEN batches so
    //             join state stays bounded at scale);
    //   batch n   = a sentinel click+purchase pair at max(ts)+2h →
    //             commits the watermark to max(ts)+1h, past every bound;
    //   batch n+1 = a second sentinel pair at max(ts)+3h — its processing
    //             runs eviction under the batch-n watermark, flushing
    //             every unmatched feed click as a NULL-purchase row.
    // The sentinels themselves stay in state forever (the watermark never
    // passes THEIR bounds) so they cannot pollute the output; the oracle
    // is the plain batch LEFT JOIN over the real feed.
    "s12_stream_outer_join" -> ((s, dir) => {
      val ss = streamSession(s, 4)
      toMemory(clickPurchaseJoin(ss, dir, "left_outer")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id")),
        "s12_stream_outer_join_sink")
    }),


    // §2.8 — stream-stream LEFT SEMI join: "clicks that converted" as an
    // existence test — each matched click emits ONCE no matter how many
    // purchases land in its window (the dedup the inner join can't give),
    // and unmatched clicks age out of state silently at the watermark.
    // Same shared sentinel feed (the sentinels' disjoint user ids mean
    // they can never match, so a correct semi join drops them — leak
    // check built into the row set). Oracle = batch EXISTS.
    "s17_stream_semi_join" -> ((s, dir) => {
      val ss = streamSession(s, 4)
      toMemory(clickPurchaseJoin(ss, dir, "left_semi")
        .select(col("c_user").as("user_id"), col("click_id")),
        "s17_stream_semi_join_sink")
    }),


    // §2.8 — stream-stream FULL OUTER join: both unmatched directions at
    // once — clicks without a conversion AND purchases without a
    // preceding click each flush as a NULL-other-side row once the global
    // watermark provably passes their join bound. Same chunked
    // sentinel feed as s12 (shared staging, one cache key); the sentinels
    // themselves stay in state forever on BOTH sides, so they cannot
    // pollute either unmatched direction. Oracle = the plain batch FULL
    // JOIN over the real feed.
    "s15_stream_full_outer" -> ((s, dir) => {
      val ss = streamSession(s, 4)
      toMemory(clickPurchaseJoin(ss, dir, "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          col("click_id"), col("purchase_id")),
        "s15_stream_full_outer_sink")
    }),


    // §2.6 sinks — foreachBatch, the PRODUCTION streaming sink API (the
    // escape hatch every real pipeline uses for exactly-once writes to
    // batch-only targets): a three-file staged feed (maxFilesPerTrigger=1
    // → three micro-batches) lands each epoch in its own batch=<id>
    // directory with mode("overwrite") — re-running an epoch overwrites,
    // never duplicates (idempotent-by-path, the documented foreachBatch
    // exactly-once recipe). The union read-back must equal the batch
    // filter+projection — proving no batch lost, duplicated, or leaked
    // across epoch boundaries. Partition-discovery exposes the epoch as a
    // `batch` column; the gate projects it away.
    "s16_stream_foreach_batch" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ss = streamSession(s)
      val ev = t(ss, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val stage = stagedFeed(s"feb#$dir", "graft-feb-src") { st =>
        val now = System.currentTimeMillis()
        (0 to 2).foreach { i =>
          writeStaged(st, ev.where(pmod(col("event_id"), lit(3)) === i),
            s"${('a' + i).toChar}_slice$i", now - (3 - i) * 60000L)
        }
      }
      val out = exitManagedTempDir("graft-feb-out").toString
      val cleaned = stagedStream(ss, stage, ev.schema)
        .where(col("event_type").isin("click", "purchase"))
      cleaned.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      ss.read.parquet(out).select("event_id", "user_id", "event_type")
    }),


    // §2.8 — LATE-DATA DROP, actually exercised (round-7 verdict #8): every
    // other watermarked gate feeds AvailableNow over one file, where the
    // watermark can never retire state before data arrives — the drop path
    // was spec-claimed, not driver-verified. This gate stages THREE files
    // with controlled modification times and maxFilesPerTrigger=1.
    // Spark's late-record filter uses the PREVIOUS batch's committed
    // watermark (the SPARK-40925 two-watermark split: lateEvents = prior
    // batch, eviction = current), so a two-batch feed can never drop —
    // the middle batch exists to commit the advanced watermark:
    //   batch 0 = the full feed → watermark commits to max(ts) − 10 min;
    //   batch 1 = replays of rows STRICTLY inside the watermark allowance
    //             (ts > max − 10 min; their windows are still open and
    //             withheld by append mode, so they cannot touch emitted
    //             output) — after it, the late-filter watermark is armed;
    //   batch 2 = replays of the EARLIEST hour — every row is older than
    //             the armed watermark and MUST be dropped before state.
    // If dropping failed, the replayed hour's finalized window would
    // re-emit (duplicate row) and break the row count + hash. Oracle =
    // the batch aggregation WITH THE SAME CUTOFF predicate (append mode
    // emits exactly the windows with window_end ≤ max(ts) − 10 min), and
    // correct late-drop means replays contribute nothing to it.
    "s10_stream_late_drop" -> ((s, dir) => {
      val ss = streamSession(s)
      val ev = t(ss, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"),
        Tables.tsFromNanos(col("ts")).as("event_ts"))
      val stage = stagedFeed(s"s10#$dir", "graft-late") { st =>
        // span endpoints: two column-pruned min/max scans (gate staging,
        // not query work)
        val Array(minTs, maxTs) = ev.agg(min(col("event_ts")), max(col("event_ts")))
          .head().toSeq.map(_.asInstanceOf[java.sql.Timestamp]).toArray
        val lateReplay = ev.where(col("event_ts") < lit(minTs) + expr("INTERVAL 1 HOUR"))
        val freshReplay = ev.where(col("event_ts") > lit(maxTs) - expr("INTERVAL 10 MINUTES"))
        val now = System.currentTimeMillis()
        // mtime order is micro-batch order: A commits the watermark, B
        // arms the late filter, C is provably late
        writeStaged(st, ev, "a_feed", now - 180000)
        writeStaged(st, freshReplay, "b_fresh", now - 120000)
        writeStaged(st, lateReplay, "c_late", now - 60000)
      }
      val agg = stagedStream(ss, stage, ev.schema)
        .withWatermark("event_ts", "10 minutes")
        .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      toMemory(agg, "s10_stream_late_drop_sink")
    }),


    // Streaming twin of corpus_cdc_chunks: content-defined chunking is a
    // stateless per-row map (the rolling hash lives inside the codegen
    // expression, not in stream state), so micro-batched ingestion chunks
    // BIT-IDENTICALLY to the batch pass — one oracle serves both gates.
    "s32_stream_cdc_chunks" -> ((s, dir) => {
      val ss = streamSession(s)
      val chunks = Corpus.cdcChunks(fileStream(ss, dir, "documents"), "doc_id", "text",
        window = 16, modulus = 32, minLen = 24, maxLen = 96)
      toMemory(chunks, "s32_stream_cdc_chunks_sink")
    }),


    // Streaming twin of corpus_chunk: chunkTokens is stateless map-only
    // (sequence+slice arithmetic), so the SAME operator code runs
    // unchanged over readStream micro-batches — no state store, no
    // watermark, per-batch parallelism. Oracle = the batch chunking SQL.
    "s11_stream_chunk" -> ((s, dir) => {
      val ss = streamSession(s)
      val chunks = Corpus.chunkTokens(fileStream(ss, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
      toMemory(chunks, "s11_stream_chunk_sink")
    }),


    // Streaming UNION — two differently-TRANSFORMED branches of the
    // micro-batch DAG merged into one sink (the multi-feed ingestion
    // shape): clicks pass through, purchases get a derived doubled value,
    // both branches union by name. Stateless ⇒ result equals the batch
    // UNION ALL.
    "s18_stream_union" -> ((s, dir) => {
      val ss = streamSession(s)
      val src = fileStream(ss, dir, "events")
      val a = src.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), lit("click").as("kind"),
          col("value"))
      val b = src.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), lit("purchase_2x").as("kind"),
          (money(col("value")) * 2).cast("double").as("value"))
      toMemory(a.unionByName(b), "s18_stream_union_sink")
    }),


    // Streaming dedup — dropDuplicates across micro-batches (the streaming
    // form of exact dedup; state = seen keys, scales with watermark +
    // key-partitioned state stores). AvailableNow feeds all data, so the
    // result equals batch DISTINCT (the DuckDB oracle).
    "s7_stream_dedup" -> ((s, dir) => {
      val ss = streamSession(s)
      toMemory(fileStream(ss, dir, "events")
        .select(col("user_id"), col("event_type")).dropDuplicates(),
        "s7_stream_dedup_sink")
    }),


    // §2.8 — SLIDING windows through Structured Streaming: the streaming
    // twin of q_sliding_window (same 1 h / 30 min overlap, same DuckDB
    // oracle). Same bounded-run construction as s4: AvailableNow +
    // complete mode, so watermark state-purge cannot drop windows.
    "s5_stream_sliding" -> ((s, dir) => {
      val ss = streamSession(s)
      val agg = fileStream(ss, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      toMemory(agg, "s5_stream_sliding_sink", "complete")
    }),


    // §2.8 — SESSION windows through Structured Streaming: the streaming
    // twin of q_session_window (gap-based stateful windowing — the shape
    // the reference's event-time model never got). Session-window state
    // merges adjacent sessions per key across micro-batches; AvailableNow
    // + complete mode makes the bounded run equal the batch answer (same
    // gaps-and-islands DuckDB oracle).
    "s5_stream_session" -> ((s, dir) => {
      val ss = streamSession(s)
      val agg = fileStream(ss, dir, "events")
        .withColumn("event_ts", Tables.tsFromNanos(col("ts")))
        .withWatermark("event_ts", "1 hour")
        .groupBy(session_window(col("event_ts"), "2 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"))
      toMemory(agg, "s5_stream_session_sink", "complete")
    }),


    // S6-static — STREAM-STATIC join: the most common production streaming
    // join shape (stream fact × broadcast dimension). Stateless — no
    // watermark, no state store: each micro-batch hash-joins against the
    // broadcast dimension, so a 1000-executor stream pays no shuffle on
    // the fact side. Oracle = the equivalent batch join.
    "s8_stream_static_join" -> ((s, dir) => {
      val ss = streamSession(s)
      val src = fileStream(ss, dir, "events")
      val dim = broadcast(t(ss, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      toMemory(src.join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment")),
        "s8_stream_static_join_sink")
    }),


    // Streaming twin of q_range_join: a live click stream range-joined
    // against a static (broadcast) interval table through the SAME binned
    // rangeJoin operator — the bin equi-key is what makes the join legal
    // and stateless in Structured Streaming (a raw BETWEEN against a
    // static side would be a nested-loop per micro-batch). Oracle = the
    // batch range join.
    "s9_stream_range_join" -> ((s, dir) => {
      val ss = streamSession(s)
      val evBatch = t(ss, dir, "events")
        .withColumn("ts_us", Tables.tsMicros(col("ts")))
      val spikes = broadcast(
        evBatch.where(col("event_type") === "error" && col("value") > 150.0)
          .select(col("event_id").as("spike_id"), col("ts_us").as("start_us"),
            (col("ts_us") + 600000000L).as("end_us")))
      val clicks = fileStream(ss, dir, "events")
        .where(col("event_type") === "click")
        .withColumn("click_us", Tables.tsMicros(col("ts")))
        .select(col("event_id").as("click_id"), col("user_id"), col("click_us"))
      val joined = Joins.rangeJoin(clicks, spikes,
          "click_us", "start_us", "end_us", binWidth = 600000000L)
        .select(col("spike_id"), col("click_id"), col("user_id"),
          (col("click_us") - col("start_us")).as("gap_us"))
      toMemory(joined, "s9_stream_range_join_sink")
    }),


    // §2.8 T6 — SUPERVISION/RESTART, data-checked (was spec-only in
    // StreamingSpec): the reference's supervised stream restart
    // (storage.scala Akka supervision; log resume from stored offset,
    // log/package.scala:56-62) maps onto checkpointed query incarnations.
    // Incarnation 1 drains what is staged so far (1 slice) to a parquet
    // file sink and STOPS; the remaining 2 slices land; incarnation 2
    // starts from the SAME checkpoint and must process ONLY the new
    // files. The sink's metadata log commits each batch once, so a
    // restart bug in either direction — re-emitting slice 0 (loss of
    // offset) or skipping a new slice (over-trusting it) — breaks the
    // row count or hash against the plain batch-filter oracle.
    // On warm re-executions in one JVM the stage is already complete and
    // incarnation 1 drains everything — the final output is identical
    // either way (that invariance IS exactly-once).
    "t_stream_restart" -> ((s, dir) => {
      val ss = streamSession(s)
      val ev = t(ss, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val stage = stagedFeed(s"restart#$dir", "graft-restart-src") { st =>
        writeStaged(st, ev.where(pmod(col("event_id"), lit(3)) === 0),
          "a_slice0", System.currentTimeMillis() - 180000L)
      }
      resumedRun(ss, "restart", stagedStream(ss, stage, ev.schema)
          .where(col("event_type").isin("click", "purchase"))) {
        (1 to 2).foreach { i => // the stream "keeps arriving" while down
          // skip when already staged (warm re-executions in one JVM): the
          // content is a pure function of the input, and re-writing would
          // only re-time the staging, not the operator
          if (!new java.io.File(s"$stage/${('a' + i).toChar}_slice$i.parquet").exists())
            writeStaged(stage, ev.where(pmod(col("event_id"), lit(3)) === i),
              s"${('a' + i).toChar}_slice$i", System.currentTimeMillis() - (3 - i) * 60000L)
        }
      }.select("event_id", "user_id", "event_type")
    }),

    // §2.8 T2 — BACKPRESSURE, data-checked (r9 advice #6: was spec-only).
    // The reference's demand-driven paging (storage.scala:149,172-180;
    // CassandraAsyncStage fetchMore) maps onto Structured Streaming
    // admission control: `maxFilesPerTrigger=1` over a 4-slice staged
    // feed must yield one micro-batch PER FILE, in the controlled mtime
    // order. The gate OBSERVES the per-batch row counts via foreachBatch
    // and returns them as (batch_id, n_rows); slice i holds exactly the
    // event_id % 4 == i rows, so the oracle is a plain GROUP BY — if flow
    // control were ignored (one big batch) or order drifted, row count or
    // hash breaks.
    "t_stream_backpressure" -> ((s, dir) => {
      val ss = streamSession(s)
      val ev = t(ss, dir, "events").select(col("event_id"))
      val stage = stagedFeed(s"bp#$dir", "graft-bp-src") { st =>
        val now = System.currentTimeMillis()
        (0 to 3).foreach { i =>
          writeStaged(st, ev.where(pmod(col("event_id"), lit(4)) === i),
            s"${('a' + i).toChar}_slice$i", now - (4 - i) * 60000L)
        }
      }
      batchSizes(stagedStream(ss, stage, ev.schema), "bp")
    }),


    // §2.9 — the SAME custom stateful operator through Structured
    // Streaming: flatMapGroupsWithState over readStream, checkpointed
    // key state across micro-batches, AvailableNow for the bounded run.
    // Each key's LAST emitted snapshot (max events) is its final running
    // total — equal to batch GROUP BY, the same DuckDB oracle as the
    // batch-gated twin.
    "t_stream_stateful" -> ((s, dir) => {
      val ss = streamSession(s)
      import ss.implicits._
      val src = fileStream(ss, dir, "events")
        .select(col("user_id"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      val totals = graft.streaming.Stateful.runningTotals[(Long, Long)](
        src, _._1, _._2.toDouble)
      // one snapshot per key per micro-batch reaches the sink; the final
      // state is the snapshot with the highest event count
      toMemory(totals.toDF()
        .select(col("key").as("user_id"), col("events"),
          col("sum").cast("long").as("sum_cents")),
        "t_stream_stateful_sink")
        .groupBy(col("user_id"))
        .agg(max(struct(col("events"), col("sum_cents"))).as("m"))
        .select(col("user_id"), col("m.events").as("events"),
          col("m.sum_cents").as("sum_cents"))
    }),


    // §2.9 — transformWithState (Spark 4's arbitrary-state API, the
    // industrial successor of flatMapGroupsWithState: typed state
    // variables, TTL, RocksDB-backed): canonical-representative streaming
    // dedup — per (user_id, event_type), the MINIMUM event_id ever seen
    // (the "keep lowest doc_id per duplicate group" shape of LLM dedup,
    // deterministic under any row order, unlike first-seen-wins). The
    // last emission per key equals batch GROUP BY MIN — the oracle.
    "t_stream_canonical" -> ((s, dir) => {
      val ss = streamSession(s)
      // transformWithState requires the RocksDB state store provider
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import ss.implicits._
      val src = fileStream(ss, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"))
        .as[(Long, String, Long)]
      // one snapshot per key per micro-batch; the final canonical id is
      // the smallest ever emitted
      toMemory(graft.streaming.Stateful.canonicalDedup(src).toDF(),
        "t_stream_canonical_sink")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("min_event_id")).as("min_event_id"))
    }),


    // Streaming twin of text_c4_clean (the s11_stream_chunk construction):
    // the staging and every C4 rule are stateless per-row expressions, so
    // the SAME operator code runs over readStream micro-batches and must
    // converge to exactly the batch answer — one oracle serves both.
    "s13_stream_c4_clean" -> ((s, dir) => {
      val ss = streamSession(s)
      toMemory(TextAnalysis.c4Clean(c4StagedDocs(fileStream(ss, dir, "documents")),
        "doc_id", "text", minWordsPerLine = 5, minLines = 3), "s13_stream_c4_sink")
    }),


    // Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark) —
    // the at-least-once-source dedup: unlike s7's dropDuplicates, state
    // for a key EXPIRES once the watermark passes, so state is bounded by
    // the delay window instead of growing forever. Keys are
    // (user_id, event_type, hour): every duplicate of a key sits within
    // the 1-hour bucket < the 2-hour delay, so the API's guarantee makes
    // the result exactly SELECT DISTINCT regardless of arrival order —
    // deterministic, batch-oracle-able.
    //
    // Reads the SHARED chunked event-time-ordered feed (r19): the former
    // one-file staging made micro-batch 1 the whole corpus, so the expiry
    // this operator EXISTS for never ran within the feed — state held
    // every key at once and the sf10 probe read 18.1× per 10× rows
    // (spread 1.08, a real measurement of the wrong shape). Chunking lets
    // the watermark expire key state between micro-batches; a key's
    // duplicates sit within its 1-hour bucket and arrive (time-ordered
    // chunks) before the key can expire (delay 2h > bucket 1h), so the
    // output is still exactly SELECT DISTINCT. The feed's sentinel rows
    // (negative user ids) WOULD emit as distinct keys, so they are
    // filtered before the dedup — output-neutral (dropDuplicates emits on
    // first sight, not at eviction; sentinels advance nothing we need).
    "s14_stream_dedup_watermark" -> ((s, dir) => {
      val ss = streamSession(s)
      val (stage, schema) = outerJoinFeed(ss, dir)
      val dedup = stagedStream(ss, stage, schema)
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("event_type"),
          date_trunc("hour", col("event_ts")).as("hr"))
        .withWatermark("hr", "2 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "hr")
      toMemory(dedup, "s14_stream_dedup_wm_sink")
    }),


    // S3/S4-streaming over the CONNECTOR (round-10 verdict #7): offset
    // resume against the STORE, not the file source — the reference's
    // partitioned-log cursor resume (log/package.scala:56-62) as a DSv2
    // MicroBatchStream whose offset is the row index into the collection.
    // Two incarnations share one checkpoint: incarnation 1 starts at the
    // reader's startOffset=50 (the S3 "skip the replayed prefix"
    // semantic) and drains the registered slice; the log then "keeps
    // arriving while the stream is down" (append); incarnation 2 resumes
    // from the CHECKPOINTED offset and must deliver exactly the appended
    // rows — a re-read of old offsets or a skipped append breaks the
    // row count / hash against the batch oracle.
    "s19_stream_mem_resume" -> ((s, dir) => {
      val ss = streamSession(s)
      val feed = t(ss, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .where(pmod(col("event_id"), lit(5)) < 2)
      val coll = "evresume" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val slice1 = feed.where(pmod(col("event_id"), lit(3)) =!= 2).orderBy("event_id")
      val slice2 = feed.where(pmod(col("event_id"), lit(3)) === 2).orderBy("event_id")
      // register RESETS the collection each execution (with resumedRun's
      // fresh checkpoint and sink, warm re-executions replay the same
      // two-incarnation lifecycle)
      MemStore.register(coll, slice1)
      // incarnation 1 drains offsets [50, len(slice1)); incarnation 2
      // resumes from the checkpoint: appended offsets only
      resumedRun(ss, "memresume", ss.readStream.format("graft.sources.mem.GraftMemSource")
          .option("collection", coll).option("startOffset", "50").load()) {
        MemStore.append(coll, slice2)
      }.select("event_id", "user_id", "event_type")
    }),


    // KEYED streaming offsets over the connector (r11 verdict #5): the
    // stream's offset is a PER-KEY map — the reference's
    // (persistence_id, sequence_nr) resume (log/package.scala:56-62), the
    // Kafka topic-partition shape — so one query over a MULTI-key log
    // resumes every key at its own checkpointed rank. Three asymmetric
    // keys share one collection; the reader's startOffset=25 applies per
    // key (each key skips ITS replayed prefix — a global index would skip
    // an interleaved prefix and corrupt every key), the log grows for all
    // keys while the stream is down, and incarnation 2 must deliver
    // exactly the appended rows per key. Oracle = per-key rank filters
    // UNION ALL the appended slice, mirroring s19's contract key-wise.
    "s22_stream_mem_keyed" -> ((s, dir) => {
      val ss = streamSession(s)
      val feed = t(ss, dir, "events")
        .where(pmod(col("event_id"), lit(5)) < 2)
        .select(
          when(pmod(col("user_id"), lit(3)) === 0, "log-a")
            .when(pmod(col("user_id"), lit(3)) === 1, "log-b")
            .otherwise("log-c").as("pkey"),
          col("event_id"), col("user_id"), col("event_type"))
      val coll = "evkeyed" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val slice1 = feed.where(pmod(col("event_id"), lit(3)) =!= 2).orderBy("event_id")
      val slice2 = feed.where(pmod(col("event_id"), lit(3)) === 2).orderBy("event_id")
      MemStore.register(coll, slice1)
      // per key: incarnation 1 drains ranks [25, count_k(slice1)),
      // incarnation 2 exactly the appended ranks
      resumedRun(ss, "memkeyed", ss.readStream.format("graft.sources.mem.GraftMemSource")
          .option("collection", coll)
          .option("keyColumn", "pkey").option("startOffset", "25").load()) {
        MemStore.append(coll, slice2)
      }.select("pkey", "event_id", "user_id", "event_type")
    }),


    // Streaming twin of corpus_bpe_encode (the s11/s13 "must converge to
    // exactly the batch answer" discipline): merges are trained batch-side
    // (the tokenizer is a build artifact — exactly how production
    // pipelines ship one), then the encode runs as a STATELESS map-only
    // projection over the micro-batched corpus — the chained-replace
    // expression needs no state, no watermark, no shuffle, so the stream
    // converges to the batch result for any micro-batch slicing.
    "s20_stream_bpe" -> ((s, dir) => {
      val ss = streamSession(s)
      val merges = Corpus.bpeTrain(t(ss, dir, "documents"), "text",
        numMerges = CorpusGates.bpeN)
      val enc = Corpus.bpeEncode(fileStream(ss, dir, "documents"), "doc_id", "text", merges)
        .select(col("doc_id"), col("n_subtokens"),
          array_join(col("subtokens"), " ").as("subtokens"))
      toMemory(enc, "s20_stream_bpe_sink")
    }),


    // Streaming twin of s29_changelog_apply: CDC latest-state as a
    // COMPLETE-mode streaming aggregation — the same per-key max(struct)
    // runs as managed streaming state (partial per micro-batch, merged
    // across batches), the delete filter applies to the final state, and
    // the result converges to EXACTLY the batch answer under any slicing
    // (one shared oracle). This is the materialized-view form of CDC: the
    // state store IS the current table.
    "s30_stream_changelog" -> ((s, dir) => {
      val ss = streamSession(s)
      val agg = fileStream(ss, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .withColumn("op",
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")))
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("op"),
          col("event_type"), col("value"))).as("last"))
      toMemory(agg, "s30_stream_changelog_sink", "complete")
        .where(col("last.op") =!= "delete")
        .select(col("user_id"), col("last.event_id").as("event_id"),
          col("last.op").as("op"), col("last.event_type").as("event_type"),
          col("last.value").as("value"))
    }),


    // Streaming twin of corpus_unigram_encode: the piece table trains on
    // the batch corpus (like s20's BPE merges), then the map-only Viterbi
    // encode runs inside a Structured Streaming micro-batch pipeline —
    // stateless per-row, so the stream converges to EXACTLY the batch
    // answer (one shared oracle string, the corpus_chunk precedent).
    "s28_stream_unigram" -> ((s, dir) => {
      val ss = streamSession(s)
      val pieces = Corpus.unigramPieceTable(t(ss, dir, "documents"), "text",
        maxLen = CorpusGates.uniMaxLen, topK = CorpusGates.uniTopK)
      toMemory(Corpus.unigramEncode(fileStream(ss, dir, "documents"), "doc_id", "text",
        pieces, maxLen = CorpusGates.uniMaxLen), "s28_stream_unigram_sink")
    }),


    // T2 backpressure STORE-SIDE (the t_stream_backpressure twin on the
    // connector): the `maxRowsPerTrigger` reader option becomes the
    // stream's ReadLimit, so AvailableNow drains the collection in
    // bounded micro-batches of exactly 1000 offsets — the reference's
    // demand-driven cursor paging (storage.scala:149,172-180) expressed
    // as DSv2 admission control. foreachBatch observes (batch_id, count);
    // offsets admit in registration order (event_id ASC), so the oracle
    // is a plain rank bucketing — one oversized batch (flow control
    // ignored) or a skipped/reordered slice breaks rows or hash.
    "t_stream_mem_backpressure" -> ((s, dir) => {
      val ss = streamSession(s)
      // 20% feed: micro-batch count (= feed/1000) stays bench-honest at
      // sf0.1 (~20 bounded batches) while sf0.01 still yields 2 batches
      val feed = t(ss, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .where(pmod(col("event_id"), lit(5)) < 1).orderBy("event_id")
      val coll = "evbp" + dir.replaceAll("[^A-Za-z0-9]", "_")
      MemStore.register(coll, feed)
      batchSizes(ss.readStream.format("graft.sources.mem.GraftMemSource")
        .option("collection", coll).option("maxRowsPerTrigger", "1000").load(), "membp")
    })
  )

  /** The click and purchase rows of the event log — the oracle of every
    * gate whose stream is result-invariant over the batch filter. */
  private val clickPurchaseRowsSql =
    """SELECT event_id, user_id, event_type FROM events
       WHERE event_type IN ('click', 'purchase')"""

  val oracleSql: Map[String, String] = Map(
    // offset semantics replayed in SQL: slice-1 rows past the startOffset
    // (its registration order is event_id ASC, so offset == rank) plus
    // every appended slice-2 row
    "s19_stream_mem_resume" ->
      """WITH f AS (SELECT event_id, user_id, event_type FROM events
                    WHERE event_id % 5 < 2),
              s1 AS (SELECT event_id, user_id, event_type,
                            ROW_NUMBER() OVER (ORDER BY event_id) AS rn
                     FROM f WHERE event_id % 3 <> 2)
         SELECT event_id, user_id, event_type FROM s1 WHERE rn > 50
         UNION ALL
         SELECT event_id, user_id, event_type FROM f WHERE event_id % 3 = 2""",

    // per-key resume: each key's rank counts ONLY its own rows in
    // registration order; the appended slice rides whole, like s19
    "s22_stream_mem_keyed" ->
      """WITH f AS (SELECT CASE user_id % 3 WHEN 0 THEN 'log-a'
                                            WHEN 1 THEN 'log-b'
                                            ELSE 'log-c' END AS pkey,
                           event_id, user_id, event_type
                    FROM events WHERE event_id % 5 < 2),
              s1 AS (SELECT pkey, event_id, user_id, event_type,
                            ROW_NUMBER() OVER (PARTITION BY pkey
                                               ORDER BY event_id) AS rn
                     FROM f WHERE event_id % 3 <> 2)
         SELECT pkey, event_id, user_id, event_type FROM s1 WHERE rn > 25
         UNION ALL
         SELECT pkey, event_id, user_id, event_type FROM f
         WHERE event_id % 3 = 2""",

    // bounded admission in offset order: batch i holds ranks
    // [i*1000, (i+1)*1000) of the registered feed
    "t_stream_mem_backpressure" ->
      """WITH f AS (SELECT event_id FROM events WHERE event_id % 5 < 1),
              r AS (SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rn FROM f)
         SELECT CAST(rn // 1000 AS BIGINT) AS batch_id, COUNT(*) AS n_rows
         FROM r GROUP BY 1""",

    // the streaming form must converge to exactly the batch BPE encode
    "s20_stream_bpe" -> CorpusGates.bpeEncodeOracleSql(CorpusGates.bpeN),

    "s28_stream_unigram" -> CorpusGates.unigramEncodeOracleSql,

    "s30_stream_changelog" -> CoreGates.oracleSql("s29_changelog_apply"),
    "s32_stream_cdc_chunks" -> CorpusGates.oracleSql("corpus_cdc_chunks"),

    "s7_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // stateless branches => batch UNION ALL, same money-decimal doubling
    "s18_stream_union" ->
      """SELECT event_id, user_id, 'click' AS kind, value FROM events
         WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, user_id, 'purchase_2x' AS kind,
                CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE) AS value
         FROM events WHERE event_type = 'purchase'""",

    "t_stream_stateful" -> runningCentsOracleSql,

    "t_stream_canonical" ->
      """SELECT user_id, event_type, MIN(event_id) AS min_event_id
         FROM events GROUP BY user_id, event_type""",

    // restart: two checkpointed incarnations over a growing feed must
    // emit each row exactly once — equal to the batch filter
    "t_stream_restart" -> clickPurchaseRowsSql,

    // backpressure: one micro-batch per staged file (mtime order), so the
    // observed per-batch counts are exactly the per-slice cardinalities
    "t_stream_backpressure" ->
      """SELECT CAST(event_id % 4 AS BIGINT) AS batch_id, COUNT(*) AS n_rows
         FROM events GROUP BY 1""",

    // append-mode emits exactly the finalized windows (window_end ≤ final
    // watermark = max(ts) − 10 min, micro-truncated like the Spark side);
    // the replayed late rows must contribute NOTHING — the count is over
    // the original feed only
    "s10_stream_late_drop" ->
      // Spark's committed watermark truncates max event time to MILLIS
      // (EventTimeStats) before subtracting the delay — mirror that
      // (// 1000 * 1000) or a sub-ms remainder in a regenerated corpus
      // could flip an hour-aligned window across the cutoff
      """WITH wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 - 600000000 AS w
                     FROM events)
         SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
                COUNT(*) AS n
         FROM events, wm
         WHERE epoch_us(time_bucket(INTERVAL '1 hour', ts)) + 3600000000 <= w
         GROUP BY 1, 2""",

    "s9_stream_range_join" -> rangeJoinOracleSql,

    // the streaming form must converge to exactly the batch chunking
    "s11_stream_chunk" -> chunkOracleSql,

    "s4_stream_window" -> hourWindowOracleSql,

    "s5_stream_sliding" -> slidingWindowOracleSql,

    "s5_stream_session" -> sessionWindowOracleSql,

    "s8_stream_static_join" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment
         FROM events e JOIN customer c ON e.user_id = c.c_custkey""",

    "s6_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",

    // the outer form: every click exactly as in the inner join PLUS one
    // NULL-purchase row per unmatched click (the sentinel flush rows never
    // reach the output — they stay in state, see the gate)
    "s12_stream_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",

    // existence semantics: one row per converted click, sentinels excluded
    // by the EXISTS itself (disjoint user ids can never match)
    "s17_stream_semi_join" ->
      """SELECT c.user_id, c.event_id AS click_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         WHERE EXISTS (SELECT 1 FROM events p
                       WHERE p.event_type = 'purchase'
                         AND p.user_id = c.user_id
                         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)""",

    // the full-outer twin: both unmatched directions survive as NULLs
    "s15_stream_full_outer" ->
      """SELECT coalesce(c.user_id, p.user_id) AS user_id,
                c.event_id AS click_id, p.event_id AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",

    // foreachBatch is a sink mechanism, result-invariant: plain filter SQL
    "s16_stream_foreach_batch" -> clickPurchaseRowsSql,

    "s13_stream_c4_clean" -> c4CleanOracleSql,

    // dedup keys include the hour bucket, so within-watermark dedup is
    // exactly DISTINCT (intra-key event-time span 0 < the 2 h delay)
    "s14_stream_dedup_watermark" ->
      """SELECT DISTINCT user_id, event_type,
                time_bucket(INTERVAL '1 hour', ts) AS hr
         FROM events"""
  )
}
