package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.dsl._
import graft.dsl.Dsl._
import graft.functions.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis, TextNormalize}
import graft.operators.{EventLog, Joins}
import graft.sources.Tables

/** Shared gate plumbing: table loads, exit-managed staging, deterministic
  * multi-file feeds, money/decimal casts, ANN invariants, and the staged
  * oracle-SQL fragments shared between a gate and its DuckDB twin. Moved
  * verbatim out of SparkEntry (round-9 advice #8).
  */
private[graft] object GateSupport {


  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Child session for a stream gate: shared SparkContext, private
    * SQLConf, so the gate never mutates the caller's session (that would
    * leak to concurrent queries, and to later ones on a failure between
    * set and restore). State-store count == shuffle partitions at query
    * start, so `partitions` sizes the state to the workload: a bounded
    * micro-batch feed.
    *
    * The state-store provider is Spark's default (HDFS-backed,
    * in-memory). A deployment whose per-partition state outgrows the heap
    * selects another with Spark's own
    * `spark.sql.streaming.stateStore.providerClass` on the session it
    * builds (`SparkSession.builder.config` or `--conf`): a `newSession()`
    * child starts from the SparkContext's conf, so it inherits that
    * setting. A `conf.set` on the parent after start does not carry over.
    * RocksDB measured slower at every scale this repository reaches
    * (OPTIMIZATION_r20.md): per-micro-batch native store load and commit
    * dominate a bounded feed. */
  def streamSession(s: SparkSession, partitions: Int = 8): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss
  }

  /** `table`'s parquet file under `dir` as a file stream, with the batch
    * table's schema (a file stream does not infer one). */
  def fileStream(ss: SparkSession, dir: String, table: String): DataFrame =
    ss.readStream.schema(t(ss, dir, table).schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)

  /** A staged feed (see [[stagedFeed]]) read one file per micro-batch, in
    * mtime order. */
  def stagedStream(ss: SparkSession, stage: String, schema: StructType): DataFrame =
    ss.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stage)

  /** Runs `df` to its end (AvailableNow) into the memory sink `sink` and
    * returns the sink's table. `awaitTermination` rethrows a failed
    * query's error, so a broken stream fails the gate instead of
    * returning a partial sink. */
  def toMemory(df: DataFrame, sink: String, mode: String = "append"): DataFrame = {
    df.writeStream.format("memory").queryName(sink).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    df.sparkSession.table(sink)
  }

  /** Two incarnations of one checkpointed query that drains `src`
    * (re-evaluated per incarnation) into a parquet sink: the first drains
    * what is there, `grow` adds input while the query is down, and the
    * second resumes from the checkpoint. Returns the sink's read-back, which
    * holds every input row exactly once iff the resume is exact. Fresh
    * checkpoint and sink dirs per call, so warm re-executions replay the
    * same lifecycle. */
  def resumedRun(ss: SparkSession, tag: String, src: => DataFrame)(grow: => Unit): DataFrame = {
    val ckpt = exitManagedTempDir(s"graft-$tag-ckpt").toString
    val out = exitManagedTempDir(s"graft-$tag-out").toString
    def incarnation(): Unit =
      src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    incarnation()
    grow
    incarnation()
    ss.read.parquet(out)
  }

  /** Drains `src` (AvailableNow) through foreachBatch and returns the
    * non-empty micro-batches it saw as (batch_id, n_rows): the evidence of
    * how a source admitted its input. The only driver-side state is one
    * pair per batch. */
  def batchSizes(src: DataFrame, tag: String): DataFrame = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        seen.add((batchId, batch.count())); ()
      }
      .option("checkpointLocation", exitManagedTempDir(s"graft-$tag-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    import scala.jdk.CollectionConverters._
    val ss = src.sparkSession
    import ss.implicits._
    seen.asScala.toSeq.filter(_._2 > 0).sortBy(_._1).toDF("batch_id", "n_rows")
  }

  /** Best-effort recursive delete of a gate's temp staging tree (used by
    * the [[exitManagedTempDir]] shutdown hook — `File.deleteOnExit` cannot
    * remove non-empty directories). */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach { q => try { Files.deleteIfExists(q); () } catch { case _: Throwable => () } }
      finally walk.close()
    }
  }

  /** Temp staging dir registered for RECURSIVE deletion at JVM exit —
    * `File.deleteOnExit` cannot remove non-empty dirs, and the sink
    * roundtrip gates return a lazy reader over the staged files, so the
    * tree must survive until the session dies. Without this, one bench
    * round (1 warm-up + up to 3 timed passes per query) leaked ~16 staged
    * parquet/PNG trees (ADVICE r8 #4). */
  def exitManagedTempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
    p
  }

  /** Per-(gate, dir) staged-feed cache: s10/s12 stage a deterministic
    * multi-file feed whose mtime order drives the micro-batch order. The
    * content is a pure function of the input dir, so one JVM stages it
    * ONCE and every later execution (bench warm-up + 3 timed passes)
    * re-reads it — the per-pass restage was both the temp leak (ADVICE r8
    * #4) and about half the gate's measured wall-clock. Dirs are
    * exit-managed. */
  val stageCache = scala.collection.concurrent.TrieMap[String, String]()

  def stagedFeed(key: String, prefix: String)(build: String => Unit): String =
    stageCache.getOrElseUpdate(key, {
      val st = exitManagedTempDir(prefix).toString
      build(st)
      st
    })

  /** coalesce(1)-write `df` to `stage/name.parquet` with a controlled
    * mtime (file order == micro-batch order under maxFilesPerTrigger=1). */
  def writeStaged(stage: String, df: DataFrame, name: String, mtime: Long): Unit = {
    val tmpDir = s"$stage/_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val part = new java.io.File(tmpDir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmpDir"))
    val dest = new java.io.File(s"$stage/$name.parquet")
    // REPLACE_EXISTING: gates that stage incrementally (t_stream_restart)
    // re-write a slice on warm re-executions; content is deterministic so
    // replacement is value-identical
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    require(dest.setLastModified(mtime), s"cannot set mtime on $dest")
  }

  /** PNG staging for `src_binaryfile_media`, built ONCE per JVM and reused
    * by every execution of the gate (the content is a pure function of the
    * id range — the per-execution restage was the leak). */
  lazy val binaryFileStage: String = {
    val stage = exitManagedTempDir("graft-binfile")
    (0L until 100L).foreach { id =>
      java.nio.file.Files.write(stage.resolve(s"img_$id.png"),
        graft.functions.Multimodal.grayTestImage(id, "png"))
    }
    stage.toString
  }

  /** Bucketed-warehouse staging for `j_bucketed_join`: both join sides are
    * written ONCE per (JVM, dir) as external BUCKETED tables (8 buckets on
    * the join key, sorted within buckets) under an exit-managed dir. This
    * is the 100 TB join posture in storage form — the shuffle is paid once
    * at write time; every subsequent join on the bucket key reads
    * co-located buckets with NO exchange on either side (plan-asserted in
    * LayoutSpec). Table metadata lives in the shared in-memory catalog, so
    * child sessions of the same JVM see the tables without re-staging. */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (oT, lT) = (s"orders_bkt$tag", s"lineitem_bkt$tag")
    stageCache.getOrElseUpdate(s"bucketed#$dir", {
      val wh = exitManagedTempDir("graft-bucketed").toString
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/$oT").saveAsTable(oT)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/$lT").saveAsTable(lT)
      wh
    })
    (oT, lT)
  }

  /** Rows per feed chunk in [[outerJoinFeed]]: feeds at or under this
    * size stage as ONE file (the historical shape — keeps the small-SF
    * bench pins untouched); larger feeds split into event-time-ordered
    * chunk files so the watermark advances BETWEEN micro-batches and
    * stream-stream join state stays bounded by the join window's event
    * density, not the corpus size. 250k keeps the chunk count moderate
    * (sf1 → 4 batches, sf10 → 40) so per-micro-batch state-store setup
    * doesn't dominate. System-property override (`graft.feed.chunk.rows`)
    * exists so StreamingSpec can force the chunked path on the tiny test
    * corpus and assert output equality against the single-file shape. */
  def feedChunkRows: Long =
    sys.props.get("graft.feed.chunk.rows").map(_.toLong).getOrElse(250000L)

  /** Staged feed SHARED by the click/purchase join gates
    * ([[clickPurchaseJoin]]) and s14's watermark dedup — identical
    * content, staged once per (JVM, dir) under one cache key:
    *   batches 0..n-1 = the real events feed (matches emit as found),
    *             split into EVENT-TIME-ORDERED chunk files when the feed
    *             exceeds [[feedChunkRows]] (one file otherwise). Chunks
    *             are contiguous event-time ranges, so after batch i the
    *             watermark is hi_i − 1h and every later row's ts ≥ hi_i —
    *             nothing ever arrives late, and the final AvailableNow
    *             output is IDENTICAL to the single-file staging (append
    *             mode accumulates the same row set; only WHEN unmatched
    *             rows flush changes). This is the realistic production
    *             shape — a log arrives as many files in rough event-time
    *             order — and it is what lets a 10M-row feed run with
    *             join state bounded by one chunk's per-user density
    *             instead of the whole corpus (r18 verdict #1).
    *   batch n   = a sentinel click+purchase pair at max(ts)+2h → commits
    *             the watermark to max(ts)+1h, past every feed bound;
    *   batch n+1 = a second sentinel pair at max(ts)+3h — its processing
    *             runs eviction under the batch-n watermark, flushing
    *             every still-unmatched feed row as a NULL-side outer row.
    * Sentinel spread ≤ 1.5h: even the trailing batch's watermark
    * (max+3h − 1h = max+2h) stays below sentinel-1's join bound
    * (max+2h30m), so no sentinel can ever flush as an unmatched row; the
    * click and purchase sentinels carry DISJOINT user ids (-1 vs -2) so
    * they advance their sides' watermarks without joining each other.
    * Returns (stage path, feed schema). */
  def outerJoinFeed(ss: SparkSession, dir: String): (String, StructType) = {
    val ev = t(ss, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), Tables.tsFromNanos(col("ts")).as("event_ts"))
    // v2 cache key (includes the chunk-size knob): the r18 single-file
    // staging must never be reused by a JVM that staged it before this
    // chunked form landed, and a spec that forces a tiny chunk size must
    // not poison the default-size cache entry
    val chunkRows = feedChunkRows
    val stage = stagedFeed(s"s12v2#$dir#$chunkRows", "graft-outer") { st =>
      val bounds = ev.agg(min(col("event_ts")), max(col("event_ts")),
        count(lit(1))).head()
      val (minTs, maxTs, n) =
        (bounds.getTimestamp(0), bounds.getTimestamp(1), bounds.getLong(2))
      val now = System.currentTimeMillis()
      val nChunks = math.min(64L, (n + chunkRows - 1) / chunkRows).toInt
      if (nChunks <= 1) {
        writeStaged(st, ev, "a_feed", now - 600000)
      } else {
        // contiguous event-time ranges: chunk = floor((ts-min)/span * n),
        // a pure per-row expression (no global sort). repartition on the
        // chunk id puts each chunk wholly in one task, so partitionBy
        // writes exactly one part file per chunk directory.
        val spanMs = math.max(1L, maxTs.getTime - minTs.getTime + 1)
        val chunkCol = least(lit(nChunks - 1),
          floor((col("event_ts").cast("double") - lit(minTs.getTime / 1000.0))
            / lit(spanMs / 1000.0) * nChunks)).cast("int")
        val tmp = s"$st/_chunks"
        ev.withColumn("chunk", chunkCol)
          .repartition(nChunks, col("chunk"))
          .write.mode("overwrite").partitionBy("chunk").parquet(tmp)
        var i = 0
        var batch = 0
        while (i < nChunks) {
          val d = new java.io.File(s"$tmp/chunk=$i")
          if (d.isDirectory) {
            val part = d.listFiles()
              .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
              .getOrElse(sys.error(s"no part file under $d"))
            val dest = new java.io.File(f"$st/feed_$batch%04d.parquet")
            java.nio.file.Files.move(part.toPath, dest.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            require(dest.setLastModified(now - 600000 + batch * 1000L),
              s"cannot set mtime on $dest")
            batch += 1
          }
          i += 1
        }
        deleteRecursively(java.nio.file.Paths.get(tmp))
      }
      def sentinels(tag: Long, plusHours: Int): DataFrame = {
        import ss.implicits._
        Seq(("click", -tag, -1L), ("purchase", -tag - 1L, -2L))
          .toDF("event_type", "eid", "uid")
          .select(col("eid").as("event_id"), col("uid").as("user_id"),
            col("event_type"),
            (lit(maxTs) + expr(s"INTERVAL $plusHours HOURS")).as("event_ts"))
      }
      writeStaged(st, sentinels(1L, 2), "y_s1", now - 120000)
      writeStaged(st, sentinels(3L, 3), "z_s2", now - 60000)
    }
    (stage, ev.schema)
  }

  /** The stream-stream click ⋈ purchase join over [[outerJoinFeed]] that
    * s6 (inner), s12 (left outer), s15 (full outer) and s17 (left semi)
    * share: clicks joined to purchases by the same user within 30
    * minutes, both sides watermarked 1 hour. The delay exceeds the join
    * window and the chunks arrive in event-time order, so nothing arrives
    * late and no match is lost; an unmatched row flushes once the global
    * watermark passes its bound. Columns: c_user, click_id, c_ts, p_user,
    * purchase_id, p_ts (the right side's drop out of a semi join).
    *
    * The outer and semi gates run 4 state partitions, not 8: each
    * micro-batch initializes one state store per shuffle partition, and
    * store setup dominates this bounded feed's cost. Idle min-of-3
    * measured 3.4 s at 8 partitions and 2.5 s at 4, with 2 within noise
    * of 4. */
  def clickPurchaseJoin(ss: SparkSession, dir: String, how: String): DataFrame = {
    val (stage, schema) = outerJoinFeed(ss, dir)
    val src = stagedStream(ss, stage, schema)
    val clicks = src.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      how)
  }

  /** Planted-contamination seeding SHARED by `text_decontaminate` and
    * `pipe_training_corpus` (their DuckDB oracles mirror it verbatim —
    * keep all three sites in lockstep): the eval split is the fixed id
    * range doc_id < 40, and a disjoint train slice (doc_id % 10 = 3) gets
    * the same planted sentence so contamination hits exist at every scale
    * factor. */
  def seededDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") < 40 || col("doc_id") % 10 === 3,
        concat(col("text"),
          lit(" the quick brown fox jumps over the lazy dog tonight")))
        .otherwise(col("text")).as("text"))

  /** Money columns in the testdata are exact 2-decimal values; computing in
    * DECIMAL makes Spark and the DuckDB oracle bit-identical (double
    * accumulation order / round-half ties differ between engines). Final
    * results are cast back to double for a stable schema. */
  def money(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Differential invariants of an approximate-NN probe result (round-7
    * verdict #2): per query, the row count, the number of rows whose
    * `rank` matches an independently-recomputed (score desc, id asc)
    * row_number, and the number of scores EXACTLY equal to the cosine
    * recomputed from the raw embeddings table. For a correct probe the
    * scores are bit-equal (identical expression shape on identical
    * inputs), so the oracle is a constant row per query — any drift in
    * candidate generation, scoring, or TopK ordering breaks the hash. */
  def annInvariants(probe: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    probe
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("exact", try_divide(Similarity.dot(col("qv"), col("cv")),
        Similarity.l2norm(col("qv")) * Similarity.l2norm(col("cv"))))
      .withColumn("expected_rank", row_number().over(w))
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).cast("int").as("n_results"),
        sum(when(col("rank") === col("expected_rank"), 1).otherwise(0))
          .cast("int").as("n_rank_ok"),
        sum(when(col("score") === col("exact"), 1).otherwise(0))
          .cast("int").as("n_score_exact"),
        max(abs(col("score") - col("exact"))).as("max_score_err"))
  }



  /** Transitive closure over the planted 3-hop chain, ONE SQL text for
    * both engines (Spark 4 and DuckDB both run `WITH RECURSIVE`; only
    * the table name differs). Acyclic per-id path ⇒ UNION ALL recursion
    * terminates with each reachable pair exactly once. */
  def recursiveClosureSql(table: String): String =
    s"""WITH RECURSIVE e AS (
           SELECT doc_id AS src, doc_id + 100000 AS dst FROM $table WHERE doc_id < 50
           UNION ALL
           SELECT doc_id + 100000, doc_id + 200000 FROM $table WHERE doc_id < 50
           UNION ALL
           SELECT doc_id + 200000, doc_id + 300000 FROM $table WHERE doc_id < 50),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION ALL
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
       SELECT src, dst FROM reach"""

  /** Sliding 1 h windows every 30 min: count and decimal-exact value sum
    * per event type — shared by `q_sliding_window` and
    * `s5_stream_sliding`. */
  val slidingWindowOracleSql =
    """SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off AS window_start, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events,
            (VALUES (INTERVAL '0 minutes'), (INTERVAL '30 minutes')) o(off)
       GROUP BY 1, 2"""

  /** Gap-based (2 h) sessions per user by gaps-and-islands — shared by
    * `q_session_window` and `s5_stream_session` (the streaming form must
    * converge to exactly the batch answer). */
  val sessionWindowOracleSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            m AS (SELECT user_id, us,
                         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 7200000000
                              THEN 1 ELSE 0 END AS new_s
                  FROM e),
            s AS (SELECT user_id, us,
                         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
       SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
       FROM s GROUP BY user_id, sid"""

  /** Hourly tumbling-window count and decimal-exact value sum per event
    * type — shared by `q_time_window` and `s4_stream_window`. */
  val hourWindowOracleSql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2"""

  /** Error spikes joined to the clicks of the next 10 minutes — shared by
    * `q_range_join` and `s9_stream_range_join` (the streaming form must
    * converge to exactly the batch answer). */
  val rangeJoinOracleSql =
    """SELECT i.event_id AS spike_id, p.event_id AS click_id, p.user_id,
              epoch_us(p.ts) - epoch_us(i.ts) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'error' AND value > 150.0) i
       JOIN (SELECT * FROM events WHERE event_type = 'click') p
         ON epoch_us(p.ts) >= epoch_us(i.ts)
        AND epoch_us(p.ts) <= epoch_us(i.ts) + 600000000"""

  /** Per-user event count and exact-cents value sum — shared by
    * `t_stateful_running` and `t_stream_stateful`. */
  val runningCentsOracleSql =
    """SELECT user_id, COUNT(*) AS events,
              CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
                AS sum_cents
       FROM events GROUP BY user_id"""

  /** The language-ID stopword lists, in argmax priority order. */
  private val stopwordLists = Seq(
    "en" -> "the|a|of|and|to|in|is|it|that|for",
    "de" -> "der|die|das|und|ist|nicht|ein|zu|mit|den",
    "fr" -> "le|la|les|et|est|un|une|de|que|pour",
    "es" -> "el|la|los|las|es|un|una|que|de|por")

  /** DuckDB count of `lang`'s whole-word stopword hits in column `text`.
    * The `\\b` escapes yield a literal `\b`: an oracle that writes one in
    * its own `s"""` text gets a backspace, as the s interpolator processes
    * escapes even in triple quotes. */
  def stopHitsSql(lang: String, text: String = "text"): String =
    s"len(regexp_extract_all($text, '\\b(${stopwordLists.toMap.apply(lang)})\\b'))"

  /** The stopword-hit columns (`en, de, fr, es`) of the language-ID
    * oracles. */
  val langHitsSql: String =
    stopwordLists.map { case (l, _) => s"${stopHitsSql(l)} AS $l" }.mkString(",\n")

  /** Language-ID argmax over [[langHitsSql]]: the first language with the
    * most hits, 'und' when none hits. */
  val langCaseSql: String = {
    val all = stopwordLists.map(_._1).mkString(", ")
    stopwordLists.map { case (l, _) => s"WHEN $l > 0 AND $l = greatest($all) THEN '$l'" }
      .mkString("CASE ", "\n", " ELSE 'und' END")
  }

  /** The quality-score inputs `n_chars, n_words, n_stop, n_alpha` of
    * column `text`. */
  def qualityInputsSql(text: String = "text"): String =
    s"""length($text) AS n_chars,
        len(string_split($text, ' ')) AS n_words,
        ${stopHitsSql("en", text)} AS n_stop,
        len(regexp_extract_all($text, '[A-Za-z]')) AS n_alpha"""

  /** The quality score over n_words, n_alpha, n_chars and the English
    * stopword count column `stops`. */
  def qualityScoreSql(stops: String = "n_stop"): String =
    s"""least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
        least(CAST($stops AS DOUBLE) / CAST(n_words AS DOUBLE) * 5.0, 1.0) * 0.3 +
        CAST(n_alpha AS DOUBLE) / NULLIF(CAST(n_chars AS DOUBLE), 0) * 0.3"""

  /** Per-token unigram log-probabilities over the whole corpus: CTEs
    * `s, tok, vocab, tot, lp, g`, ending in each document's position-ordered
    * list `lps` (shared by the perplexity oracles). */
  val unigramLogProbCtes =
    """s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       tok AS (SELECT doc_id,
                      unnest(range(1, len(ws) + 1)) AS pos,
                      unnest(ws) AS w
               FROM s),
       vocab AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
       tot AS (SELECT COUNT(*) AS total FROM tok),
       lp AS (SELECT doc_id, pos,
                     -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) AS lp
              FROM tok JOIN vocab USING (w) CROSS JOIN tot),
       g AS (SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY doc_id)"""

  /** Mean of a document's `lps` by the zero-seeded position-ordered fold
    * the Spark side runs. */
  val meanLogProbSql = "list_reduce(list_prepend(0.0, lps), (a, b) -> a + b) / len(lps)"

  /** Bigram CTEs `s, b, bb, c2`: every (doc, position, w1, w2) and the
    * corpus count of each (w1, w2). */
  val bigramCtes =
    """s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       b AS (SELECT doc_id, unnest(range(0, len(w) - 1)) AS pos, w
             FROM s WHERE len(w) >= 2),
       bb AS (SELECT doc_id, pos, w[pos+1] AS w1, w[pos+2] AS w2 FROM b),
       c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bb GROUP BY 1, 2)"""

  /** Term-frequency CTEs `tok, tf, df, n`: per-document counts of terms
    * seen at least twice, their document frequency and the document
    * count. */
  val tfDfCtes =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)"""

  /** Chunk-windowing oracle (64-token windows, stride 48) — shared by
    * `corpus_chunk` and `s11_stream_chunk` (the streaming twin must
    * converge to exactly the batch answer, so one SQL serves both; a
    * geometry change edits ONE place). */
  val chunkOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            c AS (SELECT doc_id, toks,
                         CASE WHEN len(toks) <= 64 THEN 1
                              ELSE CAST(ceil((len(toks) - 16) / 48.0) AS INT)
                         END AS nc
                  FROM t),
            x AS (SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c)
       SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
              CAST(i * 48 AS BIGINT) AS start_token,
              CAST(len(toks[i*48+1 : i*48+64]) AS BIGINT) AS n_chunk_tokens,
              array_to_string(toks[i*48+1 : i*48+64], ' ') AS chunk_text
       FROM x"""

  /** DuckDB replay of [[c4StagedDocs]] + the C4 rules — ONE string for
    * `text_c4_clean` and `s13_stream_c4_clean` (the streaming twin must
    * converge to exactly the batch answer; a rule change edits one place,
    * the `corpus_chunk` precedent). */
  val c4CleanOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            c AS (SELECT doc_id, toks,
                         CAST(ceil(len(toks) / 6.0) AS INT) AS nl FROM t),
            x AS (SELECT doc_id, toks, unnest(range(0, nl)) AS i FROM c),
            ln AS (SELECT doc_id, i,
                     array_to_string(toks[i*6+1 : i*6+6], ' ') ||
                     CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 8))::UBIGINT % 10 < 7
                          THEN '.' ELSE '' END AS line
                   FROM x),
            stage AS (SELECT doc_id,
                        string_agg(line, chr(10) ORDER BY i) ||
                        CASE WHEN ('0x' || substr(md5('lorem#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 17 = 0
                             THEN chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.' ELSE '' END ||
                        CASE WHEN ('0x' || substr(md5('brace#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 13 = 0
                             THEN chr(10) || 'window.config = { template: true };' ELSE '' END AS text
                      FROM ln GROUP BY doc_id),
            k AS (SELECT doc_id, text,
                    list_filter(string_split(text, chr(10)),
                      l -> regexp_matches(l, '[.!?"]$') AND len(string_split(l, ' ')) >= 5) AS kept
                  FROM stage)
       SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
              CAST(len(kept) AS BIGINT) AS n_lines_kept,
              CAST(len(string_split(text, chr(10))) - len(kept) AS BIGINT) AS n_lines_dropped
       FROM k
       WHERE NOT (contains(lower(text), 'lorem ipsum') OR contains(text, '{'))
         AND len(kept) >= 3"""

  /** Deterministic line-structure staging for the C4-clean gates (shared
    * by `text_c4_clean` and its streaming twin `s13_stream_c4_clean`): the
    * word-soup corpus has no line structure, so tokens are cut into 6-word
    * lines, ~70% get a terminal '.' by content hash, and hash-picked docs
    * get a lorem-ipsum line (1/17) or a curly-brace line (1/13) appended —
    * all stateless per-row expressions (streaming-safe), mirrored
    * op-for-op in [[c4CleanOracleSql]]. */
  def c4StagedDocs(docs: DataFrame): DataFrame = {
    // token array hoisted out of the per-line lambda (r19, the
    // TextAnalysis.bigramStream fix): higher-order-function lambdas run
    // interpreted with no subexpression elimination, so the inline split
    // re-tokenized the document once per 6-word line.
    val toks = col("__toks")
    val nLines = ceil(size(toks) / 6.0).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      concat(array_join(slice(toks, i * 6 + 1, lit(6)), " "),
        when(Corpus.hashBucket(
          concat_ws("#", col("doc_id"), i.cast("string")), 10) < 7,
          lit(".")).otherwise(lit(""))))
    docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
      concat(array_join(lines, "\n"),
        when(Corpus.hashBucket(concat(lit("lorem#"),
          col("doc_id").cast("string")), 17) === 0,
          lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
          .otherwise(lit("")),
        when(Corpus.hashBucket(concat(lit("brace#"),
          col("doc_id").cast("string")), 13) === 0,
          lit("\nwindow.config = { template: true };"))
          .otherwise(lit(""))).as("text"))
  }

  /** DuckDB replay of the planted-contamination pipeline — ONE string for
    * `text_decontaminate` and `text_decontaminate_bloom` (the Bloom prune
    * is result-invariant, so both gates must hash to the same answer). */
  val decontaminateOracleSql =
    """WITH seeded AS (
         SELECT doc_id,
                CASE WHEN doc_id < 40 OR doc_id % 10 = 3
                     THEN text || ' the quick brown fox jumps over the lazy dog tonight'
                     ELSE text END AS text
         FROM documents),
         s AS (SELECT doc_id, string_split(text, ' ') AS w FROM seeded),
         t AS (SELECT doc_id,
                      list_distinct([ w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
                                      w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
                                      for i in range(1, len(w)-6) ]) AS sh
               FROM s WHERE len(w) >= 8),
         ev AS (SELECT DISTINCT unnest(sh) AS g FROM t WHERE doc_id < 40),
         tr AS (SELECT doc_id, unnest(sh) AS g FROM t WHERE doc_id >= 40)
       SELECT tr.doc_id AS doc_id, COUNT(DISTINCT tr.g) AS n_hits
       FROM tr JOIN ev ON tr.g = ev.g
       GROUP BY tr.doc_id"""

  /** Deterministic line staging WITH PLANTED REPETITION for
    * `text_dup_lines`: 6-word lines (no punctuation needed here), then
    * the document's first line is re-appended k = md5-hash%4 ∈ {0,1,2,3}
    * times, so duplicate-line counts span 0–3 and both directions of the
    * repetition signal are exercised. Stateless per-row expressions,
    * mirrored op-for-op by the oracle's `repeat(chr(10) || line0, k)`. */
  def repStagedDocs(docs: DataFrame): DataFrame = {
    // token array hoisted out of the per-line lambda (r19 — see
    // [[c4StagedDocs]]; same interpreted-lambda re-split fix)
    val toks = col("__toks")
    val nLines = ceil(size(toks) / 6.0).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      array_join(slice(toks, i * 6 + 1, lit(6)), " "))
    val line0 = array_join(slice(toks, 1, 6), " ")
    val k = Corpus.hashBucket(concat(lit("dup#"),
      col("doc_id").cast("string")), 4)
    docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
      concat(array_join(lines, "\n"),
        when(k >= 1, concat(lit("\n"), line0)).otherwise(lit("")),
        when(k >= 2, concat(lit("\n"), line0)).otherwise(lit("")),
        when(k >= 3, concat(lit("\n"), line0)).otherwise(lit("")))
        .as("text"))
  }

  /** Deterministic paragraph staging for `dedup_paragraphs`: the corpus
    * is flat single-line text, so tokens are cut into 8-word paragraphs
    * joined by '\n' (the tiny word vocabulary makes cross-document
    * paragraph collisions real). */
  def paraStagedDocs(docs: DataFrame): DataFrame = {
    // token array hoisted out of the per-paragraph lambda (r19 — see
    // [[c4StagedDocs]]; interpreted lambdas re-split per element)
    val toks = col("__toks")
    val nPara = ceil(size(toks) / lit(8.0)).cast("int")
    docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        array_join(transform(sequence(lit(0), nPara - 1),
          i => array_join(slice(toks, i * 8 + 1, lit(8)), " ")), "\n").as("text"))
  }

  /** 3-gram shingle CTEs shared by every jaccard-family oracle
    * (DedupGates) and by corpus_split_safe's near-dup edges
    * (CorpusGates) — lives here so neither gate object references the
    * other (object-init cycles NPE at class load). */
  val shingleCte =
    """s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       t AS (SELECT doc_id,
                    list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w)-1) ]) AS sh
             FROM s WHERE len(w) >= 3)"""

  /** Exact pairwise Jaccard ≥ `threshold` via the INVERTED-INDEX
    * candidate join (r15 verdict #1): a pair with jaccard > 0 must share
    * ≥1 shingle, so the shared-shingle equi-self-join enumerates every
    * qualifying pair's intersection COUNT directly and the pair space
    * never materializes — the same lossless argument as the Spark side's
    * prefix-filtered AllPairs (Dedup.scala). Proven EQUAL to the brute
    * `t a JOIN t b ON a.doc_id < b.doc_id` all-pairs form at sf0.001 and
    * sf0.01 (count + pair-id checksum + jaccard sum), and it is what
    * makes the sf1 oracle sweep feasible: ~30 s in DuckDB at 60k docs
    * (bounded shingle df by the Heaps-law corpus design) vs hours for
    * the brute form's 1.8e9 list_intersect pairs. */
  def jaccardPairsSql(threshold: Double): String =
    s"""WITH $shingleCte,
        e AS (SELECT doc_id, unnest(sh) AS g FROM t),
        sz AS (SELECT doc_id, len(sh) AS z FROM t),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / CAST(za.z + zb.z - i AS DOUBLE) AS jaccard
      FROM inter JOIN sz za ON inter.doc_a = za.doc_id
                 JOIN sz zb ON inter.doc_b = zb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(za.z + zb.z - i AS DOUBLE) >= $threshold"""

  /** The natural near-dup edge set (jaccard ≥ 0.8 pairs) as a CTE body —
    * shared by the closure oracles (dedup_cluster_cc, dedup_keep_best,
    * corpus_split_safe). Same inverted-index construction as
    * [[jaccardPairsSql]], without the WITH prefix so it splices into a
    * WITH RECURSIVE chain. */
  val natEdgesCtes =
    """e AS (SELECT doc_id, unnest(sh) AS g FROM t),
       sz AS (SELECT doc_id, len(sh) AS z FROM t),
       inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
                 FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       nat AS (SELECT da, db
               FROM inter JOIN sz za ON inter.da = za.doc_id
                          JOIN sz zb ON inter.db = zb.doc_id
               WHERE CAST(i AS DOUBLE) / CAST(za.z + zb.z - i AS DOUBLE) >= 0.8)"""

  /** DuckDB cosine of the `v` vectors of rows `a` and `b`; NULL when
    * either norm is zero (the engine's try_divide convention — plain
    * division would give NaN, which DuckDB sorts above every value). */
  def cosineSql(a: String, b: String): String =
    s"""CASE WHEN list_dot_product($a.v, $a.v) = 0
              OR list_dot_product($b.v, $b.v) = 0 THEN NULL
            ELSE list_dot_product($a.v, $b.v) /
                 (sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))
       END"""

  /** Cosine top-5 per query: `scored` (each query row `q` against each
    * candidate row `c` of `from`), `ranked` (score desc, id asc, zero-norm
    * pairs dropped) and the final top-5 select. */
  def cosineTop5Sql(from: String): String =
    s"""scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosineSql("q", "c")} AS s
          FROM $from),
        ranked AS (
          SELECT query_id, neighbor_id, s,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC) AS rank
          FROM scored WHERE s IS NOT NULL)
       SELECT query_id, neighbor_id, s AS score, CAST(rank AS INT) AS rank
       FROM ranked WHERE rank <= 5"""

  /** Brute-force cosine top-k oracle — shared by `sim_brute_topk` and
    * `sim_ivf_exhaustive` (IVF probing every cell IS exhaustive search). */
  val bruteTopkSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT * FROM e WHERE vec_id < 10),
            ${cosineTop5Sql("q JOIN e c ON q.vec_id <> c.vec_id")}"""

  /** Full SQL replication of `Similarity.lshTopK(k=5, nPlanes=6)`: the
    * seeded hyperplanes are deterministic, so their exact values are
    * interpolated as DOUBLE[] literals (java.lang.Double.toString
    * round-trips every double) and the sign bucket is recomputed in
    * DuckDB — bucket bits agree because both engines produce bit-identical
    * left-to-right double dot products (proven by sim_brute_topk's hash). */
  val lshTopkSql: String = {
    val planes = Similarity.hyperplanes(nPlanes = 6, dim = 64, seed = 42L)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
            q AS (SELECT * FROM b WHERE vec_id < 10),
            ${cosineTop5Sql("q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id")}"""
  }

  /** Full SQL replication of `Similarity.lshMultiProbeTopK(k=5, nPlanes=6,
    * nFlips=2)` — the query-directed multi-probe extension of
    * [[lshTopkSql]]: the per-plane projections are recomputed from the
    * same interpolated plane literals, the two planes with the smallest
    * |projection| (ties by plane index — the same (magnitude, index)
    * ordering the Spark struct sort uses) contribute one 1-bit-flipped
    * probe bucket each, and candidates come from ANY of the query's three
    * probe buckets. Probe buckets are pairwise distinct, so no DISTINCT
    * is needed before ranking. */
  val lshMultiProbeTopkSql: String = {
    val nPlanes = 6
    val nFlips = 2
    val planes = Similarity.hyperplanes(nPlanes = nPlanes, dim = 64, seed = 42L)
    val lits = planes.map(p =>
      p.map(java.lang.Double.toString).mkString("[", ",", "]"))
    val bucket = lits.zipWithIndex.map { case (arr, j) =>
      s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val projList = lits.map(arr => s"list_dot_product(v, $arr)")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            b AS (SELECT vec_id, v, $bucket AS bucket, $projList AS pr FROM e),
            q AS (SELECT * FROM b WHERE vec_id < 10),
            f AS (SELECT vec_id, CAST(t.range AS INT) AS j
                  FROM q CROSS JOIN range(0, $nPlanes) t
                  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY abs(pr[CAST(t.range AS INT) + 1]), t.range) <= $nFlips),
            probes AS (
              SELECT vec_id, bucket FROM q
              UNION ALL
              SELECT q.vec_id, xor(q.bucket, CAST(1 AS BIGINT) << f.j) AS bucket
              FROM q JOIN f USING (vec_id)),
            ${cosineTop5Sql("probes p JOIN q ON q.vec_id = p.vec_id " +
              "JOIN b c ON c.bucket = p.bucket AND q.vec_id <> c.vec_id")}"""
  }

}
