package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_micros}

import graft.profile.{Profile, Record}

/** The deterministic counters of the one gate recorder: each is pinned on
  * a workload whose value follows from its shape, so a recorder that
  * misses events (an undrained bus) or leaks them across windows fails. */
class ProfileSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("a fixed repartition reports an exact shuffle-record total") {
    val (n, parts, k) = (10000L, 3, 6)
    val (cnt, rec) = Profile.during(spark) {
      spark.range(0L, n, 1L, parts).repartition(k).count()
    }
    assert(cnt === n)
    // the round-robin exchange writes every row once (n); count()'s
    // partial aggregate then writes one row per repartitioned partition
    // (k) into the final single-partition exchange
    assert(rec.shuffleRecords === n + k)
    assert(rec.shuffleBytes > 0L && rec.jobs >= 1L && rec.stages >= 2L)
    // the window is drained on both edges: nothing leaks into the next one
    val (_, empty) = Profile.during(spark)(())
    assert(empty.jobs === 0L && empty.stages === 0L && empty.shuffleRecords === 0L)
  }

  test("re-running the same DataFrame compiles no code") {
    val df = spark.range(0L, 5000L, 1L, 2)
      .select((col("id") % 7).as("k"), (col("id") * 3).as("v"))
      .groupBy("k").sum("v")
    df.collect()
    val (rows, rec) = Profile.during(spark)(df.collect())
    assert(rows.length === 7)
    assert(rec.compiles === 0L, s"a warm re-run must hit the codegen cache: ${rec.render}")
    assert(rec.jobs >= 1L)
  }

  test("parquet queries differing only in filter constants share one compiled class") {
    // a long equality, a double range, a timestamp window and an 8-value
    // long IN: every constant type the whole-stage source used to inline
    val n = 4000L
    val dir = java.nio.file.Files.createTempDirectory("profile_spec_params").toString
    spark.range(0L, n, 1L, 2)
      .select(col("id").as("k"), (col("id") * 0.37).as("p"),
        timestamp_micros(col("id") * 60000000L).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val minute = 60000L // ms per row of ts
    def query(key: Long, lo: Double, hi: Double, from: Long, until: Long,
        in: Seq[Long]): (DataFrame, Seq[Long]) = {
      val df = spark.read.parquet(dir)
        .where(col("k") === key || (col("p") >= lo && col("p") < hi) ||
          (col("ts") >= new Timestamp(from * minute) && col("ts") < new Timestamp(until * minute)) ||
          col("k").isin(in: _*))
        .select("k")
      val expected = (0L until n).filter(k => k == key || (k * 0.37 >= lo && k * 0.37 < hi) ||
        (k >= from && k < until) || in.contains(k))
      (df, expected)
    }
    val (first, firstRows) = query(7L, 100.0, 101.5, 2000L, 2005L,
      Seq(11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L))
    val (second, secondRows) = query(3001L, 900.0, 900.9, 3500L, 3502L,
      Seq(41L, 43L, 47L, 53L, 59L, 61L, 67L, 71L))
    assert(first.collect().map(_.getLong(0)).sorted.toSeq === firstRows)
    val (rows, rec) = Profile.during(spark)(second.collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === secondRows)
    assert(rec.compiles === 0L,
      s"new filter constants must bind at run time, not recompile: ${rec.render}")
  }

  test("a stateful memory stream reports its state-row peak and batches") {
    val in = MemoryStream[Int](Encoders.scalaInt, spark.sqlContext)
    val (_, rec) = Profile.during(spark) {
      val q = in.toDF().groupBy((col("value") % 5).as("k")).count()
        .writeStream.format("memory").queryName("profile_spec_state")
        .outputMode("complete").start()
      try {
        in.addData(1 to 20); q.processAllAvailable()
        in.addData(21 to 40); q.processAllAvailable()
      } finally q.stop()
    }
    // two data batches; five grouping keys (value % 5) held in state
    assert(rec.batches === 2L, rec.render)
    assert(rec.peakStateRows === 5L, rec.render)
    assert(rec.peakStateBytes > 0L, rec.render)
  }

  test("an untracked state-row count renders as n/a, not 0") {
    val r = Record(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 1, 2097152, -1, 11, 12)
    val line = r.render
    assert(line.contains("peak_state_rows=n/a"), line)
    assert(!line.contains("peak_state_rows=0"), line)
    assert(r.copy(peakStateRows = 0).render.contains("peak_state_rows=0"))
    val keys = line.split(" ").map(_.takeWhile(_ != '=')).toSeq
    assert(keys === Seq("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
      "shuffle_records", "shuffle_bytes", "spill_bytes", "compiles", "batches",
      "peak_state_mem", "peak_state_rows", "commit_ms", "add_batch_ms"))
    assert(line.contains("peak_state_mem=2.0MB"), line)
  }
}
