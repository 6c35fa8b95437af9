package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** The event-time ingestion adapter and the testdata-drift tripwire.
  *
  * Round 9 lost 19 gates to a silent regeneration of `events.parquet`
  * (`ts` flipped from TIMESTAMP(NANOS)-read-as-Long to `timestamp[us]`).
  * These cases pin the contract: [[Tables.tsFromNanos]] restores the SAME
  * instant from either encoding, and [[Tables.load]] fails loudly — not 19
  * gates deep — when an encoding outside the accepted set appears.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession.{spark, table}

  // one instant, both wire encodings: 2024-03-15T12:34:56.789012 UTC
  private val micros = 1710506096789012L

  test("tsFromNanos: Long-nanos input converts via exact integral division") {
    import spark.implicits._
    val df = Seq(micros * 1000L, 0L).toDF("ts")
      .select(Tables.tsFromNanos(col("ts")).as("event_ts"))
    assert(df.schema("event_ts").dataType === TimestampType)
    assert(df.select(unix_micros(col("event_ts"))).as[Long].collect().toSeq
      === Seq(micros, 0L))
  }

  test("tsFromNanos: Long-nanos conversion is exact where double division is not") {
    import spark.implicits._
    // 1.7e18-scale nanos exceed double's 2^53 exact range; the adapter
    // must not round-trip through DOUBLE (the bug the decimal path fixed)
    val odd = 1700000000000001001L // → 1700000000000001 µs exactly
    val got = Seq(odd).toDF("ts")
      .select(unix_micros(Tables.tsFromNanos(col("ts"))).as("us"))
      .as[Long].head()
    assert(got === 1700000000000001L)
  }

  test("tsFromNanos: TIMESTAMP_NTZ input (current testdata) passes through UTC-identically") {
    import spark.implicits._
    val df = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(df.schema("ts").dataType === TimestampNTZType)
    val got = df.select(unix_micros(Tables.tsFromNanos(col("ts"))).as("us"))
      .as[Long].head()
    assert(got === micros)
  }

  test("tsFromNanos: TimestampType input is a no-op passthrough") {
    import spark.implicits._
    val df = Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val got = df.select(unix_micros(Tables.tsFromNanos(col("ts"))).as("us"))
      .as[Long].head()
    assert(got === micros)
  }

  test("tsFromNanos: an unsupported encoding fails with an actionable message") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq("2024-01-01").toDF("ts")
        .select(Tables.tsFromNanos(col("ts"))).collect()
    }
    assert(err.getMessage.contains("NormalizeEventTs") ||
      Option(err.getCause).exists(_.getMessage.contains("NormalizeEventTs")))
  }

  test("tsMicros agrees with the DuckDB oracle's epoch_us on real events") {
    // epoch_us(ts) in the oracle == tsMicros(ts) here; spot-check bounds
    // and a value round-trip on the actual table
    val mm = table("events")
      .select(min(Tables.tsMicros(col("ts"))).as("lo"), max(Tables.tsMicros(col("ts"))).as("hi"))
      .head()
    val lo = mm.getLong(0); val hi = mm.getLong(1)
    assert(lo > 1500000000000000L && hi < 2500000000000000L, s"micros out of plausible range: $lo..$hi")
  }

  test("load: drift tripwire rejects a ts encoding outside the accepted set") {
    // exercise checkShape via a table written with a drifted ts type
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toFile
    dir.deleteOnExit()
    writeEvents(dir, lit("not-a-time"))
    val err = intercept[IllegalArgumentException] {
      Tables.load(spark, dir.getAbsolutePath, "events")
    }
    assert(err.getMessage.contains("testdata drift"))
    assert(err.getMessage.contains("events.ts"))
  }

  private def writeEvents(dir: java.io.File, ts: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, "x")).toDF("event_id", "props")
      .withColumn("ts", ts)
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
  }

  test("load: the schema is inferred once per session; later loads submit no job") {
    import SparkTestSession.{jobsDuring, sfDir}
    val session = spark.newSession()
    val (first, firstJobs) = jobsDuring(Tables.load(session, sfDir, "orders"))
    val (second, secondJobs) = jobsDuring(Tables.load(session, sfDir, "orders"))
    assert(firstJobs === 1, "the first load infers the schema with one job")
    assert(secondJobs === 0, "a later load must reuse the schema without a job")
    assert(second.schema === first.schema)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(second) === rows(first))
  }

  test("load: rewriting a loaded table re-infers, so the drift tripwire still fires") {
    val dir = java.nio.file.Files.createTempDirectory("graft-redrift").toFile
    dir.deleteOnExit()
    writeEvents(dir, current_timestamp().cast(TimestampNTZType))
    assert(Tables.load(spark, dir.getAbsolutePath, "events").schema("ts").dataType
      === TimestampNTZType)
    writeEvents(dir, lit("not-a-time"))
    val err = intercept[IllegalArgumentException] {
      Tables.load(spark, dir.getAbsolutePath, "events")
    }
    assert(err.getMessage.contains("testdata drift"))
    assert(err.getMessage.contains("events.ts"))
  }

  test("load: parquet confs key the schema memo") {
    import SparkTestSession.{jobsDuring, sfDir}
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val session = spark.newSession()
    session.conf.set(nanos, "true")
    assert(jobsDuring(Tables.load(session, sfDir, "events"))._2 === 1)
    assert(jobsDuring(Tables.load(session, sfDir, "events"))._2 === 0)
    // another session with a different value infers its own schema
    val other = spark.newSession()
    other.conf.set(nanos, "false")
    assert(jobsDuring(Tables.load(other, sfDir, "events"))._2 === 1)
    // and so does the same session once the value changes
    session.conf.set(nanos, "false")
    assert(jobsDuring(Tables.load(session, sfDir, "events"))._2 === 1)
    session.conf.set(nanos, "true")
    assert(jobsDuring(Tables.load(session, sfDir, "events"))._2 === 0)
    // a conf that changes the inferred type is never answered from the memo
    session.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.load(session, sfDir, "events").schema("ts").dataType === TimestampType)
  }

  test("load: real testdata passes the shape guard for every table") {
    Tables.all.foreach { name => table(name) } // require() inside load throws on drift
    assert(table("events").schema("ts").dataType === TimestampNTZType)
  }
}
