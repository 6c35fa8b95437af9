package graft.channel

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dsl.{Order, Pred, Q}
import graft.mql.{MqlParseException, MqlParser}
import graft.sources.Tables

/** S5 — the reference's channel builder (mutable query-settings builder with
  * fail-fast validation), Spark-first.
  *
  * Reference (src/main/scala/mongo/channel/package.scala:206-263
  * `MutableBuilder`, :250-260 `build()` validation, :265-319
  * `ChannelBuilder`): the user mutates q/db/collection/sort/limit/skip;
  * MQL text is parsed immediately and a parse failure is carried until
  * `build()`, where it (or a missing query/db/collection) fails the `Task`,
  * surfacing on the stream's error channel
  * (test/IntegrationMongoClientSpec.scala:59-129).
  *
  * Spark translation: validation errors throw before any job is planned —
  * the analogue of Catalyst's fail-fast `AnalysisException` at analysis
  * time. A successful build yields a lazily-planned DataFrame.
  */
final class MutableBuilder private[channel] () {
  private[channel] var pred: Option[Pred] = None
  private[channel] var parseError: Option[String] = None
  private[channel] var tableName: Option[String] = None
  private[channel] var memCollectionName: Option[String] = None
  private[channel] var sortKeys: Seq[(String, Order.Value)] = Nil
  private[channel] var limitN: Option[Int] = None
  private[channel] var skipN: Option[Int] = None
  private[channel] var maxTimeMs: Option[Long] = None
  private[channel] var readPref: Option[ReadPreference] = None
  private[channel] var readPrefError: Option[String] = None

  /** MQL query text — parsed immediately; failure is remembered and thrown
    * at build, as the reference stores `-\/(error)`
    * (channel/package.scala:216-223). */
  def q(mql: String): Unit =
    try pred = Some(MqlParser.parse(mql))
    catch { case e: MqlParseException => parseError = Some(e.getMessage) }

  /** Pre-compiled predicate (DSL path). */
  def where(p: Pred): Unit = pred = Some(pred.fold(p)(_ && p))
  def collection(name: String): Unit = tableName = Some(name)

  /** Read through the DSv2 connector (a registered `MemStore` collection)
    * instead of the parquet catalog — the path on which the cursor options
    * below are enforced store-side. */
  def memCollection(name: String): Unit = memCollectionName = Some(name)
  def sort(keys: (String, Order.Value)*): Unit = sortKeys = keys
  def limit(n: Int): Unit = limitN = Some(n)
  def skip(n: Int): Unit = skipN = Some(n)

  /** O4 — server-side query deadline (reference channel/package.scala:241):
    * forwarded to the connector, which fails the query on expiry. */
  def maxTimeMS(ms: Long): Unit = maxTimeMs = Some(ms)

  /** T7 — read preference (reference channel/package.scala:276): the full
    * typed surface (mode + preferred + tag sets, mongo/package.scala:24-54),
    * validated fail-fast and forwarded to the connector, which records the
    * canonical mode string plus routing metadata like a driver would route
    * it. String form accepts `secondaryPreferred[dc=east,rack=r1;dc=west]`;
    * an invalid mode/combination is remembered and thrown at build, like a
    * bad MQL query (reference stores `-\/(error)`). */
  def readPreference(pref: String): Unit =
    try { readPref = Some(ReadPreference.parse(pref)); readPrefError = None }
    catch { case e: IllegalArgumentException => readPrefError = Some(e.getMessage) }

  /** Typed overload — already-validated preference. */
  def readPreference(pref: ReadPreference): Unit = {
    readPref = Some(pref); readPrefError = None
  }
}

object Channel {

  /** Run the user's builder and apply the checks every channel shares
    * (reference build() validation, channel/package.scala:250-260): a
    * remembered MQL parse error, an invalid read preference, no query. */
  private def validated(f: MutableBuilder => Unit): MutableBuilder = {
    val b = new MutableBuilder
    f(b)
    b.parseError.foreach(e => throw new MqlParseException(e))
    b.readPrefError.foreach(e => throw new IllegalArgumentException(e))
    if (b.pred.isEmpty)
      throw new IllegalArgumentException("Query is not set")
    b
  }

  /** Build and run the channel; throws on invalid MQL or missing collection
    * (reference build() validation, channel/package.scala:250-260). */
  def create(spark: SparkSession, sfDir: String)(f: MutableBuilder => Unit): DataFrame = {
    val b = validated(f)
    val q = Q(pred = b.pred, sortKeys = b.sortKeys, skipN = b.skipN, limitN = b.limitN)
    val source = b.memCollectionName match {
      case Some(mem) =>
        var r = spark.read.format("graft.sources.mem.GraftMemSource")
          .option("collection", mem)
        b.maxTimeMs.foreach(ms => r = r.option("maxTimeMS", ms.toString))
        b.readPref.foreach(p => r = r.option("readPreference", p.render))
        r.load()
      case None =>
        val table = b.tableName.getOrElse(
          throw new IllegalArgumentException("Collection is not set"))
        Tables.load(spark, sfDir, table)
    }
    q(source)
  }

  /** STREAMING channel — the reference's channels are observables at heart
    * (the DB query runs inside a scalaz-stream/Rx stream,
    * channel/package.scala:265-319); this is that surface on Structured
    * Streaming: the same builder validation, the same MQL predicate, but
    * the source is the connector's MicroBatchStream, so the query is a
    * continuous cursor with offset resume (`startOffset` = the reference's
    * "resume the log from here"; checkpointed restarts are exactly-once —
    * the s19/t_stream_restart machinery). Sort/limit/skip and maxTimeMS
    * are batch-cursor concepts and are rejected fail-fast, like the
    * reference's build() validation rejects inconsistent settings. */
  /** `keyBy`: the PARTITIONED stream form — the offset becomes a per-key
    * consumed-rank map over this column (the reference's
    * (persistence_id, sequence_nr) resume, log/package.scala:56-62), so
    * one channel over a multi-key log restarts every key at its own
    * checkpointed position and `startOffset` applies per key. */
  def stream(spark: SparkSession, startOffset: Long = 0L,
      keyBy: Option[String] = None)
      (f: MutableBuilder => Unit): DataFrame = {
    val b = validated(f)
    val mem = b.memCollectionName.getOrElse(
      throw new IllegalArgumentException(
        "Streaming channels read the connector: memCollection is not set"))
    if (b.sortKeys.nonEmpty || b.limitN.isDefined || b.skipN.isDefined ||
        b.maxTimeMs.isDefined)
      throw new IllegalArgumentException(
        "sort/limit/skip/maxTimeMS are cursor options; a streaming channel " +
          "is an unbounded cursor (use startOffset to resume)")
    var r = spark.readStream.format("graft.sources.mem.GraftMemSource")
      .option("collection", mem)
      .option("startOffset", startOffset.toString)
    keyBy.foreach(k => r = r.option("keyColumn", k))
    b.readPref.foreach(p => r = r.option("readPreference", p.render))
    r.load().where(b.pred.get.column)
  }
}
