package userbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.channel.Channel
import graft.dsl.{Order, Pred}
import graft.dsl.Dsl._
import graft.mql.MqlParser
import graft.operators.Joins
import graft.sources.Tables
import graft.sources.mem.{MemStore, MemWireServer, QuerySpec, SocketStoreClient}
import graft.streaming.Stateful
import graft.streaming.Stateful.KeyedCount

import Gen._

/** What the harness needs from the run it is in. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tr: Tracer) {
  val dataDir: String = work.resolve("data").toString
}

/** The outcome of one timed op: its unit rows and what the check reads. */
final case class Outcome(unitRows: Long, result: Any)

/** One workload: a seeded op sequence against graft's public API. */
trait Workload {
  /** Timed ops per second of `--seconds`: a run does
    * ceil(seconds * opsPerSecond) ops whatever the wall clock says. */
  def opsPerSecond: Double
  def warmupOps: Int
  /** Generates and registers the inputs; op sequences are fixed by `n`. */
  def setup(n: Int): Unit
  /** Untimed, before op `i`: builds the op's input. */
  def prepare(i: Int): Unit = ()
  /** The timed part of op `i` (warm-up ops have negative indices). */
  def run(i: Int): Outcome
  /** Untimed comparison with the independent answer. */
  def check(i: Int, o: Outcome): Option[String]
  /** Traced ops only, untimed: layer readings that need extra calls. */
  def layers(i: Int, o: Outcome, probe: Probe): Map[String, Double]
  def close(): Unit
}

object Frames {
  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  val ordersSchema: StructType = StructType(Seq(
    f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
    f("o_totalprice", DoubleType), f("o_orderdate", TimestampType), f("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
    f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
    f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
    f("l_linestatus", StringType), f("l_shipdate", TimestampType)))

  val journalSchema: StructType = StructType(Seq(
    f("persistence_id", LongType), f("sequence_nr", LongType), f("value", DoubleType)))

  def ts(day: Int): java.sql.Timestamp = new java.sql.Timestamp(dayMillis(day))

  def orders(spark: SparkSession, o: Orders): DataFrame =
    spark.createDataFrame((0 until o.n).map { i =>
      Row(i.toLong, o.cust(i), o.status(i), o.price(i), ts(o.day(i)), o.priority(i))
    }.asJava, ordersSchema)

  def lineitems(spark: SparkSession, l: Lineitems): DataFrame =
    spark.createDataFrame((0 until l.n).map { i =>
      Row(l.orderkey(i), l.partkey(i), l.suppkey(i), l.linenumber(i), l.quantity(i).toDouble,
        l.price(i), l.discount(i) / 100.0, l.tax(i) / 100.0, l.returnflag(i), l.linestatus(i),
        ts(l.shipday(i)))
    }.asJava, lineitemSchema)

  def journal(spark: SparkSession, j: Journal, from: Int, until: Int): DataFrame =
    spark.createDataFrame((from until until).map { i =>
      Row(j.pid(i), j.seq(i), j.value(i))
    }.asJava, journalSchema)
}

object Workload {
  /** `Channel.create` calls `Tables.load` inside; a traced op times the
    * load on its own by calling it again, as a user of the catalog would. */
  def loadProbe(ctx: Ctx, i: Int, probe: Probe): Map[String, Double] = {
    val ms = probe.aside("sources.load") {
      val t0 = ctx.tr.nowMs
      Tables.load(ctx.spark, ctx.dataDir, "orders")
      ctx.tr.nowMs - t0
    }
    Map("sources.load_ms" -> ms, "sources.load_jobs" -> probe.of(i).getOrElse("probe.jobs@sources.load", 0.0))
  }

  /** A day as an MQL date literal (the reference's date format). */
  def mqlDate(day: Int): String = {
    val f = new java.text.SimpleDateFormat("dd MMM yyyy hh:mm:ss:SSS a z", java.util.Locale.ENGLISH)
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(new java.util.Date(dayMillis(day)))
  }
}

/** Row of the journal as the stream types it. */
final case class JournalRow(persistence_id: Long, sequence_nr: Long, value: Double)

/** A seeded stream of small queries through `Channel.create`. Each op
  * issues its query twice, once over parquet (`Tables.load`) and once over
  * the MemStore collection, and each returns at most about 100 rows, so
  * the fixed cost of building, planning, compiling and scheduling a query
  * is most of each op. (Single queries split half and half between the
  * sources made the latency bimodal with the median on the gap.) */
final class PushdownQuery(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  val opsPerSecond = 4.0
  val warmupOps = 8
  private var o: Orders = _
  private var plan: IndexedSeq[Query] = _
  private var warm: IndexedSeq[Query] = _

  def setup(n: Int): Unit = {
    o = Gen.orders(ctx.seed)
    val df = Frames.orders(spark, o)
    df.write.mode("overwrite").parquet(s"${ctx.dataDir}/orders.parquet")
    MemStore.register("orders", df)
    plan = Gen.queries(ctx.seed, n)
    warm = Gen.queries(ctx.seed, warmupOps, salt = 11)
  }

  private def query(i: Int): Query = if (i < 0) warm(-i - 1) else plan(i)
  private def money(cents: Long): Double = cents / 100.0
  private def mql(text: String): Pred = tr.span("mql.parse")(MqlParser.parse(text))

  private def issue(q: Query, mem: Boolean): Array[Row] = {
    val parsed: Option[Pred] = q match {
      case Point(k) => Some(mql(s"""{"o_orderkey": $k}"""))
      case PriceRange(lo, hi, _) =>
        Some(mql(s"""{"o_totalprice": {"$$gte": ${money(lo)}, "$$lt": ${money(hi)}}}"""))
      case _ => None
    }
    val df = tr.span("channel.build") {
      Channel.create(spark, ctx.dataDir) { b =>
        if (mem) b.memCollection("orders") else b.collection("orders")
        parsed.foreach(b.where)
        q match {
          case PriceRange(_, _, lim) =>
            b.sort("o_totalprice" -> Order.Ascending, "o_orderkey" -> Order.Ascending)
            b.limit(lim)
          case CustIn(cs) => b.where("o_custkey" $in cs)
          case DateWindow(d, n, skip, lim) =>
            b.where("o_orderdate" $gte Frames.ts(d) $lt Frames.ts(d + n))
            b.sort("o_orderdate" -> Order.Ascending, "o_orderkey" -> Order.Ascending)
            b.skip(skip)
            b.limit(lim)
          case StatusPrice(s, lo, hi, lim) =>
            b.where(("o_orderstatus" $eq s) && ("o_totalprice" $gte money(lo) $lt money(hi)))
            b.sort("o_orderkey" -> Order.Descending)
            b.limit(lim)
          case _ => ()
        }
      }
    }
    tr.span("execute")(df.collect())
  }

  def run(i: Int): Outcome = {
    val q = query(i)
    val parquet = issue(q, mem = false)
    val store = issue(q, mem = true)
    Outcome(parquet.length + store.length, (parquet, store))
  }

  def check(i: Int, out: Outcome): Option[String] = {
    def tuples(rows: Array[Row]) = rows.toSeq.map { r =>
      val cents = math.round(r.getDouble(3) * 100)
      val day = (r.getTimestamp(4).getTime / 86400000L - Day0).toInt
      (r.getLong(0), r.getLong(1), r.getString(2), cents, day, r.getString(5))
    }
    val (parquet, store) = out.result.asInstanceOf[(Array[Row], Array[Row])]
    Checks.compareQuery(o, query(i), tuples(parquet)).map("parquet: " + _)
      .orElse(Checks.compareQuery(o, query(i), tuples(store)).map("store: " + _))
  }

  def layers(i: Int, out: Outcome, probe: Probe): Map[String, Double] = {
    val store = out.result.asInstanceOf[(Array[Row], Array[Row])]._2
    val served = MemStore.served.get("orders").map(_.get.toDouble).getOrElse(0.0)
    Map("mem.rows_served" -> served,
      "mem.served_per_returned" -> served / math.max(1, store.length)) ++
      Workload.loadProbe(ctx, i, probe)
  }

  def close(): Unit = ()
}

/** Reference J1 against the wire: an MQL o_orderdate window of parquet orders
  * joined with lineitem read over loopback from the MemStore row server,
  * with an l_quantity band pushed to the store; the op collects count and
  * sum(l_extendedprice) per o_orderstatus. */
final class WireJoin(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  val opsPerSecond = 4.0
  val warmupOps = 6
  private var o: Orders = _
  private var l: Lineitems = _
  private var server: MemWireServer = _
  private var plan: IndexedSeq[JoinOp] = _
  private var warm: IndexedSeq[JoinOp] = _

  def setup(n: Int): Unit = {
    o = Gen.orders(ctx.seed)
    l = Gen.lineitems(ctx.seed, o)
    Frames.orders(spark, o).write.mode("overwrite").parquet(s"${ctx.dataDir}/orders.parquet")
    MemStore.register("lineitem", Frames.lineitems(spark, l))
    server = MemWireServer.start()
    plan = Gen.joins(ctx.seed, n)
    warm = Gen.joins(ctx.seed, warmupOps, salt = 21)
  }

  private def joinOp(i: Int): JoinOp = if (i < 0) warm(-i - 1) else plan(i)
  private def shipped: Long = MemWireServer.rowsShipped.get("lineitem").map(_.get).getOrElse(0L)
  private def bytes: Long = MemWireServer.bytesShipped.get("lineitem").map(_.get).getOrElse(0L)
  private var lastShipped = (0L, 0L)

  def run(i: Int): Outcome = {
    val j = joinOp(i)
    val (r0, b0) = (shipped, bytes)
    val window = tr.span("mql.parse")(MqlParser.parse(s"""{"o_orderdate": {"$$gte": "${
      Workload.mqlDate(j.fromDay)}", "$$lt": "${Workload.mqlDate(j.fromDay + j.days)}"}}"""))
    val df = tr.span("channel.build") {
      val outer = Channel.create(spark, ctx.dataDir) { b =>
        b.collection("orders")
        b.where(window)
      }
      val inner = spark.read.format("graft.sources.mem.GraftMemSource")
        .option("collection", "lineitem")
        .option("client", "wire").option("port", server.port.toString)
        .load()
      Joins.inner(outer, "o_orderkey", inner, "l_orderkey",
          innerPred = Some("l_quantity" $gte j.qtyLo.toDouble $lt j.qtyHi.toDouble))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
    }
    val rows = tr.span("execute")(df.collect())
    lastShipped = (shipped - r0, bytes - b0)
    Outcome(lastShipped._1, rows)
  }

  def check(i: Int, out: Outcome): Option[String] = {
    val got = out.result.asInstanceOf[Array[Row]].map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    Checks.compareJoin(Checks.join(o, l, joinOp(i)), got)
  }

  def layers(i: Int, out: Outcome, probe: Probe): Map[String, Double] = {
    val (rows, byteCount) = lastShipped
    val served = MemStore.served.get("lineitem").map(_.get.toDouble).getOrElse(0.0)
    // the same pushed spec straight through the wire client, outside
    // Spark: store evaluation, encoding, socket and decoding only
    val spec = QuerySpec(MemStore.lastPushed.getOrElse("lineitem", Nil), None, Nil, 0, None,
      Seq("l_orderkey", "l_extendedprice"), countServed = false)
    val client = new SocketStoreClient("127.0.0.1", server.port)
    val clientMs = probe.aside("wire.client") {
      val t0 = tr.nowMs
      client.query("lineitem", 0, l.n, spec).size
      tr.nowMs - t0
    }
    Map("mem.rows_served" -> served,
      "mem.served_per_returned" -> served / math.max(1L, out.result.asInstanceOf[Array[Row]].length),
      "wire.rows_shipped" -> rows.toDouble,
      "wire.bytes_per_row" -> byteCount.toDouble / math.max(1L, rows),
      "wire.client_ms" -> clientMs) ++ Workload.loadProbe(ctx, i, probe)
  }

  def close(): Unit = if (server != null) server.close()
}

/** Resumable tail of a partitioned event log: each op appends a chunk of
  * the journal to the store and runs one AvailableNow incarnation of the
  * keyed stream feeding running totals, resuming from the checkpoint. */
final class LogTail(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  import spark.implicits._
  val opsPerSecond = 3.0
  val warmupOps = 6
  private val Initial = 10000
  private val WarmInitial = 2000
  private var jr: Journal = _
  private var warmJr: Journal = _
  private var feed: Feed = _
  private var warmFeed: Feed = _
  private var minCents: Long = _
  private var totals: Checks.Totals = _
  private val sink = scala.collection.mutable.Map.empty[Long, (Long, Double)]
  private val warmSink = scala.collection.mutable.Map.empty[Long, (Long, Double)]
  private var ckptBytesBefore = 0L

  private def ckpt(warm: Boolean): Path = ctx.work.resolve(if (warm) "ckpt-warm" else "ckpt")
  private def collection(warm: Boolean): String = if (warm) "journal_warm" else "journal"

  def setup(n: Int): Unit = {
    jr = Gen.journal(ctx.seed)
    warmJr = Gen.journal(ctx.seed, salt = 4)
    feed = Gen.feed(ctx.seed, n, Initial)
    warmFeed = Gen.feed(ctx.seed, warmupOps, WarmInitial, salt = 31)
    minCents = 2000L + Gen.rng(ctx.seed, 32).nextInt(6000)
    totals = new Checks.Totals(minCents)
    MemStore.register("journal", Frames.journal(spark, jr, 0, Initial))
    MemStore.register("journal_warm", Frames.journal(spark, warmJr, 0, WarmInitial))
    // the first incarnation consumes the registered prefix, so every
    // timed op starts from a checkpoint and appends one chunk
    incarnation(warm = true)
    incarnation(warm = false)
    totals.fold(jr, 0, Initial)
    val err = totals.compare(sink)
    require(err.isEmpty, s"priming run disagrees with the fold: ${err.get}")
  }

  private def incarnation(warm: Boolean): Unit = {
    val pred = tr.span("mql.parse")(MqlParser.parse(s"""{"value": {"$$gte": ${minCents / 100.0}}}"""))
    val src = tr.span("channel.build") {
      Channel.stream(spark, 0L, keyBy = Some("persistence_id")) { b =>
        b.memCollection(collection(warm))
        b.where(pred)
      }
    }
    val target = if (warm) warmSink else sink
    val write: (Dataset[KeyedCount], Long) => Unit = (ds, _) =>
      ds.collect().foreach(k => target(k.key) = (k.events, k.sum))
    tr.span("stream.run") {
      Stateful.runningTotals[JournalRow](src.as[JournalRow], _.persistence_id, _.value)
        .writeStream
        .foreachBatch(write)
        .option("checkpointLocation", ckpt(warm).toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  private var chunk: DataFrame = _

  /** The chunk's DataFrame is input generation, built before the op. */
  override def prepare(i: Int): Unit = {
    val (a, b) = if (i < 0) warmFeed.chunks(-i - 1) else feed.chunks(i)
    chunk = Frames.journal(spark, if (i < 0) warmJr else jr, a, b)
    ckptBytesBefore = dirBytes(ckpt(false))
  }

  def run(i: Int): Outcome = {
    val warm = i < 0
    val (a, b) = if (warm) warmFeed.chunks(-i - 1) else feed.chunks(i)
    tr.span("mem.append")(MemStore.append(collection(warm), chunk))
    incarnation(warm)
    Outcome((b - a).toLong, null)
  }

  def check(i: Int, out: Outcome): Option[String] =
    if (i < 0) None
    else {
      val (a, b) = feed.chunks(i)
      totals.fold(jr, a, b)
      totals.compare(sink)
    }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def layers(i: Int, out: Outcome, probe: Probe): Map[String, Double] = {
    val written = dirBytes(ckpt(false)) - ckptBytesBefore
    Map("ckpt.bytes_per_input_byte" -> written.toDouble / (out.unitRows * 24.0))
  }

  def close(): Unit = ()
}
