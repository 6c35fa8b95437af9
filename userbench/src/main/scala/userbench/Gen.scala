package userbench

import java.util.SplittableRandom

/** Seeded inputs. Everything the engine sees is derived from the seed
  * here: the tables (shaped like the TPC-H/events tables at scale 0.1) and
  * each workload's op sequence. The same seed gives the same bytes on any
  * JVM; the oracles in [[Checks]] read these arrays, never the engine. */
object Gen {

  /** Independent stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  val Day0: Long = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  val Days = 2404
  def dayMillis(day: Int): Long = (Day0 + day) * 86400000L

  // ---- orders / lineitem -------------------------------------------------

  final val NOrders = 150000
  final val NCust = 15000
  val Statuses: Array[String] = Array("F", "O", "P")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Column arrays; o_orderkey is the row index. */
  final class Orders(
      val cust: Array[Long], val status: Array[String], val priceCents: Array[Long],
      val day: Array[Int], val priority: Array[String]) {
    def n: Int = cust.length
    def price(i: Int): Double = priceCents(i) / 100.0
  }

  def orders(seed: Long): Orders = {
    val r = rng(seed, 1)
    val n = NOrders
    val o = new Orders(new Array(n), new Array(n), new Array(n), new Array(n), new Array(n))
    for (i <- 0 until n) {
      o.cust(i) = 1L + r.nextInt(NCust)
      o.status(i) = Statuses(r.nextInt(3))
      o.priceCents(i) = 100000L + r.nextInt(49900000)
      o.day(i) = r.nextInt(Days)
      o.priority(i) = Priorities(r.nextInt(5))
    }
    o
  }

  val ReturnFlags: Array[String] = Array("A", "N", "R")
  val LineStatuses: Array[String] = Array("F", "O")

  final class Lineitems(
      val orderkey: Array[Long], val partkey: Array[Long], val suppkey: Array[Long],
      val linenumber: Array[Int], val quantity: Array[Int], val priceCents: Array[Long],
      val discount: Array[Int], val tax: Array[Int], val returnflag: Array[String],
      val linestatus: Array[String], val shipday: Array[Int]) {
    def n: Int = orderkey.length
    def price(i: Int): Double = priceCents(i) / 100.0
  }

  /** One or two lines per order, about 225k rows: under half of TPC-H's
    * four, because every wire_join op scans the whole collection
    * store-side and the run must fit its time budget. */
  def lineitems(seed: Long, o: Orders): Lineitems = {
    val r = rng(seed, 2)
    val lines = Array.fill(o.n)(1 + r.nextInt(2))
    val n = lines.sum
    val l = new Lineitems(new Array(n), new Array(n), new Array(n), new Array(n), new Array(n),
      new Array(n), new Array(n), new Array(n), new Array(n), new Array(n), new Array(n))
    var j = 0
    for (k <- 0 until o.n; ln <- 1 to lines(k)) {
      l.orderkey(j) = k
      l.partkey(j) = 1L + r.nextInt(20000)
      l.suppkey(j) = 1L + r.nextInt(1000)
      l.linenumber(j) = ln
      l.quantity(j) = 1 + r.nextInt(50)
      l.priceCents(j) = l.quantity(j) * (90000L + r.nextInt(1000000))
      l.discount(j) = r.nextInt(11)
      l.tax(j) = r.nextInt(9)
      l.returnflag(j) = ReturnFlags(r.nextInt(3))
      l.linestatus(j) = LineStatuses(r.nextInt(2))
      l.shipday(j) = o.day(k) + 1 + r.nextInt(121)
      j += 1
    }
    l
  }

  // ---- journal (events keyed by user) ------------------------------------

  final val NEvents = 100000
  final val NUsers = 1500

  /** The journal derived from `events`: persistence_id = user_id,
    * sequence_nr = rank of event_id within the user, payload = value.
    * Rows are in event_id order. */
  final class Journal(val pid: Array[Long], val seq: Array[Long], val valueCents: Array[Long]) {
    def n: Int = pid.length
    def value(i: Int): Double = valueCents(i) / 100.0
  }

  def journal(seed: Long, salt: Long = 3): Journal = {
    val r = rng(seed, salt)
    val n = NEvents
    val j = new Journal(new Array(n), new Array(n), new Array(n))
    val next = new Array[Long](NUsers + 1)
    for (i <- 0 until n) {
      val u = 1 + r.nextInt(NUsers)
      j.pid(i) = u
      j.seq(i) = next(u)
      next(u) += 1
      j.valueCents(i) = r.nextInt(56021)
    }
    j
  }

  // ---- op sequences ------------------------------------------------------

  /** pushdown_query: one query template with fresh literals per op. */
  sealed trait Query
  /** MQL point lookup on o_orderkey. */
  final case class Point(key: Long) extends Query
  /** MQL range on o_totalprice, sorted, limited. */
  final case class PriceRange(loCents: Long, hiCents: Long, limit: Int) extends Query
  /** DSL $in over o_custkey. */
  final case class CustIn(custs: Seq[Long]) extends Query
  /** DSL o_orderdate window, sorted, with skip and limit. */
  final case class DateWindow(fromDay: Int, days: Int, skip: Int, limit: Int) extends Query
  /** DSL status equality plus price window, newest keys first, limited. */
  final case class StatusPrice(status: String, loCents: Long, hiCents: Long, limit: Int) extends Query

  /** Ops cycle through the five templates, so every run has the same mix;
    * only the literals are drawn. Ranges and windows are wide enough that
    * a limited query always fills its limit, which keeps the rows per run
    * nearly fixed. */
  def queries(seed: Long, n: Int, salt: Long = 10): IndexedSeq[Query] = {
    val r = rng(seed, salt)
    (0 until n).map { i =>
      i % 5 match {
        case 0 => Point(r.nextInt(NOrders).toLong)
        case 1 =>
          val lo = 100000L + r.nextInt(49000000)
          PriceRange(lo, lo + 300000L + r.nextInt(100000), 100)
        case 2 =>
          val cs = scala.collection.mutable.LinkedHashSet.empty[Long]
          while (cs.size < 8) cs += 1L + r.nextInt(NCust)
          CustIn(cs.toSeq)
        case 3 => DateWindow(r.nextInt(Days - 3), 3, r.nextInt(21), 100)
        case _ =>
          val lo = 100000L + r.nextInt(49000000)
          StatusPrice(Statuses(r.nextInt(3)), lo, lo + 900000L + r.nextInt(100000), 100)
      }
    }
  }

  /** wire_join: a 3-day o_orderdate window on the outer side and a
    * 10-value l_quantity band pushed to the inner side. */
  final case class JoinOp(fromDay: Int, days: Int, qtyLo: Int, qtyHi: Int)

  def joins(seed: Long, n: Int, salt: Long = 20): IndexedSeq[JoinOp] = {
    val r = rng(seed, salt)
    (0 until n).map { _ =>
      val lo = 1 + r.nextInt(40)
      JoinOp(r.nextInt(Days - 3), 3, lo, lo + 10)
    }
  }

  /** log_tail: the journal prefix registered at setup, then one chunk per
    * op. Chunk sizes depend only on the seed. */
  final case class Feed(initial: Int, chunks: IndexedSeq[(Int, Int)])

  def feed(seed: Long, n: Int, initial: Int, salt: Long = 30): Feed = {
    val r = rng(seed, salt)
    var at = initial
    val chunks = (0 until n).map { _ =>
      val len = 100 + r.nextInt(101)
      val c = (at, at + len)
      at += len
      c
    }
    require(at <= NEvents, s"feed of $n chunks overruns the journal")
    Feed(initial, chunks)
  }
}
