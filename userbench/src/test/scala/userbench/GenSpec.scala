package userbench

import org.scalatest.funsuite.AnyFunSuite

import Gen._

class GenSpec extends AnyFunSuite {

  /** Stable digest of generated arrays. */
  private def digest(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feedAny(x: Any): Unit = x match {
      case a: Array[Long] => a.foreach(v => md.update(java.nio.ByteBuffer.allocate(8).putLong(v).array()))
      case a: Array[Int] => a.foreach(v => md.update(java.nio.ByteBuffer.allocate(4).putInt(v).array()))
      case a: Array[String] => a.foreach(v => { md.update(v.getBytes("UTF-8")); md.update(0.toByte) })
      case other => md.update(other.toString.getBytes("UTF-8"))
    }
    parts.foreach(feedAny)
    md.digest().map("%02x".format(_)).mkString
  }

  private def inputs(seed: Long): String = {
    val o = orders(seed)
    val l = lineitems(seed, o)
    val j = journal(seed)
    digest(o.cust, o.status, o.priceCents, o.day, o.priority,
      l.orderkey, l.partkey, l.suppkey, l.linenumber, l.quantity, l.priceCents, l.discount,
      l.tax, l.returnflag, l.linestatus, l.shipday, j.pid, j.seq, j.valueCents)
  }

  private def opSequences(seed: Long, n: Int) =
    (queries(seed, n), joins(seed, n), feed(seed, n, 50000))

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) === inputs(7))
  }

  test("a different seed gives different inputs and ops") {
    assert(inputs(7) !== inputs(8))
    assert(opSequences(7, 100) !== opSequences(8, 100))
  }

  test("the same seed gives the same ops, op count and rows per op") {
    val (q1, j1, f1) = opSequences(3, 120)
    val (q2, j2, f2) = opSequences(3, 120)
    assert(q1 === q2 && j1 === j2 && f1 === f2)
    assert(q1.length === 120 && j1.length === 120 && f1.chunks.length === 120)
    val o = orders(3)
    val l = lineitems(3, o)
    val rows1 = q1.map(Checks.query(o, _).length) ++ j1.map(Checks.join(o, l, _).values.map(_._1).sum.toInt)
    val rows2 = q2.map(Checks.query(orders(3), _).length) ++
      j2.map(Checks.join(orders(3), lineitems(3, orders(3)), _).values.map(_._1).sum.toInt)
    assert(rows1 === rows2)
  }

  test("pushdown queries return at most about 100 rows, in a fixed template mix") {
    val o = orders(1)
    val qs = queries(1, 200)
    val sizes = qs.map(Checks.query(o, _).length)
    assert(sizes.max <= 130, s"largest result ${sizes.max}")
    assert(sizes.grouped(12).map(_.sum).toSet.size > 1, "literals differ between cycles")
    assert(qs.zip(sizes).forall { case (q, n) => !Checks.sorts(q) || n == 100 }, "limits are filled")
    assert(qs.groupBy(_.getClass).values.map(_.length).toSet === Set(40), "every template equally often")
  }

  test("the journal ranks each user's events in event order") {
    val j = journal(5)
    val next = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- 0 until j.n) {
      assert(j.seq(i) === next(j.pid(i)))
      next(j.pid(i)) += 1
    }
    assert(next.size === NUsers)
  }

  test("the feed tiles the journal after the registered prefix") {
    val f = feed(9, 30, 50000)
    assert(f.chunks.head._1 === 50000)
    f.chunks.sliding(2).foreach { case Seq(a, b) => assert(a._2 === b._1) }
  }

  test("the join oracle groups by status over the window and quantity band") {
    val o = new Orders(Array(1L, 2L, 3L), Array("F", "O", "F"), Array(100L, 200L, 300L),
      Array(10, 11, 30), Array("1-URGENT", "1-URGENT", "1-URGENT"))
    val l = new Lineitems(Array(0L, 0L, 1L, 2L), Array(1L, 1L, 1L, 1L), Array(1L, 1L, 1L, 1L),
      Array(1, 2, 1, 1), Array(5, 20, 6, 5), Array(500L, 700L, 900L, 1100L), Array(0, 0, 0, 0),
      Array(0, 0, 0, 0), Array("A", "A", "A", "A"), Array("F", "F", "F", "F"), Array(0, 0, 0, 0))
    assert(Checks.join(o, l, JoinOp(fromDay = 10, days = 5, qtyLo = 5, qtyHi = 10)) ===
      Map("F" -> (1L, 500L), "O" -> (1L, 900L)))
  }
}
