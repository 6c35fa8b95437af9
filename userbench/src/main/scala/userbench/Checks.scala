package userbench

import Gen._

/** Independent answers for every op, computed in plain Scala over the
  * generated arrays. Nothing here calls the code being timed (the DSL,
  * MQL, channel, joins, connector or streaming layers). */
object Checks {

  /** Order rows as (key, cust, status, price cents, day, priority). */
  type OrderTuple = (Long, Long, String, Long, Int, String)

  def orderTuple(o: Orders, i: Int): OrderTuple =
    (i.toLong, o.cust(i), o.status(i), o.priceCents(i), o.day(i), o.priority(i))

  /** The rows a pushdown query must return, in order when it sorts. */
  def query(o: Orders, q: Query): Seq[OrderTuple] = {
    val all = 0 until o.n
    val idx: Seq[Int] = q match {
      case Point(k) => all.filter(_ == k)
      case PriceRange(lo, hi, lim) =>
        all.filter(i => o.priceCents(i) >= lo && o.priceCents(i) < hi)
          .sortBy(i => (o.priceCents(i), i)).take(lim)
      case CustIn(cs) =>
        val s = cs.toSet
        all.filter(i => s(o.cust(i)))
      case DateWindow(d, n, skip, lim) =>
        all.filter(i => o.day(i) >= d && o.day(i) < d + n)
          .sortBy(i => (o.day(i), i)).slice(skip, skip + lim)
      case StatusPrice(s, lo, hi, lim) =>
        all.filter(i => o.status(i) == s && o.priceCents(i) >= lo && o.priceCents(i) < hi)
          .sortBy(i => -i).take(lim)
    }
    idx.map(orderTuple(o, _))
  }

  def sorts(q: Query): Boolean = q match {
    case _: PriceRange | _: DateWindow | _: StatusPrice => true
    case _ => false
  }

  def compareQuery(o: Orders, q: Query, got: Seq[OrderTuple]): Option[String] = {
    val want = query(o, q)
    val (g, w) = if (sorts(q)) (got, want) else (got.sortBy(_._1), want.sortBy(_._1))
    if (g == w) None
    else Some(s"$q: got ${got.length} rows, want ${want.length}; first difference at " +
      g.zipAll(w, null, null).indexWhere { case (a, b) => a != b })
  }

  /** wire_join answer: per o_orderstatus, (count, sum of price cents). */
  def join(o: Orders, l: Lineitems, j: JoinOp): Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var i = 0
    while (i < l.n) {
      val k = l.orderkey(i).toInt
      val d = o.day(k)
      if (l.quantity(i) >= j.qtyLo && l.quantity(i) < j.qtyHi && d >= j.fromDay && d < j.fromDay + j.days) {
        val (c, s) = acc.getOrElse(o.status(k), (0L, 0L))
        acc(o.status(k)) = (c + 1, s + l.priceCents(i))
      }
      i += 1
    }
    acc.toMap
  }

  def compareJoin(want: Map[String, (Long, Long)], got: Map[String, (Long, Double)]): Option[String] = {
    val bad = (want.keySet ++ got.keySet).filter { k =>
      (want.get(k), got.get(k)) match {
        case (Some((c, s)), Some((gc, gs))) => c != gc || !close(s / 100.0, gs)
        case _ => true
      }
    }
    if (bad.isEmpty) None else Some(s"join groups differ on ${bad.mkString(",")}: want $want got $got")
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** log_tail answer: running (count, sum cents) per persistence_id over
    * every journal row appended so far whose value passes the predicate.
    * Folded forward one chunk at a time. */
  final class Totals(minCents: Long) {
    val count = new Array[Long](NUsers + 1)
    val sumCents = new Array[Long](NUsers + 1)
    def fold(jr: Journal, from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        if (jr.valueCents(i) >= minCents) {
          val u = jr.pid(i).toInt
          count(u) += 1
          sumCents(u) += jr.valueCents(i)
        }
        i += 1
      }
    }
    def compare(got: collection.Map[Long, (Long, Double)]): Option[String] = {
      val bad = (1 to NUsers).filter { u =>
        got.get(u.toLong) match {
          case Some((c, s)) => c != count(u) || !close(s, sumCents(u) / 100.0)
          case None => count(u) != 0
        }
      } ++ got.keys.filter(k => k < 1 || k > NUsers).map(_.toInt)
      if (bad.isEmpty) None
      else Some(s"running totals differ on ${bad.length} keys, e.g. ${bad.take(3).map(u =>
        s"$u: got ${got.get(u.toLong)} want (${count(u)}, ${sumCents(u) / 100.0})").mkString("; ")}")
    }
  }
}
