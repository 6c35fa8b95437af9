package graft.sources.mem

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}

/** Pushed filters and top-n keys bound once per cursor to a collection's
  * columns — [[MemStore.bind]]/[[MemStore.ordering]] with the per-row work
  * reduced to primitive loads. Each (column type, literal class) pair with
  * a typed kernel below reproduces the row code's answer exactly:
  * three-valued logic, Scala's cooperative `==` for `EqualTo`/`In`,
  * [[MemStore.numCmp]]'s mixed-type comparison and `String.compareTo`.
  * Every other pair runs the row code's own per-value predicate on the one
  * materialized value. */
private[mem] object ColumnFilter {
  final val False = 0
  final val True = 1
  final val Unknown = 2

  /** A filter bound to a collection: row index to False/True/Unknown. */
  trait Pred { def apply(i: Int): Int }

  private def truth(b: Boolean): Int = if (b) True else False

  /** Scala's numeric width rank (`BoxesRunTime.typeCode`, byte and short
    * kept apart): 0 for a value that is not a primitive box. */
  private def numCode(x: Any): Int = x match {
    case _: java.lang.Byte => 1
    case _: java.lang.Short => 2
    case _: java.lang.Integer => 3
    case _: java.lang.Long => 4
    case _: java.lang.Float => 5
    case _: java.lang.Double => 6
    case _ => 0
  }

  private val TwoTo63 = Math.scalb(1.0, 63)

  /** Whether the integral `x` is exactly a value of the fractional column. */
  private def representable(c: NumericColumn, x: Long): Boolean =
    if (c.code == 6) { val d = x.toDouble; d >= -TwoTo63 && d < TwoTo63 && d.toLong == x }
    else { val f = x.toFloat; f >= -TwoTo63 && f < TwoTo63 && f.toLong == x }

  /** `numCmp(a, r)` for every long `a` against a fixed decimal `r`. */
  private def against(r: java.math.BigDecimal): Long => Int = {
    val floor = r.setScale(0, java.math.RoundingMode.FLOOR)
    val whole = floor.compareTo(r) == 0
    if (floor.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) > 0) _ => -1
    else if (floor.compareTo(java.math.BigDecimal.valueOf(Long.MinValue)) < 0) _ => 1
    else {
      val f = floor.longValueExact
      a => if (a < f) -1 else if (a > f) 1 else if (whole) 0 else -1
    }
  }

  private def perValue(col: MemColumn, f: Filter): Pred = {
    val p = MemStore.leaf(f)
    i => p(col.get(i)) match {
      case Some(true) => True
      case Some(false) => False
      case None => Unknown
    }
  }

  def bind(coll: MemCollection, f: Filter): Pred = f match {
    case And(l, r) =>
      val (bl, br) = (bind(coll, l), bind(coll, r))
      i => {
        val a = bl(i)
        val b = br(i)
        if (a == False || b == False) False else if (a == True && b == True) True else Unknown
      }
    case Or(l, r) =>
      val (bl, br) = (bind(coll, l), bind(coll, r))
      i => {
        val a = bl(i)
        val b = br(i)
        if (a == True || b == True) True else if (a == False && b == False) False else Unknown
      }
    case Not(c) =>
      val bc = bind(coll, c)
      i => { val a = bc(i); if (a == Unknown) Unknown else True - a }
    case IsNull(a) => val col = coll.column(a); i => truth(col.isNull(i))
    case IsNotNull(a) => val col = coll.column(a); i => truth(!col.isNull(i))
    case EqualTo(a, x) =>
      val col = coll.column(a)
      equalTo(col, x).getOrElse(perValue(col, f))
    case GreaterThan(a, x) => compare(coll.column(a), f, x, _ > 0)
    case GreaterThanOrEqual(a, x) => compare(coll.column(a), f, x, _ >= 0)
    case LessThan(a, x) => compare(coll.column(a), f, x, _ < 0)
    case LessThanOrEqual(a, x) => compare(coll.column(a), f, x, _ <= 0)
    case In(a, xs) =>
      val col = coll.column(a)
      val miss = if (xs.contains(null)) Unknown else False
      in(col, xs.filter(_ != null)) match {
        case Some(hit) => i => if (col.isNull(i)) Unknown else if (hit(i)) True else miss
        case None => perValue(col, f)
      }
    case _ => _ => True // unsupported filters are never pushed (see pushFilters)
  }

  private def equalTo(col: MemColumn, x: Any): Option[Pred] = (col, x) match {
    case (c: IntegralColumn, n: Number) if numCode(n) >= 1 && numCode(n) <= 4 =>
      val xl = n.longValue
      Some(i => if (c.isNull(i)) Unknown else truth(c.long(i) == xl))
    case (c: NumericColumn, n: Number) if numCode(n) > 0 =>
      math.max(c.code, numCode(n)) match {
        case 5 =>
          val xf = n.floatValue
          Some(i => if (c.isNull(i)) Unknown else truth(c.float(i) == xf))
        case _ =>
          val xd = n.doubleValue
          Some(i => if (c.isNull(i)) Unknown else truth(c.double(i) == xd))
      }
    case (c: StringColumn, s: String) =>
      Some(i => { val v = c.values(i); if (v == null) Unknown else truth(v.equals(s)) })
    case (c: MicrosColumn, t) => micros(c, t).map(us =>
      (i => if (c.isNull(i)) Unknown else truth(c.micros(i) == us)): Pred)
    case (c: DateColumn, d) => Times.days(d).map(day =>
      (i => if (c.isNull(i)) Unknown else truth(c.days(i) == day)): Pred)
    case _ => None
  }

  /** The literal as the micros column's stored form, when it has one. */
  private def micros(c: MicrosColumn, t: Any): Option[Long] =
    try c match {
      case _: TimestampColumn if Times.exactMicros(t) =>
        Some(Times.micros(t.asInstanceOf[java.sql.Timestamp]))
      case _: TimestampNtzColumn if Times.exactMicrosNtz(t) =>
        Some(Times.micros(t.asInstanceOf[java.time.LocalDateTime]))
      case _ => None
    } catch { case _: ArithmeticException => None }

  private def compare(col: MemColumn, f: Filter, x: Any, keep: Int => Boolean): Pred = {
    def kernel(cmp: Int => Int): Pred =
      i => if (col.isNull(i)) Unknown else truth(keep(cmp(i)))
    val typed: Option[Pred] = (col, x) match {
      case (c: IntegralColumn, n: Number) if numCode(n) > 0 =>
        if (numCode(n) <= 4) {
          val xl = n.longValue
          Some(kernel(i => java.lang.Long.compare(c.long(i), xl)))
        } else {
          val xd = n.doubleValue
          if (xd.isNaN || xd.isInfinite)
            Some(kernel(i => java.lang.Double.compare(c.long(i).toDouble, xd)))
          else {
            val vs = against(new java.math.BigDecimal(n.toString))
            Some(kernel(i => vs(c.long(i))))
          }
        }
      case (c: NumericColumn, n: Number) if numCode(n) > 0 => // fractional column
        if (numCode(n) >= 5) {
          val xd = n.doubleValue
          Some(kernel(i => java.lang.Double.compare(c.double(i), xd)))
        } else if (representable(c, n.longValue)) {
          // a value other than x shortest-prints on x's side of it, so only
          // a tie needs numCmp's decimal comparison
          val xd = n.longValue.toDouble
          Some(kernel { i =>
            val a = c.double(i)
            if (a < xd) -1 else if (a > xd) 1
            else if (a == xd) MemStore.numCmp(c.get(i).asInstanceOf[Number], n)
            else java.lang.Double.compare(a, xd) // NaN
          })
        } else None
      case (c: StringColumn, s: String) =>
        Some(i => { val v = c.values(i); if (v == null) Unknown else truth(keep(v.compareTo(s))) })
      case (c: MicrosColumn, t) =>
        micros(c, t).map(us => kernel(i => java.lang.Long.compare(c.micros(i), us)))
      case (c: DateColumn, d) =>
        Times.days(d).map(day => kernel(i => Integer.compare(c.days(i), day)))
      case _ => None
    }
    typed.getOrElse(perValue(col, f))
  }

  /** Membership in the non-null `lits` (a set compared with `==` and
    * cooperative hashing), for literal classes whose members can only
    * equal values of the column's class exactly. */
  private def in(col: MemColumn, lits: Array[Any]): Option[Int => Boolean] = {
    def all(p: Any => Boolean) = lits.forall(p)
    def sortedDoubles(vs: Array[Double]): Array[Double] = {
      val s = vs.filterNot(_.isNaN).map(_ + 0.0) // NaN never equal; -0.0 == 0.0
      java.util.Arrays.sort(s)
      s
    }
    def sortedLongs(vs: Array[Long]): Array[Long] = { val s = vs.clone(); java.util.Arrays.sort(s); s }
    (col, lits) match {
      case (_, ls) if ls.isEmpty => Some(_ => false)
      case (c: IntegralColumn, ls) if all(x => numCode(x) >= 1 && numCode(x) <= 4) =>
        val s = sortedLongs(ls.map(_.asInstanceOf[Number].longValue))
        Some(i => java.util.Arrays.binarySearch(s, c.long(i)) >= 0)
      case (c: DoubleColumn, ls) if all(_.isInstanceOf[java.lang.Double]) =>
        val s = sortedDoubles(ls.map(_.asInstanceOf[Double]))
        Some(i => { val a = c.values(i); !a.isNaN && java.util.Arrays.binarySearch(s, a + 0.0) >= 0 })
      case (c: FloatColumn, ls) if all(_.isInstanceOf[java.lang.Float]) =>
        val s = sortedDoubles(ls.map(_.asInstanceOf[Float].toDouble))
        Some(i => { val a = c.double(i); !a.isNaN && java.util.Arrays.binarySearch(s, a + 0.0) >= 0 })
      case (c: StringColumn, ls) if all(_.isInstanceOf[String]) =>
        val s = new java.util.HashSet[String]()
        ls.foreach(x => s.add(x.asInstanceOf[String]))
        Some(i => s.contains(c.values(i)))
      case (c: MicrosColumn, ls) =>
        val us = ls.map(micros(c, _))
        if (!us.forall(_.isDefined)) None
        else {
          val s = sortedLongs(us.map(_.get))
          Some(i => java.util.Arrays.binarySearch(s, c.micros(i)) >= 0)
        }
      case (c: DateColumn, ls) =>
        val ds = ls.map(Times.days)
        if (!ds.forall(_.isDefined)) None
        else {
          val s = sortedLongs(ds.map(_.get.toLong))
          Some(i => java.util.Arrays.binarySearch(s, c.days(i).toLong) >= 0)
        }
      case _ => None
    }
  }

  /** [[MemStore.ordering]] over row indices of `coll`, ties broken by
    * index — the order a stable sort of the rows gives. */
  def order(coll: MemCollection, keys: Seq[(String, Boolean)]): java.util.Comparator[Integer] = {
    val cols = keys.map { case (f, _) => coll.column(f) }.toArray
    val desc = keys.map(_._2).toArray
    (x, y) => {
      val a = x.intValue
      val b = y.intValue
      var result = 0
      var k = 0
      while (result == 0 && k < cols.length) {
        val col = cols(k)
        val an = col.isNull(a)
        val bn = col.isNull(b)
        val c =
          if (an && bn) 0
          else if (an) -1 // nulls first in ASC terms...
          else if (bn) 1
          else col.compareRows(a, b)
        result = if (desc(k)) -c else c // ...so DESC flips them last
        k += 1
      }
      if (result != 0) result else Integer.compare(a, b)
    }
  }
}

/** Store-side PARTIAL aggregation over one filtered slice — one partial
  * row per group, or EXACTLY one row for a global aggregate even on an
  * empty slice (the engine's final merge is a SUM over partial counts;
  * an all-empty store must still yield count = 0, not NULL). The last
  * stage of [[QueryEval]], so a wire round-trip ships partials, not
  * filtered input rows. `rows` are the selected row indices; partials are
  * rows of schema `out`. */
object AggEval {
  def run(
      coll: MemCollection,
      rows: IndexedSeq[Int],
      groups: Seq[String],
      funcs: Seq[MemAgg],
      out: StructType): Iterator[Row] = {
    def aggVals(rs: Seq[Int]): Seq[Any] = funcs.map {
      case MemAgg.CountAll => rs.length.toLong
      case MemAgg.CountCol(c) =>
        val col = coll.column(c); rs.count(!col.isNull(_)).toLong
      case MemAgg.MinCol(c) =>
        val col = coll.column(c)
        val vs = rs.filter(!col.isNull(_)).map(col.get)
        if (vs.isEmpty) null
        else vs.reduce((x, y) => if (MemStore.compareValues(x, y) <= 0) x else y)
      case MemAgg.MaxCol(c) =>
        val col = coll.column(c)
        val vs = rs.filter(!col.isNull(_)).map(col.get)
        if (vs.isEmpty) null
        else vs.reduce((x, y) => if (MemStore.compareValues(x, y) >= 0) x else y)
      case s @ MemAgg.SumCol(c) =>
        val col = coll.column(c)
        val vs = rs.filter(!col.isNull(_)).map(col.get(_).asInstanceOf[Number])
        if (vs.isEmpty) null
        else if (s.resultType(coll.schema) == LongType) Long.box(vs.map(_.longValue()).sum)
        else Double.box(vs.map(_.doubleValue()).sum)
    }
    def partial(vs: Seq[Any]): Row = new GenericRowWithSchema(vs.toArray, out)
    val gCols = groups.map(coll.column)
    if (groups.isEmpty) Iterator(partial(aggVals(rows)))
    else rows.groupBy(i => gCols.map(_.get(i))).iterator
      .map { case (k, rs) => partial(k ++ aggVals(rs)) }
  }
}

/** Per-key high-watermark counts for the KEYED streaming cursor (reference
  * S3/S4: `(persistence_id, sequence_nr)` resume) — a real keyed log
  * serves these from per-partition metadata; the wire server runs this on
  * its end so only (key, count) pairs cross the socket. */
object KeyedEval {
  def counts(coll: MemCollection, keyIdx: Int): Map[String, Long] = {
    val col = coll.columns(keyIdx)
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < coll.size) {
      val k = String.valueOf(col.get(i))
      m(k) = m.getOrElse(k, 0L) + 1L
      i += 1
    }
    m.toMap
  }
}

object QueryEval {
  /** Evaluate `spec` over the [start, end) slice of a collection's stable
    * cursor order. `start` seeds the pushed TABLESAMPLE (per-cursor
    * Bernoulli, deterministic per (seed, slice) — a server-side $sample).
    * Lazy up to the sort and aggregate stages: a limit stops scanning
    * early. A row is built only when served; served rows count on the
    * OUTPUT — for an aggregate, the partials. */
  def run(
      coll: MemCollection,
      start: Int,
      end: Int,
      spec: QuerySpec,
      servedKey: Option[String]): Iterator[Row] =
    run(coll, start, end, start, spec, servedKey)

  /** As above, the sample seeded by `sliceStart` instead — a page fetched
    * from the store at `sliceStart` and evaluated where it landed. */
  private[mem] def run(
      coll: MemCollection,
      start: Int,
      end: Int,
      sliceStart: Int,
      spec: QuerySpec,
      servedKey: Option[String]): Iterator[Row] = {
    val selected: Iterator[Int] =
      new Cursor(coll, math.max(0, start), math.min(end, coll.size), sliceStart, spec)
    // cursor-side sort/limit (reference storage.scala:320-324): this
    // shard's cursor orders by the pushed keys and serves at most `limit`
    // rows; Spark's retained global TopN/limit makes the result exact
    val ordered =
      if (spec.topN.isEmpty) selected
      else {
        val idx = selected.map(Int.box).toArray
        java.util.Arrays.sort(idx, ColumnFilter.order(coll, spec.topN))
        idx.iterator.map(_.intValue)
      }
    // cursor skip: exact-push contract — MemScan plans ONE global cursor
    // whenever an offset was accepted, so the drop is global
    val skipped = if (spec.offset > 0) ordered.drop(spec.offset) else ordered
    val bounded = spec.limit.fold(skipped)(n => skipped.take(n))
    val schema = spec.replySchema(coll.schema)
    val out = spec.agg match {
      case Some((groups, funcs)) => AggEval.run(coll, bounded.toIndexedSeq, groups, funcs, schema)
      case None =>
        val idx = spec.projection.map(coll.schema.fieldIndex).toArray
        bounded.map(coll.project(_, idx, schema)) // store-side projection
    }
    servedKey.fold(out)(k => out.map { r =>
      MemStore.served.get(k).foreach(_.incrementAndGet()); r
    })
  }

  /** The rows of [from, until) that pass a keyed cursor's rank slice
    * (ranks count the key's rows before any filter — a resume offset is a
    * position in the log), then the sample, then every filter. */
  private final class Cursor(
      coll: MemCollection, from: Int, until: Int, sliceStart: Int, spec: QuerySpec)
      extends Iterator[Int] {
    private val preds = spec.filters.map(ColumnFilter.bind(coll, _)).toArray
    // the key's rows: those whose key column prints as the key
    private val key: Int => Boolean = spec.keyRange.map { k =>
      val col = coll.column(k.column)
      (i: Int) => String.valueOf(col.get(i)) == k.key
    }.orNull
    private val (startRank, endRank) = spec.keyRange.fold((0L, 0L))(k => (k.startRank, k.endRank))
    private val rng = spec.sample.map(s => new java.util.Random(s._3 + sliceStart)).orNull
    private val (lo, hi) = spec.sample.fold((0.0, 0.0))(s => (s._1, s._2))
    private var rank = -1L
    private var i = from
    private var found = -1

    private def passes(r: Int): Boolean = {
      if (key != null) {
        if (!key(r)) return false
        rank += 1
        if (rank < startRank || rank >= endRank) return false
      }
      if (rng != null) {
        val u = rng.nextDouble()
        if (!(u >= lo && u < hi)) return false
      }
      var k = 0
      while (k < preds.length) {
        if (preds(k)(r) != ColumnFilter.True) return false
        k += 1
      }
      true
    }

    def hasNext: Boolean = {
      while (found < 0 && i < until) {
        if (passes(i)) found = i
        i += 1
      }
      found >= 0
    }

    def next(): Int = {
      if (!hasNext) throw new NoSuchElementException("cursor exhausted")
      val r = found
      found = -1
      r
    }
  }
}
