package graft.sources.mem

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Pushed filters and top-n keys bound once per cursor to a collection's
  * columns: SQL three-valued logic over each column's Spark ordering
  * ([[MemColumn]]) — `EqualTo` and `In` hold where it compares 0 — so a
  * pushed filter selects exactly the rows Spark's own filter keeps. Each
  * literal is converted once, as Spark converts a literal of the
  * column's type; a literal of another class is refused, never coerced
  * (Spark gives both sides of a comparison one type before it pushes). */
private[mem] object ColumnFilter {
  final val False = 0
  final val True = 1
  final val Unknown = 2

  /** A filter bound to a collection: row index to False/True/Unknown. */
  trait Pred { def apply(i: Int): Int }

  private def truth(b: Boolean): Int = if (b) True else False

  /** Whether `x` is of the external class Spark gives values of `dt`
    * (with `spark.sql.datetime.java8API.enabled` either way). */
  private def external(dt: DataType, x: Any): Boolean = (dt, x) match {
    case (BooleanType, _: java.lang.Boolean) | (ByteType, _: java.lang.Byte) |
        (ShortType, _: java.lang.Short) | (IntegerType, _: java.lang.Integer) |
        (LongType, _: java.lang.Long) | (FloatType, _: java.lang.Float) |
        (DoubleType, _: java.lang.Double) | (_: StringType, _: String) |
        (_: DecimalType, _: java.math.BigDecimal) | (BinaryType, _: Array[Byte]) |
        (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) |
        (TimestampNTZType, _: java.time.LocalDateTime) |
        (DateType, _: java.sql.Date | _: java.time.LocalDate) |
        (_: YearMonthIntervalType, _: java.time.Period) |
        (_: DayTimeIntervalType, _: java.time.Duration) |
        (_: ArrayType, _: scala.collection.Seq[_]) | (_: MapType, _: scala.collection.Map[_, _]) |
        (_: StructType, _: Row) => true
    case _ => false
  }

  /** A non-null literal of a filter on column `col` to the column's
    * Catalyst value. */
  private def literal(schema: StructType, col: String): Any => Any = {
    val dt = schema(col).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    x => {
      if (!external(dt, x)) throw new IllegalArgumentException(
        s"store filter on column '$col' of type ${dt.simpleString} refuses a literal of " +
          s"class ${x.getClass.getName}: a literal must be of the column's type")
      toCatalyst(x)
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
    case EqualTo(a, x) => compare(coll, a, x, _ == 0)
    case GreaterThan(a, x) => compare(coll, a, x, _ > 0)
    case GreaterThanOrEqual(a, x) => compare(coll, a, x, _ >= 0)
    case LessThan(a, x) => compare(coll, a, x, _ < 0)
    case LessThanOrEqual(a, x) => compare(coll, a, x, _ <= 0)
    case In(a, xs) =>
      val col = coll.column(a)
      val hit = col.in(xs.filter(_ != null).map(literal(coll.schema, a)))
      val miss = if (xs.contains(null)) Unknown else False
      i => if (col.isNull(i)) Unknown else if (hit(i)) True else miss
    case _ => _ => True // unsupported filters are never pushed (see pushFilters)
  }

  private def compare(coll: MemCollection, a: String, x: Any, keep: Int => Boolean): Pred = {
    val col = coll.column(a)
    if (x == null) _ => Unknown
    else {
      val cmp = col.against(literal(coll.schema, a)(x))
      i => if (col.isNull(i)) Unknown else truth(keep(cmp(i)))
    }
  }

  /** Row indices of `coll` ordered by the top-n keys, ties broken by
    * index — the order a stable sort of the rows gives. NULLs sort first
    * ASC and last DESC, Spark's default. */
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
  * Catalyst rows of the spec's reply schema. */
object AggEval {
  def run(
      coll: MemCollection,
      rows: IndexedSeq[Int],
      groups: Seq[String],
      funcs: Seq[MemAgg]): Iterator[InternalRow] = {
    // partial min/max: the row the column's Spark ordering ranks first
    def extreme(col: MemColumn, rs: Seq[Int], better: Int => Boolean): Any = {
      var best = -1
      rs.foreach(i => if (!col.isNull(i) && (best < 0 || better(col.compareRows(i, best)))) best = i)
      if (best < 0) null else col.get(best)
    }
    def aggVals(rs: Seq[Int]): Seq[Any] = funcs.map {
      case MemAgg.CountAll => rs.length.toLong
      case MemAgg.CountCol(c) =>
        val col = coll.column(c); rs.count(!col.isNull(_)).toLong
      case MemAgg.MinCol(c) => extreme(coll.column(c), rs, _ < 0)
      case MemAgg.MaxCol(c) => extreme(coll.column(c), rs, _ > 0)
      case s @ MemAgg.SumCol(c) =>
        val col = coll.column(c)
        val vs = rs.filter(!col.isNull(_)).map(col.get(_).asInstanceOf[Number])
        if (vs.isEmpty) null
        else if (s.resultType(coll.schema) == LongType) Long.box(vs.map(_.longValue()).sum)
        else Double.box(vs.map(_.doubleValue()).sum)
    }
    def partial(vs: Seq[Any]): InternalRow = new GenericInternalRow(vs.toArray)
    val gCols = groups.map(coll.column)
    if (groups.isEmpty) Iterator(partial(aggVals(rows)))
    else rows.groupBy(i => gCols.map(_.get(i))).iterator
      .map { case (k, rs) => partial(k ++ aggVals(rs)) }
  }
}

/** Per-key high-watermarks for the KEYED streaming cursor (reference
  * S3/S4: `(persistence_id, sequence_nr)` resume) — a real keyed log
  * serves these from per-partition metadata; the wire server runs this on
  * its end so only (key, count) pairs cross the socket. A key is its
  * value's external form as a string, so checkpointed offsets name keys
  * as `df.collect()` prints them. */
object KeyedEval {
  def render(dt: DataType): Any => String = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    v => String.valueOf(toScala(v))
  }

  def counts(coll: MemCollection, keyIdx: Int): Map[String, Long] = {
    val col = coll.columns(keyIdx)
    val key = render(coll.schema(keyIdx).dataType)
    (0 until coll.size).groupMapReduce(col.get)(_ => 1L)(_ + _)
      .toSeq.groupMapReduce { case (v, _) => key(v) }(_._2)(_ + _)
  }
}

object QueryEval {
  /** Evaluate `spec` over the [start, end) slice of a collection's stable
    * cursor order. `start` seeds the pushed TABLESAMPLE (per-cursor
    * Bernoulli, deterministic per (seed, slice) — a server-side $sample).
    * Lazy up to the sort and aggregate stages: a limit stops scanning
    * early. A row is built only when served, in Catalyst form; served
    * rows count on the OUTPUT — for an aggregate, the partials. */
  def run(
      coll: MemCollection,
      start: Int,
      end: Int,
      spec: QuerySpec,
      servedKey: Option[String]): Iterator[InternalRow] = {
    val selected: Iterator[Int] =
      new Cursor(coll, math.max(0, start), math.min(end, coll.size), spec)
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
    val out = spec.agg match {
      case Some((groups, funcs)) => AggEval.run(coll, bounded.toIndexedSeq, groups, funcs)
      case None =>
        val idx = spec.projection.map(coll.schema.fieldIndex).toArray
        bounded.map(coll.project(_, idx)) // store-side projection
    }
    servedKey.fold(out)(k => out.map { r =>
      MemStore.served.get(k).foreach(_.incrementAndGet()); r
    })
  }

  /** The rows of [from, until) that pass a keyed cursor's rank slice
    * (ranks count the key's rows before any filter — a resume offset is a
    * position in the log), then the sample, then every filter. */
  private final class Cursor(
      coll: MemCollection, from: Int, until: Int, spec: QuerySpec)
      extends Iterator[Int] {
    private val preds = spec.filters.map(ColumnFilter.bind(coll, _)).toArray
    // the key's rows: those whose key column prints as the key
    private val key: Int => Boolean = spec.keyRange.map { k =>
      val col = coll.column(k.column)
      val render = KeyedEval.render(coll.schema(k.column).dataType)
      (i: Int) => render(col.get(i)) == k.key
    }.orNull
    private val (startRank, endRank) = spec.keyRange.fold((0L, 0L))(k => (k.startRank, k.endRank))
    private val rng = spec.sample.map(s => new java.util.Random(s._3 + from)).orNull
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
