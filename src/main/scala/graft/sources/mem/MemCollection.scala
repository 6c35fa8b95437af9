package graft.sources.mem

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** One column of a [[MemCollection]]: typed storage read back as the
  * external value `df.collect()` held (boxed or allocated on demand).
  * The store's stand-ins for the typed, encoded values a real store keeps
  * (MongoDB's BSON documents, Cassandra's serialized cells). */
sealed abstract class MemColumn {
  def length: Int
  def isNull(i: Int): Boolean
  /** The external value of row `i`, null for NULL. */
  def get(i: Int): Any
  /** Order of two non-null rows, as [[MemStore.ordering]] orders their values. */
  def compareRows(i: Int, j: Int): Int
  /** This column's rows followed by `o`'s (the same declared type). */
  def concat(o: MemColumn): MemColumn
}

/** A column with a validity bitmap: bit `i` set = row `i` is NULL; a
  * column without NULLs keeps no bitmap. */
sealed abstract class BitmapColumn(nulls: Array[Long]) extends MemColumn {
  final def isNull(i: Int): Boolean = Bits.isSet(nulls, i)
  private[mem] final def nullBits: Array[Long] = nulls
}

/** Byte, short, int, long, float and double columns, readable widened.
  * `code` is the width rank Scala's cooperative `==` promotes a numeric
  * pair to (byte 1, short 2, int 3, long 4, float 5, double 6). */
sealed abstract class NumericColumn(nulls: Array[Long]) extends BitmapColumn(nulls) {
  def code: Int
  def float(i: Int): Float
  def double(i: Int): Double
}

sealed abstract class IntegralColumn(nulls: Array[Long]) extends NumericColumn(nulls) {
  def long(i: Int): Long
  final def float(i: Int): Float = long(i).toFloat
  final def double(i: Int): Double = long(i).toDouble
  final def compareRows(i: Int, j: Int): Int = java.lang.Long.compare(long(i), long(j))
}

final class LongColumn(val values: Array[Long], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def code = 4
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Long.box(values(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: LongColumn =>
      new LongColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class IntColumn(val values: Array[Int], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def code = 3
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Int.box(values(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: IntColumn =>
      new IntColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class ShortColumn(val values: Array[Short], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def code = 2
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Short.box(values(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: ShortColumn =>
      new ShortColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class ByteColumn(val values: Array[Byte], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def code = 1
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Byte.box(values(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: ByteColumn =>
      new ByteColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class DoubleColumn(val values: Array[Double], nulls: Array[Long]) extends NumericColumn(nulls) {
  def code = 6
  def length: Int = values.length
  def float(i: Int): Float = values(i).toFloat
  def double(i: Int): Double = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Double.box(values(i))
  def compareRows(i: Int, j: Int): Int = java.lang.Double.compare(values(i), values(j))
  def concat(o: MemColumn): MemColumn = o match {
    case c: DoubleColumn =>
      new DoubleColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class FloatColumn(val values: Array[Float], nulls: Array[Long]) extends NumericColumn(nulls) {
  def code = 5
  def length: Int = values.length
  def float(i: Int): Float = values(i)
  def double(i: Int): Double = values(i).toDouble
  def get(i: Int): Any = if (isNull(i)) null else Float.box(values(i))
  def compareRows(i: Int, j: Int): Int = java.lang.Double.compare(values(i), values(j))
  def concat(o: MemColumn): MemColumn = o match {
    case c: FloatColumn =>
      new FloatColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class BooleanColumn(val values: Array[Boolean], nulls: Array[Long]) extends BitmapColumn(nulls) {
  def length: Int = values.length
  def get(i: Int): Any = if (isNull(i)) null else Boolean.box(values(i))
  def compareRows(i: Int, j: Int): Int = java.lang.Boolean.compare(values(i), values(j))
  def concat(o: MemColumn): MemColumn = o match {
    case c: BooleanColumn =>
      new BooleanColumn(Array.concat(values, c.values), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

/** Timestamp and timestamp_ntz columns as epoch microseconds (the wire
  * codec's arithmetic, Catalyst's value for every post-1582 instant). */
sealed abstract class MicrosColumn(val micros: Array[Long], nulls: Array[Long])
    extends BitmapColumn(nulls) {
  final def length: Int = micros.length
  final def compareRows(i: Int, j: Int): Int = java.lang.Long.compare(micros(i), micros(j))
}

final class TimestampColumn(micros: Array[Long], nulls: Array[Long]) extends MicrosColumn(micros, nulls) {
  def get(i: Int): Any = if (isNull(i)) null else Times.timestamp(micros(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: TimestampColumn =>
      new TimestampColumn(Array.concat(micros, c.micros), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

final class TimestampNtzColumn(micros: Array[Long], nulls: Array[Long]) extends MicrosColumn(micros, nulls) {
  def get(i: Int): Any = if (isNull(i)) null else Times.localDateTime(micros(i))
  def concat(o: MemColumn): MemColumn = o match {
    case c: TimestampNtzColumn =>
      new TimestampNtzColumn(Array.concat(micros, c.micros), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

/** Date column as epoch days. */
final class DateColumn(val days: Array[Int], nulls: Array[Long]) extends BitmapColumn(nulls) {
  def length: Int = days.length
  def get(i: Int): Any = if (isNull(i)) null else Times.date(days(i))
  def compareRows(i: Int, j: Int): Int = Integer.compare(days(i), days(j))
  def concat(o: MemColumn): MemColumn = o match {
    case c: DateColumn =>
      new DateColumn(Array.concat(days, c.days), Bits.concat(nullBits, length, c.nullBits, c.length))
    case _ => MemColumn.objects(this, o)
  }
}

/** String column: one shared `String` instance per distinct value, NULL
  * as a null entry. */
final class StringColumn(val values: Array[String]) extends MemColumn {
  def length: Int = values.length
  def isNull(i: Int): Boolean = values(i) == null
  def get(i: Int): Any = values(i)
  def compareRows(i: Int, j: Int): Int = values(i).compareTo(values(j))
  def concat(o: MemColumn): MemColumn = o match {
    case c: StringColumn =>
      val shared = new java.util.HashMap[String, String]()
      values.foreach(v => if (v != null) shared.putIfAbsent(v, v))
      new StringColumn(Array.concat(values, c.values.map(MemColumn.intern(shared, _))))
    case _ => MemColumn.objects(this, o)
  }
}

/** Every other type — and any column whose values are not all of its
  * declared type's external class (a raw registration is trusted as
  * given): the collected external values themselves. */
final class ObjectColumn(val values: Array[Any]) extends MemColumn {
  def length: Int = values.length
  def isNull(i: Int): Boolean = values(i) == null
  def get(i: Int): Any = values(i)
  def compareRows(i: Int, j: Int): Int = MemStore.compareValues(values(i), values(j))
  def concat(o: MemColumn): MemColumn = MemColumn.objects(this, o)
}

private[mem] object Bits {
  def set(bits: Array[Long], n: Int, i: Int): Array[Long] = {
    val b = if (bits == null) new Array[Long]((n + 63) >>> 6) else bits
    b(i >>> 6) |= 1L << i
    b
  }
  def isSet(bits: Array[Long], i: Int): Boolean =
    bits != null && (bits(i >>> 6) & (1L << i)) != 0
  def concat(a: Array[Long], na: Int, b: Array[Long], nb: Int): Array[Long] = {
    var out: Array[Long] = null
    var i = 0
    while (i < na) { if (isSet(a, i)) out = set(out, na + nb, i); i += 1 }
    i = 0
    while (i < nb) { if (isSet(b, i)) out = set(out, na + nb, na + i); i += 1 }
    out
  }
}

/** Exact conversions between the external date/time classes and their
  * stored forms. A value converts only when the way back rebuilds an
  * equal object: micro-precise, in range. */
private[mem] object Times {
  def micros(t: java.sql.Timestamp): Long =
    Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
      (t.getNanos / 1000).toLong)
  def timestamp(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }
  /** Whether `t` is stored as micros: a plain, micro-precise timestamp. */
  def exactMicros(t: Any): Boolean = t match {
    case t: java.sql.Timestamp => t.getClass == classOf[java.sql.Timestamp] && t.getNanos % 1000 == 0
    case _ => false
  }

  def micros(t: java.time.LocalDateTime): Long =
    Math.addExact(Math.multiplyExact(t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
      (t.getNano / 1000).toLong)
  def localDateTime(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
  def exactMicrosNtz(t: Any): Boolean = t match {
    case t: java.time.LocalDateTime => t.getNano % 1000 == 0
    case _ => false
  }

  def date(days: Int): java.sql.Date = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
  /** Epoch day of a plain `java.sql.Date` at its day's local midnight (the
    * only dates the day rebuilds), else None. */
  def days(d: Any): Option[Int] = d match {
    case d: java.sql.Date if d.getClass == classOf[java.sql.Date] =>
      try {
        val day = d.toLocalDate.toEpochDay
        if (day.toInt == day && date(day.toInt).getTime == d.getTime) Some(day.toInt) else None
      } catch { case _: java.time.DateTimeException | _: ArithmeticException => None }
    case _ => None
  }
}

object MemColumn {
  private[mem] def intern(shared: java.util.HashMap[String, String], s: String): String =
    if (s == null) null else {
      val prior = shared.putIfAbsent(s, s)
      if (prior == null) s else prior
    }

  private[mem] def objects(a: MemColumn, b: MemColumn): MemColumn =
    new ObjectColumn(Array.tabulate[Any](a.length + b.length)(i =>
      if (i < a.length) a.get(i) else b.get(i - a.length)))

  /** Stores one non-null value at `i`; false when the value is not of the
    * column's external class. */
  private abstract class Put { def apply(i: Int, v: Any): Boolean }

  /** The column of `n` values of declared type `dt`: typed when every
    * non-null value is exactly the type's external class and converts
    * exactly, the values themselves otherwise. */
  def build(dt: DataType, n: Int, value: Int => Any): MemColumn = {
    var nulls: Array[Long] = null
    def fill(put: Put): Boolean = {
      var i = 0
      while (i < n) {
        val v = value(i)
        if (v == null) nulls = Bits.set(nulls, n, i)
        else if (!put(i, v)) return false
        i += 1
      }
      true
    }
    val typed: MemColumn = dt match {
      case LongType =>
        val vs = new Array[Long](n)
        if (fill((i, v) => v match { case x: java.lang.Long => vs(i) = x; true; case _ => false }))
          new LongColumn(vs, nulls) else null
      case IntegerType =>
        val vs = new Array[Int](n)
        if (fill((i, v) => v match { case x: java.lang.Integer => vs(i) = x; true; case _ => false }))
          new IntColumn(vs, nulls) else null
      case ShortType =>
        val vs = new Array[Short](n)
        if (fill((i, v) => v match { case x: java.lang.Short => vs(i) = x; true; case _ => false }))
          new ShortColumn(vs, nulls) else null
      case ByteType =>
        val vs = new Array[Byte](n)
        if (fill((i, v) => v match { case x: java.lang.Byte => vs(i) = x; true; case _ => false }))
          new ByteColumn(vs, nulls) else null
      case DoubleType =>
        val vs = new Array[Double](n)
        if (fill((i, v) => v match { case x: java.lang.Double => vs(i) = x; true; case _ => false }))
          new DoubleColumn(vs, nulls) else null
      case FloatType =>
        val vs = new Array[Float](n)
        if (fill((i, v) => v match { case x: java.lang.Float => vs(i) = x; true; case _ => false }))
          new FloatColumn(vs, nulls) else null
      case BooleanType =>
        val vs = new Array[Boolean](n)
        if (fill((i, v) => v match { case x: java.lang.Boolean => vs(i) = x; true; case _ => false }))
          new BooleanColumn(vs, nulls) else null
      case TimestampType =>
        val vs = new Array[Long](n)
        val ok = fill((i, v) => Times.exactMicros(v) && {
          try { vs(i) = Times.micros(v.asInstanceOf[java.sql.Timestamp]); true }
          catch { case _: ArithmeticException => false }
        })
        if (ok) new TimestampColumn(vs, nulls) else null
      case TimestampNTZType =>
        val vs = new Array[Long](n)
        val ok = fill((i, v) => Times.exactMicrosNtz(v) && {
          try { vs(i) = Times.micros(v.asInstanceOf[java.time.LocalDateTime]); true }
          catch { case _: ArithmeticException => false }
        })
        if (ok) new TimestampNtzColumn(vs, nulls) else null
      case DateType =>
        val vs = new Array[Int](n)
        // dates repeat: each distinct instant converts once
        val seen = new java.util.HashMap[java.lang.Long, Integer]()
        val ok = fill { (i, v) =>
          val ms = v match { case d: java.util.Date => Long.box(d.getTime); case _ => null }
          val known = if (ms == null || v.getClass != classOf[java.sql.Date]) null else seen.get(ms)
          if (known != null) { vs(i) = known; true }
          else Times.days(v) match {
            case Some(d) => vs(i) = d; seen.put(ms, d); true
            case None => false
          }
        }
        if (ok) new DateColumn(vs, nulls) else null
      case StringType =>
        val vs = new Array[String](n)
        val shared = new java.util.HashMap[String, String]()
        if (fill((i, v) => v match {
          case s: String => vs(i) = intern(shared, s); true
          case _ => false
        })) new StringColumn(vs) else null
      case _ => null
    }
    if (typed != null) typed else new ObjectColumn(Array.tabulate[Any](n)(value))
  }
}

/** One registration of the store: its schema and one [[MemColumn]] per
  * field, in the stable cursor order rows were registered in. Rows are
  * built only when served ([[row]], [[project]]). */
final class MemCollection(val schema: StructType, val columns: Array[MemColumn], val size: Int) {
  def column(name: String): MemColumn = columns(schema.fieldIndex(name))

  /** Row `i` as the external row `df.collect()` held. */
  def row(i: Int): Row = {
    val vs = new Array[Any](columns.length)
    var j = 0
    while (j < vs.length) { vs(j) = columns(j).get(i); j += 1 }
    new GenericRowWithSchema(vs, schema)
  }

  /** Row `i` narrowed to the columns `idx`, of schema `out`. */
  def project(i: Int, idx: Array[Int], out: StructType): Row = {
    val vs = new Array[Any](idx.length)
    var j = 0
    while (j < vs.length) { vs(j) = columns(idx(j)).get(i); j += 1 }
    new GenericRowWithSchema(vs, out)
  }

  def rows(start: Int, end: Int): Iterator[Row] =
    (math.max(0, start) until math.min(end, size)).iterator.map(row)

  def toRows: Array[Row] = Array.tabulate(size)(row)

  def append(more: MemCollection): MemCollection =
    new MemCollection(schema,
      columns.zip(more.columns).map { case (a, b) => a.concat(b) }, size + more.size)
}

object MemCollection {
  def fromRows(schema: StructType, rows: Array[Row]): MemCollection =
    new MemCollection(schema,
      Array.tabulate(schema.length)(j =>
        MemColumn.build(schema(j).dataType, rows.length, rows(_).get(j))),
      rows.length)
}
