package graft.sources.mem

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One column of a [[MemCollection]]: Catalyst's physical values, stored
  * by Spark's physical type and compared with Spark's own ordering for
  * it — the store's stand-ins for the typed, encoded values a real store
  * keeps (MongoDB's BSON documents, Cassandra's serialized cells). */
sealed abstract class MemColumn {
  def length: Int
  def isNull(i: Int): Boolean
  /** The Catalyst value of row `i`, null for NULL. */
  def get(i: Int): Any
  /** Spark's order of two non-null rows. */
  def compareRows(i: Int, j: Int): Int
  /** Spark's order of a non-null row against the non-null Catalyst value `x`. */
  def against(x: Any): Int => Int
  /** Whether a non-null row equals (compares 0 with) one of the non-null
    * Catalyst values `xs`. */
  def in(xs: Array[Any]): Int => Boolean = {
    val cs = xs.map(against)
    i => cs.exists(_(i) == 0)
  }
}

/** A column with a validity bitmap: bit `i` set = row `i` is NULL; a
  * column without NULLs keeps no bitmap. */
sealed abstract class BitmapColumn(nulls: Array[Long]) extends MemColumn {
  final def isNull(i: Int): Boolean = Bits.isSet(nulls, i)
}

/** Byte, short, int (and date) and long (and timestamp) columns, ordered
  * as longs. */
sealed abstract class IntegralColumn(nulls: Array[Long]) extends BitmapColumn(nulls) {
  def long(i: Int): Long
  final def compareRows(i: Int, j: Int): Int = java.lang.Long.compare(long(i), long(j))
  final def against(x: Any): Int => Int = {
    val xl = x.asInstanceOf[Number].longValue
    i => java.lang.Long.compare(long(i), xl)
  }
  override final def in(xs: Array[Any]): Int => Boolean = {
    val s = xs.map(_.asInstanceOf[Number].longValue)
    java.util.Arrays.sort(s)
    i => java.util.Arrays.binarySearch(s, long(i)) >= 0
  }
}

final class LongColumn(val values: Array[Long], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Long.box(values(i))
}

final class IntColumn(val values: Array[Int], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Int.box(values(i))
}

final class ShortColumn(val values: Array[Short], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Short.box(values(i))
}

final class ByteColumn(val values: Array[Byte], nulls: Array[Long]) extends IntegralColumn(nulls) {
  def length: Int = values.length
  def long(i: Int): Long = values(i)
  def get(i: Int): Any = if (isNull(i)) null else Byte.box(values(i))
}

/** Spark's double order: NaN equals NaN and sorts last, -0.0 equals 0.0. */
final class DoubleColumn(val values: Array[Double], nulls: Array[Long]) extends BitmapColumn(nulls) {
  def length: Int = values.length
  def get(i: Int): Any = if (isNull(i)) null else Double.box(values(i))
  def compareRows(i: Int, j: Int): Int = SQLOrderingUtil.compareDoubles(values(i), values(j))
  def against(x: Any): Int => Int = {
    val xd = x.asInstanceOf[Double]
    i => SQLOrderingUtil.compareDoubles(values(i), xd)
  }
  // + 0.0 turns -0.0 into 0.0; binarySearch finds NaN like any value
  override def in(xs: Array[Any]): Int => Boolean = {
    val s = xs.map(_.asInstanceOf[Double] + 0.0)
    java.util.Arrays.sort(s)
    i => java.util.Arrays.binarySearch(s, values(i) + 0.0) >= 0
  }
}

final class FloatColumn(val values: Array[Float], nulls: Array[Long]) extends BitmapColumn(nulls) {
  def length: Int = values.length
  def get(i: Int): Any = if (isNull(i)) null else Float.box(values(i))
  def compareRows(i: Int, j: Int): Int = SQLOrderingUtil.compareFloats(values(i), values(j))
  def against(x: Any): Int => Int = {
    val xf = x.asInstanceOf[Float]
    i => SQLOrderingUtil.compareFloats(values(i), xf)
  }
  override def in(xs: Array[Any]): Int => Boolean = {
    val s = xs.map(_.asInstanceOf[Float] + 0.0f)
    java.util.Arrays.sort(s)
    i => java.util.Arrays.binarySearch(s, values(i) + 0.0f) >= 0
  }
}

final class BooleanColumn(val values: Array[Boolean], nulls: Array[Long]) extends BitmapColumn(nulls) {
  def length: Int = values.length
  def get(i: Int): Any = if (isNull(i)) null else Boolean.box(values(i))
  def compareRows(i: Int, j: Int): Int = java.lang.Boolean.compare(values(i), values(j))
  def against(x: Any): Int => Int = {
    val xb = x.asInstanceOf[Boolean]
    i => java.lang.Boolean.compare(values(i), xb)
  }
}

/** Binary-collation string column, in UTF-8 byte order: one shared
  * `UTF8String` per distinct value, NULL as a null entry. */
final class StringColumn(val values: Array[UTF8String]) extends MemColumn {
  def length: Int = values.length
  def isNull(i: Int): Boolean = values(i) == null
  def get(i: Int): Any = values(i)
  def compareRows(i: Int, j: Int): Int = values(i).compareTo(values(j))
  def against(x: Any): Int => Int = {
    val s = x.asInstanceOf[UTF8String]
    i => values(i).compareTo(s)
  }
  override def in(xs: Array[Any]): Int => Boolean = {
    val s = new java.util.HashSet[UTF8String]()
    xs.foreach(x => s.add(x.asInstanceOf[UTF8String]))
    i => s.contains(values(i))
  }
}

/** Every other type: its Catalyst values, ordered by
  * `PhysicalDataType.ordering` (built on first use: some types have none,
  * and no filter or sort on them is ever pushed). */
final class ObjectColumn(dataType: DataType, val values: Array[Any]) extends MemColumn {
  private lazy val ordering = PhysicalDataType.ordering(dataType)
  def length: Int = values.length
  def isNull(i: Int): Boolean = values(i) == null
  def get(i: Int): Any = values(i)
  def compareRows(i: Int, j: Int): Int = ordering.compare(values(i), values(j))
  def against(x: Any): Int => Int = {
    val ord = ordering
    i => ord.compare(values(i), x)
  }
}

private[mem] object Bits {
  def set(bits: Array[Long], n: Int, i: Int): Array[Long] = {
    val b = if (bits == null) new Array[Long]((n + 63) >>> 6) else bits
    b(i >>> 6) |= 1L << i
    b
  }
  def isSet(bits: Array[Long], i: Int): Boolean =
    bits != null && (bits(i >>> 6) & (1L << i)) != 0
}

object MemColumn {
  /** Column `j` of `rows`, declared type `dt`. Nothing keeps a row's
    * buffer alive: strings are cloned, one instance per distinct value,
    * and every other non-primitive value is copied. */
  def build(dt: DataType, rows: Array[InternalRow], j: Int): MemColumn = {
    val n = rows.length
    var nulls: Array[Long] = null
    def fill(put: Int => Unit): Array[Long] = {
      var i = 0
      while (i < n) {
        if (rows(i).isNullAt(j)) nulls = Bits.set(nulls, n, i) else put(i)
        i += 1
      }
      nulls
    }
    PhysicalDataType(dt) match {
      case PhysicalLongType =>
        val vs = new Array[Long](n); new LongColumn(vs, fill(i => vs(i) = rows(i).getLong(j)))
      case PhysicalIntegerType =>
        val vs = new Array[Int](n); new IntColumn(vs, fill(i => vs(i) = rows(i).getInt(j)))
      case PhysicalShortType =>
        val vs = new Array[Short](n); new ShortColumn(vs, fill(i => vs(i) = rows(i).getShort(j)))
      case PhysicalByteType =>
        val vs = new Array[Byte](n); new ByteColumn(vs, fill(i => vs(i) = rows(i).getByte(j)))
      case PhysicalDoubleType =>
        val vs = new Array[Double](n); new DoubleColumn(vs, fill(i => vs(i) = rows(i).getDouble(j)))
      case PhysicalFloatType =>
        val vs = new Array[Float](n); new FloatColumn(vs, fill(i => vs(i) = rows(i).getFloat(j)))
      case PhysicalBooleanType =>
        val vs = new Array[Boolean](n); new BooleanColumn(vs, fill(i => vs(i) = rows(i).getBoolean(j)))
      case _ if dt == StringType =>
        val vs = new Array[UTF8String](n)
        val shared = new java.util.HashMap[UTF8String, UTF8String]()
        fill { i =>
          val s = rows(i).getUTF8String(j)
          val prior = shared.get(s)
          vs(i) = if (prior != null) prior else { val c = s.clone(); shared.put(c, c); c }
        }
        new StringColumn(vs)
      case _ =>
        val vs = new Array[Any](n)
        fill(i => vs(i) = InternalRow.copyValue(rows(i).get(j, dt)))
        new ObjectColumn(dt, vs)
    }
  }
}

/** One registration of the store: its schema and one [[MemColumn]] per
  * field, in the stable cursor order rows were registered in. Rows are
  * built only when served ([[project]]). */
final class MemCollection(val schema: StructType, val columns: Array[MemColumn], val size: Int) {
  def column(name: String): MemColumn = columns(schema.fieldIndex(name))

  /** Row `i` narrowed to the columns `idx`. */
  def project(i: Int, idx: Array[Int]): InternalRow = {
    val vs = new Array[Any](idx.length)
    var j = 0
    while (j < vs.length) { vs(j) = columns(idx(j)).get(i); j += 1 }
    new GenericInternalRow(vs)
  }

  private def allColumns: Array[Int] = columns.indices.toArray

  def rows(start: Int, end: Int): Iterator[InternalRow] = {
    val idx = allColumns
    (math.max(0, start) until math.min(end, size)).iterator.map(project(_, idx))
  }

  /** The rows as `df.collect()` returned them: through the deserializer
    * `collect` uses, so every value has the class it had there. */
  def toExternalRows: Array[Row] = {
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    rows(0, size).map(toRow).toArray
  }

  def append(more: MemCollection): MemCollection =
    MemCollection.fromRows(schema, (rows(0, size) ++ more.rows(0, more.size)).toArray)
}

object MemCollection {
  def fromRows(schema: StructType, rows: Array[InternalRow]): MemCollection =
    new MemCollection(schema,
      Array.tabulate(schema.length)(j => MemColumn.build(schema(j).dataType, rows, j)),
      rows.length)

  /** The collection of `df`'s rows, collected in Catalyst form. */
  def of(df: DataFrame): MemCollection = {
    val qe = df.queryExecution
    fromRows(df.schema, org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect()))
  }
}
