package graft.sources.mem

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** The columnar store must be invisible: a cursor over the columns selects
  * exactly the rows the row evaluator ([[MemStore.eval3]]) marks TRUE, in
  * [[MemStore.ordering]]'s order, and every registration path reads back
  * the rows it was given, class for class. */
class MemColumnarSpec extends AnyFunSuite {
  import graft.SparkTestSession.spark

  // every specialised type, plus a decimal and an array kept as values
  private val schema = StructType(Seq(
    StructField("rid", LongType), StructField("l", LongType), StructField("i", IntegerType),
    StructField("h", ShortType), StructField("y", ByteType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("z", BooleanType), StructField("s", StringType),
    StructField("t", TimestampType), StructField("n", TimestampNTZType),
    StructField("dt", DateType), StructField("dec", DecimalType(12, 2)),
    StructField("arr", ArrayType(IntegerType))))

  private def ts(us: Long) = Times.timestamp(us)
  private def ntz(us: Long) = Times.localDateTime(us)
  private def day(d: Int) = Times.date(d)

  private val longs = Seq[Long](0L, 1L, -1L, 7L, 42L, Long.MinValue, Long.MaxValue,
    (1L << 53) + 1L, (1L << 53), -(1L << 53) - 1L, (1L << 60), 1000000L)
  private val doubles = Seq[Double](0.0, -0.0, 1.0, -1.0, 0.5, 7.0, 41.5, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, Double.MinValue,
    Double.MinPositiveValue, math.pow(2, 60), math.pow(2, 53) + 2.0, 0.1, 1e20, -1e-300)
  private val floats = Seq[Float](0.0f, -0.0f, 1.0f, 0.5f, 7.0f, 0.1f, Float.NaN,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MaxValue, Float.MinValue,
    Float.MinPositiveValue, 16777217.0f, 1e10f)
  private val strings = Seq("", "a", "b", "ab", "B", "😀", "😀x",
    "￿", "null", "z\u0000")
  private val micros = Seq[Long](0L, 1L, -1L, 1500000L, -1500000L, 86400000000L,
    1717245296789000L, -62135596800000000L)
  private val days = Seq(0, 1, -1, 19000, -719162, 2932896)

  private def randomRows(rnd: scala.util.Random, n: Int): Array[Row] = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def orNull(v: => Any): Any = if (rnd.nextInt(7) == 0) null else v
    Array.tabulate(n) { r =>
      Row(r.toLong,
        orNull(if (rnd.nextBoolean()) pick(longs) else rnd.nextInt(20).toLong - 10),
        orNull(if (rnd.nextBoolean()) pick(Seq(Int.MinValue, Int.MaxValue, 0, -1, 7))
               else rnd.nextInt(20) - 10),
        orNull(pick(Seq(Short.MinValue, Short.MaxValue, 0.toShort, 7.toShort, (-3).toShort))),
        orNull(pick(Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, 7.toByte, (-3).toByte))),
        orNull(if (rnd.nextBoolean()) pick(doubles) else (rnd.nextInt(40) - 20) / 2.0),
        orNull(if (rnd.nextBoolean()) pick(floats) else (rnd.nextInt(40) - 20) / 2.0f),
        orNull(rnd.nextBoolean()),
        orNull(pick(strings)),
        orNull(ts(pick(micros))),
        orNull(ntz(pick(micros))),
        orNull(day(pick(days))),
        orNull(new java.math.BigDecimal(rnd.nextInt(2000) - 1000).movePointLeft(2)),
        orNull(Seq.fill(rnd.nextInt(3))(rnd.nextInt(3))))
    }
  }

  /** Literals for a filter on `col`: the column's own class and, for
    * numbers, every other numeric class. */
  private def literal(rnd: scala.util.Random, col: String): Any = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    val numeric: Seq[() => Any] = Seq(
      () => pick(longs), () => rnd.nextInt(20) - 10, () => pick(Seq(Int.MinValue, 7, 0)),
      () => 7.toShort, () => (-3).toByte, () => pick(doubles), () => pick(floats),
      () => (rnd.nextInt(40) - 20) / 2.0, () => (rnd.nextInt(40) - 20).toLong)
    col match {
      case "l" | "i" | "h" | "y" | "d" | "f" | "rid" => pick(numeric)()
      case "z" => rnd.nextBoolean()
      case "s" => pick(strings)
      case "t" =>
        // a sub-micro literal has no stored form: it runs the row code
        if (rnd.nextInt(5) == 0) { val t = ts(pick(micros)); t.setNanos(t.getNanos + 1); t }
        else ts(pick(micros))
      case "n" => ntz(pick(micros))
      case "dt" =>
        // a date off its day's midnight compares by instant, like the row code
        if (rnd.nextInt(5) == 0) new java.sql.Date(day(pick(days)).getTime + 3600000L)
        else day(pick(days))
      case "dec" => new java.math.BigDecimal(rnd.nextInt(2000) - 1000).movePointLeft(2)
      case _ => 1
    }
  }

  private val filterCols = Seq("l", "i", "h", "y", "d", "f", "z", "s", "t", "n", "dt", "dec")

  private def randomFilter(rnd: scala.util.Random, depth: Int): Filter = {
    val c = filterCols(rnd.nextInt(filterCols.length))
    def lit = if (rnd.nextInt(25) == 0) null else literal(rnd, c)
    rnd.nextInt(if (depth > 0) 12 else 9) match {
      case 0 => EqualTo(c, lit)
      case 1 => GreaterThan(c, lit)
      case 2 => GreaterThanOrEqual(c, lit)
      case 3 => LessThan(c, lit)
      case 4 => LessThanOrEqual(c, lit)
      case 5 | 6 => In(c, Array.fill(rnd.nextInt(5))(lit) ++
        (if (rnd.nextInt(4) == 0) Array[Any](null) else Array.empty[Any]))
      case 7 => IsNull(if (rnd.nextInt(6) == 0) "arr" else c)
      case 8 => IsNotNull(if (rnd.nextInt(6) == 0) "arr" else c)
      case 9 => And(randomFilter(rnd, depth - 1), randomFilter(rnd, depth - 1))
      case 10 => Or(randomFilter(rnd, depth - 1), randomFilter(rnd, depth - 1))
      case _ => Not(randomFilter(rnd, depth - 1))
    }
  }

  /** Row ids a spec serves, or the failure's class (a mismatched literal
    * class can make the row code throw; the cursor must throw alike). */
  private def outcome(body: => Seq[Long]): Either[String, Seq[Long]] =
    try Right(body) catch { case e: Exception => Left(e.getClass.getName) }

  test("columnar cursors select exactly the rows eval3 marks TRUE, in ordering's order") {
    val rnd = new scala.util.Random(8)
    val rows = randomRows(rnd, 400)
    val coll = MemCollection.fromRows(schema, rows)
    val orderable = Seq("l", "i", "h", "y", "d", "f", "z", "s", "t", "n", "dt", "dec")
    var typedChecks = 0
    (1 to 2500).foreach { k =>
      val filters = Seq.fill(1 + rnd.nextInt(2))(randomFilter(rnd, 3))
      val topN =
        if (k % 3 == 0) Seq.fill(1 + rnd.nextInt(2))(
          (orderable(rnd.nextInt(orderable.length)), rnd.nextBoolean()))
        else Nil
      val limit = if (topN.nonEmpty || k % 5 == 0) Some(1 + rnd.nextInt(60)) else None
      val offset = if (k % 7 == 0) rnd.nextInt(10) else 0
      val expected = outcome {
        val kept = rows.filter(r => filters.forall(MemStore.eval3(r, schema, _).contains(true)))
        val ordered = if (topN.isEmpty) kept else kept.sorted(MemStore.ordering(schema, topN))
        val page = ordered.drop(offset)
        limit.fold(page)(page.take).map(_.getLong(0)).toSeq
      }
      val got = outcome {
        QueryEval.run(coll, 0, rows.length,
          QuerySpec(filters, None, topN, offset, limit, Seq("rid"), countServed = false), None)
          .map(_.getLong(0)).toSeq
      }
      if (expected.isRight) typedChecks += 1
      assert(got === expected, s"filters $filters topN $topN offset $offset limit $limit")
    }
    // most specs must evaluate, not merely agree on throwing
    assert(typedChecks > 2000, s"only $typedChecks specs evaluated")
  }

  test("In with a NULL and mixed numeric classes is three-valued and cooperative") {
    val s = StructType(Seq(StructField("rid", LongType), StructField("l", LongType),
      StructField("d", DoubleType)))
    val rows = Array[Row](Row(0L, 7L, 7.0), Row(1L, null, -0.0), Row(2L, 3L, Double.NaN),
      Row(3L, (1L << 60) + 1L, 1.0))
    val coll = MemCollection.fromRows(s, rows)
    def ids(f: Filter) = QueryEval.run(coll, 0, 4,
      QuerySpec(Seq(f), None, Nil, 0, None, Seq("rid"), countServed = false), None)
      .map(_.getLong(0)).toSeq
    def rowIds(f: Filter) = rows.filter(MemStore.eval(_, s, f)).map(_.getLong(0)).toSeq
    val cases = Seq[Filter](
      In("l", Array[Any](7, null)), Not(In("l", Array[Any](7, null))),
      Not(In("l", Array[Any](7L, 3.toShort))), In("l", Array[Any](7.0, (1L << 60).toDouble)),
      In("d", Array[Any](0.0, Double.NaN)), Not(In("d", Array[Any](Double.NaN))),
      EqualTo("d", 7L), EqualTo("l", 7.0f), EqualTo("d", -0.0), LessThan("d", 0L),
      And(IsNotNull("l"), Or(EqualTo("l", 3), Not(GreaterThan("d", 0)))))
    cases.foreach(f => assert(ids(f) === rowIds(f), s"filter $f"))
  }

  /** Field-by-field: the same external class and the same Java equality
    * (so -0.0 stays -0.0 and a Timestamp keeps its nanos). */
  private def assertSameRows(got: Array[Row], want: Array[Row]): Unit = {
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.isInstanceOf[GenericRowWithSchema], g.getClass)
      assert(g.length === w.length)
      (0 until w.length).foreach { j =>
        val (a, b) = (g.get(j), w.get(j))
        if (b == null) assert(a == null, s"field $j: $a for NULL")
        else {
          assert(a.getClass === b.getClass, s"field $j")
          b match {
            case bytes: Array[Byte] =>
              assert(java.util.Arrays.equals(a.asInstanceOf[Array[Byte]], bytes), s"field $j")
            case _ => assert(a.equals(b), s"field $j: $a vs $b")
          }
        }
      }
    }
  }

  private val allTypes = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType), StructField("h", ShortType),
    StructField("y", ByteType), StructField("d", DoubleType), StructField("f", FloatType),
    StructField("z", BooleanType), StructField("s", StringType),
    StructField("t", TimestampType), StructField("n", TimestampNTZType),
    StructField("dt", DateType), StructField("dec", DecimalType(12, 2)),
    StructField("arr", ArrayType(StringType)), StructField("m", MapType(StringType, IntegerType)),
    StructField("bin", BinaryType),
    StructField("st", StructType(Seq(StructField("a", IntegerType))))))

  private def allTypesRows(from: Int, n: Int): Seq[Row] = (from until from + n).map { k =>
    if (k % 4 == 3) Row.fromSeq(Seq.fill(allTypes.length)(null))
    else Row(k.toLong * 1000003L, k, k.toShort, k.toByte, if (k % 2 == 0) -0.0 else k / 3.0,
      k / 7.0f, k % 2 == 0, s"s$k😀", ts(k * 1234567L - 5000000L),
      ntz(k * 7654321L), day(k * 400 - 800), new java.math.BigDecimal(k).movePointLeft(2),
      Seq(s"a$k", null), Map(s"k$k" -> k), Array[Byte](k.toByte, 0), Row(k))
  }

  test("register, append and registerRaw read back as df.collect(), class for class") {
    val df1 = spark.createDataFrame(allTypesRows(0, 12).asJava, allTypes)
    val df2 = spark.createDataFrame(allTypesRows(12, 9).asJava, allTypes)
    val want1 = df1.collect()
    val want2 = df2.collect()
    MemStore.register("columnar_roundtrip", df1)
    assertSameRows(MemStore.rowsOf("columnar_roundtrip"), want1)
    MemStore.append("columnar_roundtrip", df2)
    assertSameRows(MemStore.rowsOf("columnar_roundtrip"), want1 ++ want2)
    val (snapSchema, snapRows) = MemStore.snapshot("columnar_roundtrip")
    assert(snapSchema === allTypes)
    assertSameRows(snapRows, want1 ++ want2)
    val back = MemStore.rowsOf("columnar_roundtrip")
    assert(back(1).getAs[String]("s") === "s1😀")
    assert(back(1).getAs[java.sql.Timestamp]("t") === want1(1).getAs[java.sql.Timestamp]("t"))
    assert(MemStoreClient.rowCount("columnar_roundtrip") === 21)
    assertSameRows(MemStoreClient.rows("columnar_roundtrip", 10, 14).toArray,
      (want1 ++ want2).slice(10, 14))
    // the typed layout is what holds them, not a row array
    val cols = MemStore.collectionOf("columnar_roundtrip").columns
    assert(cols.take(11).map(_.getClass.getSimpleName).toSeq === Seq("LongColumn",
      "IntColumn", "ShortColumn", "ByteColumn", "DoubleColumn", "FloatColumn",
      "BooleanColumn", "StringColumn", "TimestampColumn", "TimestampNtzColumn", "DateColumn"))
    // a raw registration keeps what it was given, a mistyped value included
    val raw = allTypesRows(0, 5).toArray :+
      Row.fromSeq(Seq("not a long") ++ allTypesRows(5, 1).head.toSeq.tail)
    MemStore.registerRaw("columnar_raw#join#t", allTypes, raw)
    assertSameRows(MemStore.rowsOf("columnar_raw#join#t"), raw)
    assert(MemStore.rowsOf("columnar_raw#join#t")(2).getAs[Int]("i") === 2)
  }

  test("string columns share one instance per distinct value across appends") {
    import spark.implicits._
    MemStore.register("columnar_strings", Seq("x", "y", "x").toDF("s"))
    MemStore.append("columnar_strings", Seq("y", "x").toDF("s"))
    val vs = MemStore.collectionOf("columnar_strings").column("s")
      .asInstanceOf[StringColumn].values
    assert(vs.toSeq === Seq("x", "y", "x", "y", "x"))
    assert((vs(0) eq vs(2)) && (vs(0) eq vs(4)) && (vs(1) eq vs(3)))
  }

  test("a registered 100k-row lineitem-shaped collection retains at most 100 B/row") {
    val n = 100000
    val df = spark.range(n).selectExpr(
      "id div 4 as l_orderkey", "(id * 7) % 20000 as l_partkey", "(id * 13) % 1000 as l_suppkey",
      "cast(id % 4 + 1 as int) as l_linenumber", "cast(id % 50 + 1 as double) as l_quantity",
      "cast(id % 9973 as double) * 1.5 as l_extendedprice", "cast(id % 11 as double) / 100 as l_discount",
      "cast(id % 9 as double) / 100 as l_tax",
      "element_at(array('A', 'N', 'R'), cast(id % 3 + 1 as int)) as l_returnflag",
      "element_at(array('F', 'O'), cast(id % 2 + 1 as int)) as l_linestatus",
      "timestamp_seconds(694224000 + (id % 2500) * 86400) as l_shipdate")
    MemStore.register("columnar_footprint", df)
    // what the store itself retains for the registration, whatever its
    // representation (read from its private map, so the pin measures the
    // storage rather than a materialized view)
    val field = MemStore.getClass.getDeclaredFields.find(_.getName.endsWith("collections")).get
    field.setAccessible(true)
    val stored = field.get(MemStore).asInstanceOf[scala.collection.concurrent.TrieMap[String, AnyRef]]
      .apply("columnar_footprint")
    val perRow = org.apache.spark.util.SizeEstimator.estimate(stored).toDouble / n
    info(f"retained $perRow%.1f B/row")
    assert(perRow <= 100.0, f"retained $perRow%.1f B/row")
  }
}
