package graft.sources.mem

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** The store must give Spark's answer: over every column type, a cursor
  * selects exactly the rows Spark's own filter keeps, serves a top-n in
  * Spark's sort order, and ships partial aggregates that merge to Spark's
  * aggregates — in process and over the wire. Spark's evaluation of the
  * same query over the same rows as a plain DataFrame is the oracle. And
  * every registration path reads back the rows it was given, class for
  * class. */
class MemColumnarSpec extends AnyFunSuite {
  import graft.SparkTestSession.spark
  import MemColumnarSpec.toColumn

  // every specialised type, plus a decimal and an array kept as values
  private val schema = StructType(Seq(
    StructField("rid", LongType), StructField("l", LongType), StructField("i", IntegerType),
    StructField("h", ShortType), StructField("y", ByteType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("z", BooleanType), StructField("s", StringType),
    StructField("t", TimestampType), StructField("n", TimestampNTZType),
    StructField("dt", DateType), StructField("dec", DecimalType(12, 2)),
    StructField("arr", ArrayType(IntegerType))))

  private def ts(us: Long) = DateTimeUtils.toJavaTimestamp(us)
  private def ntz(us: Long) = DateTimeUtils.microsToLocalDateTime(us)
  private def day(d: Int) = DateTimeUtils.toJavaDate(d)

  private val longs = Seq[Long](0L, 1L, -1L, 7L, 42L, Long.MinValue, Long.MaxValue,
    (1L << 53) + 1L, (1L << 53), -(1L << 53) - 1L, (1L << 60), 1000000L)
  private val doubles = Seq[Double](0.0, -0.0, 1.0, -1.0, 0.5, 7.0, 41.5, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, Double.MinValue,
    Double.MinPositiveValue, math.pow(2, 60), math.pow(2, 53) + 2.0, 0.1, 1e20, -1e-300)
  private val floats = Seq[Float](0.0f, -0.0f, 1.0f, 0.5f, 7.0f, 0.1f, Float.NaN,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MaxValue, Float.MinValue,
    Float.MinPositiveValue, 16777217.0f, 1e10f)
  // both sides of U+E000 (where UTF-16 and UTF-8 orders part) and above U+FFFF
  private val strings = Seq("", "a", "b", "ab", "B", "\u00E9", "\uD7FF", "\uE000", "\uFFFD",
    "\uD83D\uDE00", "\uD83D\uDE00x", "null", "z\u0000")
  // pre-epoch, year 1, the Gregorian switch (1582-10-15) and before it
  private val micros = Seq[Long](0L, 1L, -1L, 1500000L, -1500000L, 86400000000L,
    1717245296789000L, -62135596800000000L, -12219292800000000L, -15000000000000000L)
  private val days = Seq(0, 1, -1, 19000, -719162, 2932896, -141427, -150000)

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

  /** A literal of column `c`'s own class, as Spark pushes them. */
  private def literal(rnd: scala.util.Random, c: String): Any = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    c match {
      case "l" => if (rnd.nextBoolean()) pick(longs) else rnd.nextInt(20).toLong - 10
      case "i" => rnd.nextInt(20) - 10
      case "h" => pick(Seq(Short.MinValue, 0.toShort, 7.toShort, (-3).toShort))
      case "y" => pick(Seq(Byte.MaxValue, 0.toByte, 7.toByte, (-3).toByte))
      case "d" => if (rnd.nextBoolean()) pick(doubles) else (rnd.nextInt(40) - 20) / 2.0
      case "f" => if (rnd.nextBoolean()) pick(floats) else (rnd.nextInt(40) - 20) / 2.0f
      case "z" => rnd.nextBoolean()
      case "s" => pick(strings)
      case "t" => ts(pick(micros))
      case "n" => ntz(pick(micros))
      case "dt" => day(pick(days))
      case "dec" => new java.math.BigDecimal(rnd.nextInt(2000) - 1000).movePointLeft(2)
    }
  }

  /** A random pushed filter tree: every leaf shape (literals on `cols`,
    * `In` lists with a NULL sometimes), nested And/Or/Not. */
  private def randomFilter(rnd: scala.util.Random, depth: Int, cols: Seq[String]): Filter = {
    val c = cols(rnd.nextInt(cols.length))
    def lit = if (rnd.nextInt(25) == 0) null else literal(rnd, c)
    rnd.nextInt(if (depth > 0) 12 else 9) match {
      case 0 => EqualTo(c, lit)
      case 1 => GreaterThan(c, lit)
      case 2 => GreaterThanOrEqual(c, lit)
      case 3 => LessThan(c, lit)
      case 4 => LessThanOrEqual(c, lit)
      case 5 | 6 => In(c, Array.fill(1 + rnd.nextInt(4))(lit) ++
        (if (rnd.nextInt(4) == 0) Array[Any](null) else Array.empty[Any]))
      case 7 => IsNull(if (rnd.nextInt(6) == 0) "arr" else c)
      case 8 => IsNotNull(if (rnd.nextInt(6) == 0) "arr" else c)
      case 9 => And(randomFilter(rnd, depth - 1, cols), randomFilter(rnd, depth - 1, cols))
      case 10 => Or(randomFilter(rnd, depth - 1, cols), randomFilter(rnd, depth - 1, cols))
      case _ => Not(randomFilter(rnd, depth - 1, cols))
    }
  }

  private lazy val frame: DataFrame = {
    val df = spark.createDataFrame(randomRows(new scala.util.Random(8), 400).toSeq.asJava, schema)
    MemStore.register("columnar_diff", df)
    df
  }

  private val orderCols = Seq("l", "i", "h", "y", "d", "f", "z", "s", "t", "n", "dt", "dec")

  /** Rows in a canonical order and form: -0.0 prints as 0.0, since
    * Spark's min/max may keep either of two equal zeros. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => (d + 0.0).toString
      case f: Float => (f + 0.0f).toString
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Store results over `client` equal Spark's for random filter trees
    * (literals on `litCols`), top-n with offset and limit, and grouped
    * and global partial aggregates (groups on `groupCols`, min/max on
    * `aggCols`). */
  private def differential(client: StoreClient, seed: Int, litCols: Seq[String],
      groupCols: Seq[String], aggCols: Seq[String]): Unit = {
    val df = frame
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def ids(spec: QuerySpec): Seq[Long] =
      client.query("columnar_diff", 0, 400, spec).map(_.getLong(0)).toSeq
    def where(fs: Seq[Filter]): DataFrame = fs.map(toColumn).foldLeft(df)(_ where _)

    // filters: Spark evaluates 100 of them per select, one column each
    Seq.fill(500)(Seq.fill(1 + rnd.nextInt(2))(randomFilter(rnd, 3, litCols)))
      .grouped(100).foreach { batch =>
        val truth = df.select(col("rid") +: batch.zipWithIndex.map { case (fs, k) =>
          fs.map(toColumn).reduce(_ && _).as(s"p$k") }: _*).collect()
        batch.zipWithIndex.foreach { case (fs, k) =>
          val want = truth.filter(r => !r.isNullAt(k + 1) && r.getBoolean(k + 1)).map(_.getLong(0)).toSeq
          assert(ids(QuerySpec(fs, None, Nil, 0, None, Seq("rid"), countServed = false)) === want,
            s"filters $fs")
        }
      }

    // top-n on one cursor, ties broken by rid so the order is total
    (1 to 60).foreach { _ =>
      val fs = if (rnd.nextBoolean()) Seq(randomFilter(rnd, 2, litCols)) else Nil
      val keys = Seq.fill(1 + rnd.nextInt(2))((pick(orderCols), rnd.nextBoolean())) :+ ("rid" -> false)
      val offset = if (rnd.nextInt(3) == 0) rnd.nextInt(10) else 0
      val limit = 1 + rnd.nextInt(60)
      val want = where(fs)
        .orderBy(keys.map { case (c, desc) => if (desc) col(c).desc_nulls_last else col(c).asc_nulls_first }: _*)
        .offset(offset).limit(limit).select("rid").collect().map(_.getLong(0)).toSeq
      assert(ids(QuerySpec(fs, None, keys, offset, Some(limit), Seq("rid"), countServed = false)) === want,
        s"filters $fs top-n $keys offset $offset limit $limit")
    }

    // partial aggregates of 4 cursors, merged as a scan's final aggregate merges them
    (1 to 30).foreach { _ =>
      val fs = if (rnd.nextBoolean()) Seq(randomFilter(rnd, 2, litCols)) else Nil
      val groups = if (rnd.nextBoolean()) Seq(pick(groupCols)) else Nil
      val funcs = MemAgg.CountAll +: Seq.fill(3)(pick(Seq[String => MemAgg](
        MemAgg.CountCol, MemAgg.MinCol, MemAgg.MaxCol))(pick(aggCols))) :+ MemAgg.SumCol(pick(Seq("i", "h", "y")))
      val proj = (groups ++ funcs.collect {
        case MemAgg.CountCol(c) => c
        case MemAgg.MinCol(c) => c
        case MemAgg.MaxCol(c) => c
        case MemAgg.SumCol(c) => c
      }).distinct
      val spec = QuerySpec(fs, None, Nil, 0, None, proj, countServed = false, agg = Some((groups, funcs)))
      val reply = spec.replySchema(schema)
      val toRow = CatalystTypeConverters.createToScalaConverter(reply)
      val partials = Seq(0, 100, 200, 300).flatMap(s =>
        client.query("columnar_diff", s, s + 100, spec).map(toRow(_).asInstanceOf[Row]))
      val finals = funcs.zipWithIndex.map {
        case (MemAgg.MinCol(_), k) => min(col(s"agg_$k"))
        case (MemAgg.MaxCol(_), k) => max(col(s"agg_$k"))
        case (_, k) => sum(col(s"agg_$k"))
      }
      val merged = spark.createDataFrame(partials.asJava, reply)
        .groupBy(groups.map(g => col(s"group_$g")): _*).agg(finals.head, finals.tail: _*)
      val direct = funcs.map {
        case MemAgg.CountAll => count(lit(1))
        case MemAgg.CountCol(c) => count(col(c))
        case MemAgg.MinCol(c) => min(col(c))
        case MemAgg.MaxCol(c) => max(col(c))
        case MemAgg.SumCol(c) => sum(col(c))
      }
      val want = where(fs).groupBy(groups.map(col): _*).agg(direct.head, direct.tail: _*)
      assert(canon(merged) === canon(want), s"filters $fs groups $groups funcs $funcs")
    }
  }

  // the name predates Spark as the oracle: a row evaluator of the store's
  // own (eval3/ordering) was the reference, and shared the store's mistakes
  test("columnar cursors select exactly the rows eval3 marks TRUE, in ordering's order") {
    differential(MemStoreClient, 8, orderCols, Seq("z", "s", "y", "dt", "d"), orderCols)
  }

  test("property: store results equal Spark's over the wire client") {
    // the wire carries no timestamp_ntz, decimal or array: literals and
    // served columns stay on the others (IsNull reaches every column)
    val wireCols = Seq("l", "i", "h", "y", "d", "f", "z", "s", "t", "dt")
    val server = MemWireServer.start()
    try differential(new SocketStoreClient("127.0.0.1", server.port), 9, wireCols,
      Seq("z", "s", "y", "dt", "d"), wireCols)
    finally server.close()
  }

  test("In with a NULL and mixed numeric classes is three-valued and cooperative") {
    // the name predates the literal rule: a literal of another class than
    // its column's is refused, never coerced (Spark gives both sides of a
    // comparison one type before it pushes), so the mixed-class cases now
    // assert the refusal; the rest follow Spark
    val s = StructType(Seq(StructField("rid", LongType), StructField("l", LongType),
      StructField("d", DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(0L, 7L, 7.0), Row(1L, null, -0.0),
      Row(2L, 3L, Double.NaN), Row(3L, (1L << 60) + 1L, 1.0)), s)
    val coll = MemCollection.of(df)
    def ids(f: Filter) = QueryEval.run(coll, 0, 4,
      QuerySpec(Seq(f), None, Nil, 0, None, Seq("rid"), countServed = false), None)
      .map(_.getLong(0)).toSeq
    def sparkIds(f: Filter) = df.where(toColumn(f)).select("rid").collect().map(_.getLong(0)).toSeq
    val cases = Seq[Filter](
      In("l", Array[Any](7L, null)), Not(In("l", Array[Any](7L, null))),
      Not(In("l", Array[Any](7L, 3L))), In("l", Array[Any]((1L << 60) + 1L)),
      In("d", Array[Any](0.0, Double.NaN)), Not(In("d", Array[Any](Double.NaN))),
      EqualTo("d", -0.0), LessThan("d", 0.0),
      And(IsNotNull("l"), Or(EqualTo("l", 3L), Not(GreaterThan("d", 0.0)))))
    cases.foreach(f => assert(ids(f) === sparkIds(f), s"filter $f"))
    val mixed = Seq[(Filter, String)](
      In("l", Array[Any](7, null)) -> "java.lang.Integer",
      Not(In("l", Array[Any](7L, 3.toShort))) -> "java.lang.Short",
      In("l", Array[Any](7.0, (1L << 60).toDouble)) -> "java.lang.Double",
      EqualTo("d", 7L) -> "java.lang.Long", EqualTo("l", 7.0f) -> "java.lang.Float",
      LessThan("d", 0L) -> "java.lang.Long",
      And(IsNotNull("l"), Or(EqualTo("l", 3), Not(GreaterThan("d", 0)))) -> "java.lang.Integer")
    mixed.foreach { case (f, cls) =>
      val e = intercept[IllegalArgumentException](ids(f))
      assert(e.getMessage.contains(cls) && e.getMessage.contains("of type"), e.getMessage)
    }
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
    // a cursor serves Catalyst rows: the same rows in Spark's value form
    val toRow = ExpressionEncoder(allTypes).resolveAndBind().createDeserializer()
    assertSameRows(MemStoreClient.rows("columnar_roundtrip", 10, 14).map(toRow).toArray,
      (want1 ++ want2).slice(10, 14))
    // the typed layout is what holds them, not a row array: Spark's
    // physical types, so timestamps are longs and dates ints
    val cols = MemStore.collectionOf("columnar_roundtrip").columns
    assert(cols.take(11).map(_.getClass.getSimpleName).toSeq === Seq("LongColumn",
      "IntColumn", "ShortColumn", "ByteColumn", "DoubleColumn", "FloatColumn",
      "BooleanColumn", "StringColumn", "LongColumn", "LongColumn", "IntColumn"))
    // a raw registration (a derived relation's Catalyst rows) reads back alike
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(allTypes)
    val raw = allTypesRows(0, 6).map(toCatalyst(_).asInstanceOf[InternalRow]).toArray
    MemStore.registerRaw("columnar_raw#join#t", allTypes, raw)
    assertSameRows(MemStore.rowsOf("columnar_raw#join#t"), want1.take(6))
    assert(MemStore.rowsOf("columnar_raw#join#t")(2).getAs[Int]("i") === 2)
  }

  test("string columns share one instance per distinct value across appends") {
    import spark.implicits._
    MemStore.register("columnar_strings", Seq("x", "y", "x").toDF("s"))
    MemStore.append("columnar_strings", Seq("y", "x").toDF("s"))
    val vs = MemStore.collectionOf("columnar_strings").column("s")
      .asInstanceOf[StringColumn].values
    assert(vs.map(_.toString).toSeq === Seq("x", "y", "x", "y", "x"))
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

object MemColumnarSpec {
  /** A pushed filter as the Spark predicate it stands for: the oracle for
    * the store's evaluation of it. */
  def toColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => !toColumn(c)
    case other => throw new IllegalArgumentException(s"no predicate for $other")
  }
}
