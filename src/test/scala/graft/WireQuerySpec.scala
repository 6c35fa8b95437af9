package graft.sources.mem

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.sources._

/** Property coverage for the wire REQUEST codec ([[WireQuery]] over
  * [[WireJson]]): arbitrary pushed filter trees (nested And/Or/Not over
  * every supported literal type, attribute and collection names with
  * quotes/braces/unicode), sample/topN/offset/limit/projection, partial
  * aggregates and keyed rank ranges — the
  * render→parse→render fixpoint catches framing bugs (an unclosed
  * array, a mis-escaped name) that example-based tests only catch on
  * the shapes they happen to use. Literal value preservation is pinned
  * by the tagged-exact encoding ([tag, string] pairs) plus the
  * re-render equality: two specs render identically iff every literal
  * survived byte-for-byte. */
class WireQuerySpec extends AnyFunSuite {

  private val weirdName = Gen.oneOf(
    Gen.asciiPrintableStr.map(s => if (s.isEmpty) "c" else s),
    Gen.oneOf("a", "l_orderkey", "we\"ird", "br{ace}", "back\\slash",
      "uni中code", "sp ace", "co,mma", "bra]cket"))

  private val tsGen: Gen[java.sql.Timestamp] = for {
    ms <- Gen.chooseNum(-4000000000000L, 4000000000000L)
    micro <- Gen.chooseNum(0, 999)
  } yield {
    val t = new java.sql.Timestamp(ms)
    t.setNanos((Math.floorMod(ms, 1000L) * 1000000L + micro * 1000L).toInt)
    t
  }

  private val litGen: Gen[Any] = Gen.oneOf(
    Gen.oneOf(true, false).map(Boolean.box),
    Gen.chooseNum(Byte.MinValue, Byte.MaxValue).map(Byte.box),
    Gen.chooseNum(Short.MinValue, Short.MaxValue).map(Short.box),
    Gen.chooseNum(Int.MinValue, Int.MaxValue).map(Int.box),
    Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.const((1L << 53) + 1L)).map(Long.box),
    Gen.oneOf(0.5f, -1.25f, Float.MinPositiveValue, 3.4e38f).map(Float.box),
    Gen.oneOf(Gen.chooseNum(-1e300, 1e300),
      Gen.oneOf(0.0, -0.0, 1.0 / 3.0)).map(Double.box),
    Gen.oneOf(Gen.asciiPrintableStr,
      Gen.oneOf("", "we\"ird", "br{ace}", "nu\u0000ll", "uni中code")),
    tsGen,
    Gen.chooseNum(-700000L, 700000L)
      .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))))

  private def leafGen: Gen[Filter] = for {
    a <- weirdName
    v <- litGen
    f <- Gen.oneOf(
      Gen.const(EqualTo(a, v)),
      Gen.const(GreaterThan(a, v)),
      Gen.const(GreaterThanOrEqual(a, v)),
      Gen.const(LessThan(a, v)),
      Gen.const(LessThanOrEqual(a, v)),
      Gen.listOfN(3, litGen).map(vs => In(a, vs.toArray)),
      Gen.const(In(a, Array.empty[Any])),
      Gen.const(IsNull(a)),
      Gen.const(IsNotNull(a)))
  } yield f

  private def filterGen(depth: Int): Gen[Filter] =
    if (depth <= 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      1 -> (for { l <- filterGen(depth - 1); r <- filterGen(depth - 1) } yield And(l, r)),
      1 -> (for { l <- filterGen(depth - 1); r <- filterGen(depth - 1) } yield Or(l, r)),
      1 -> filterGen(depth - 1).map(Not))

  private val aggGen: Gen[MemAgg] = Gen.oneOf(
    Gen.const(MemAgg.CountAll),
    weirdName.map(MemAgg.CountCol),
    weirdName.map(MemAgg.MinCol),
    weirdName.map(MemAgg.MaxCol),
    weirdName.map(MemAgg.SumCol))

  private val specGen: Gen[QuerySpec] = for {
    filters <- Gen.listOfN(2, filterGen(2)).flatMap(fs =>
      Gen.chooseNum(0, 2).map(fs.take))
    sample <- Gen.option(for {
      lo <- Gen.chooseNum(0.0, 0.5); hi <- Gen.chooseNum(0.5, 1.0)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (lo, hi, seed))
    topN <- Gen.listOfN(2, for { c <- weirdName; d <- Gen.oneOf(true, false) }
      yield (c, d)).flatMap(ts => Gen.chooseNum(0, 2).map(ts.take))
    offset <- Gen.chooseNum(0, 1000)
    limit <- Gen.option(Gen.chooseNum(0, 1000))
    proj <- Gen.nonEmptyListOf(weirdName).map(_.take(4))
    served <- Gen.oneOf(true, false)
    // empty groups (a global aggregate) and empty functions (a
    // distinct-only aggregate) must still parse back as an aggregate
    agg <- Gen.option(for {
      groups <- Gen.listOfN(2, weirdName).flatMap(gs => Gen.chooseNum(0, 2).map(gs.take))
      funcs <- Gen.listOfN(4, aggGen).flatMap(fs => Gen.chooseNum(0, 4).map(fs.take))
    } yield (groups, funcs))
    keyRange <- Gen.option(for {
      c <- weirdName; k <- weirdName
      lo <- Gen.chooseNum(0L, Long.MaxValue / 2); n <- Gen.chooseNum(1L, 1000L)
    } yield KeyRange(c, k, lo, lo + n))
  } yield QuerySpec(filters, sample, topN, offset, limit, proj, served, agg, keyRange)

  test("property: query request render -> parse -> render is a fixpoint") {
    val prop = Prop.forAll(weirdName, specGen) { (coll, spec) =>
      val r1 = WireQuery.render(coll, 3, 1000, spec)
      val fields = WireJson.parse(r1).asInstanceOf[Map[String, Any]]
      val spec2 = WireQuery.parseSpec(fields)
      val r2 = WireQuery.render(coll, 3, 1000, spec2)
      r1 == r2 &&
        fields("collection") == coll &&
        fields("start") == 3L && fields("end") == 1000L &&
        spec2.offset == spec.offset && spec2.limit == spec.limit &&
        spec2.projection == spec.projection &&
        spec2.sample == spec.sample && spec2.topN == spec.topN &&
        spec2.countServed == spec.countServed &&
        spec2.agg == spec.agg && spec2.keyRange == spec.keyRange
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"wire query property failed: ${res.status}")
  }

  test("property: agg request round-trips groups and functions") {
    val prop = Prop.forAll(weirdName, specGen,
      Gen.listOfN(2, weirdName), Gen.nonEmptyListOf(aggGen).map(_.take(4))) {
      (coll, base, groups, funcs) =>
        val spec = base.copy(agg = Some((groups, funcs)))
        val r1 = WireQuery.render(coll, 0, 50, spec)
        val spec2 = WireQuery.parseSpec(
          WireJson.parse(r1).asInstanceOf[Map[String, Any]])
        spec2.agg == Some((groups, funcs)) &&
          WireQuery.render(coll, 0, 50, spec2) == r1
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"wire agg property failed: ${res.status}")
  }

  /** Every proper prefix of `json` is refused by `parse` as input that
    * ends early: a cut request line or a corrupt checkpointed offset must
    * never pass, nor fail with an index error. */
  private def refusesEveryPrefix(json: String)(parse: String => Any): Boolean =
    (0 until json.length).forall { n =>
      try { parse(json.substring(0, n)); false }
      catch {
        case e: IllegalArgumentException =>
          e.getMessage.startsWith("wire json: unexpected end of: ")
      }
    }

  test("property: every proper prefix of a request or a keyed offset is refused as cut short") {
    val requests = Prop.forAll(weirdName, specGen) { (coll, spec) =>
      refusesEveryPrefix(WireQuery.render(coll, 3, 1000, spec))(WireJson.parse)
    }
    val offsets = Prop.forAll(Gen.mapOf(Gen.zip(weirdName, Gen.chooseNum(0L, Long.MaxValue)))) { m =>
      val json = MemKeyedOffset(m).json()
      MemKeyedOffset.parse(json) == MemKeyedOffset(m) &&
        refusesEveryPrefix(json)(MemKeyedOffset.parse)
    }
    for ((name, prop) <- Seq("request" -> requests, "keyed offset" -> offsets)) {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
      assert(res.passed, s"$name prefix property failed: ${res.status}")
    }
  }
}
