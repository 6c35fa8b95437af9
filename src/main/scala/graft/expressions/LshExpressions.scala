package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** Custom Catalyst expression: per-element xxhash64-mod over an
  * `array<string>` — `transform(arr, s -> pmod(xxhash64(s), p))` as ONE
  * codegen'd primitive loop.
  *
  * Why custom (SURVEY.md §7.3): higher-order functions evaluate their
  * lambda through interpreted `InternalRow` plumbing per element AND keep
  * the whole parent expression off the whole-stage-codegen path — which
  * left [[MinHashSignature]]'s `doGenCode` dormant whenever it consumed a
  * `transform(...)` input. Hash values are bit-identical to Spark's
  * `xxhash64` builtin (same `XXH64.hashUTF8String`, same default seed 42)
  * followed by `pmod`, so signatures — and therefore LSH candidates — are
  * unchanged. Null elements keep xxhash64's null semantics (hash stays at
  * the seed).
  */
case class XxHash64ModArray(child: Expression, mod: Long)
    extends UnaryExpression with GraftInputTypes {

  private val Seed = 42L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val h = if (arr.isNullAt(i)) Seed
        else XXH64.hashUTF8String(arr.getUTF8String(i), Seed)
      var v = h % mod
      if (v < 0) v += mod
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int $n = $input.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $input.isNullAt($i) ? ${Seed}L
         |    : org.apache.spark.sql.catalyst.expressions.XXH64
         |        .hashUTF8String($input.getUTF8String($i), ${Seed}L);
         |  long $v = $h % ${mod}L;
         |  if ($v < 0) $v += ${mod}L;
         |  $out[$i] = $v;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): XxHash64ModArray =
    copy(child = newChild)
}

/** The one `array<float>`/`array<double>` vector input of an expression
  * that reads it against a `dim`-wide table ([[LshBandBuckets]],
  * [[NearestCell]]): the accepted types, the dimension guard (fail fast,
  * the dot_product contract) and the element read widened to double, both
  * interpreted and generated. The guard's message names the expression
  * (`fn`) and its table. */
trait VectorInput extends UnaryExpression with GraftInputTypes {
  protected def dim: Int
  protected def fn: String
  protected def table: String

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(VectorInput.Types)

  protected def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** The input vector, after the dimension guard. */
  protected def vector(input: Any): ArrayData = {
    val vec = input.asInstanceOf[ArrayData]
    if (vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"$fn: vector length ${vec.numElements()} != $table dim $dim")
    vec
  }

  /** Element `d` widened to double (`fl` = [[isFloat]], hoisted by callers). */
  @inline protected final def elem(vec: ArrayData, fl: Boolean, d: Int): Double =
    if (fl) vec.getFloat(d).toDouble else vec.getDouble(d)

  /** Generated code: the dimension guard, then `body(input, get)` with
    * `get` the element getter (`getFloat`/`getDouble`). */
  protected def vectorCode(ctx: CodegenContext, ev: ExprCode)(
      body: (String, String) => String): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, input =>
      s"""
         |if ($input.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "$fn: vector length " + $input.numElements() + " != $table dim $dim");
         |}""".stripMargin + body(input, get))
  }
}

object VectorInput {
  /** `array<float>` or `array<double>`. */
  val Types: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))
}

/** Custom Catalyst expression: all random-hyperplane sign buckets of a
  * vector in one pass — `bands` bucket ids, each packing `planesPerBand`
  * sign bits.
  *
  * Why custom: the composed form (`transform` over bands, `aggregate` over
  * planes, [[DotProduct]] per plane) ran ~bands×planesPerBand interpreted
  * lambda invocations per row — the dominant cost of the LSH-banded
  * near-dup path. This expression is one codegen'd triple loop
  * (band × plane × dim) over primitive doubles. Sign decisions use the
  * same left-to-right double accumulation as [[DotProduct]], so buckets —
  * and therefore candidates — are identical to the composed form.
  * Fails fast on dimension mismatch (same contract as dot_product).
  */
case class LshBandBuckets(
    child: Expression,
    planes: Array[Array[Double]],
    planesPerBand: Int)
    extends VectorInput {

  require(planes.nonEmpty && planes.length % planesPerBand == 0,
    s"planes (${planes.length}) must be a multiple of planesPerBand ($planesPerBand)")

  private val bands = planes.length / planesPerBand
  protected val dim: Int = planes(0).length
  protected def fn: String = "lsh_band_buckets"
  protected def table: String = "plane"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val vec = vector(input)
    val out = new Array[Long](bands)
    val fl = isFloat
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < planesPerBand) {
        val plane = planes(b * planesPerBand + j)
        var acc = 0.0
        var d = 0
        while (d < dim) {
          acc += plane(d) * elem(vec, fl, d)
          d += 1
        }
        if (acc > 0.0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    vectorCode(ctx, ev) { (input, get) =>
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val plane = ctx.freshName("plane")
      val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      s"""
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $bucket = 0L;
         |  for (int $j = 0; $j < $planesPerBand; $j++) {
         |    double[] $plane = $planesRef[$b * $planesPerBand + $j];
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $dim; $d++) {
         |      $acc += $plane[$d] * (double) $input.$get($d);
         |    }
         |    if ($acc > 0.0) $bucket |= (1L << $j);
         |  }
         |  $out[$b] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandBuckets =
    copy(child = newChild)
}

/** Custom Catalyst expression: index of the nearest centroid (squared
  * Euclidean distance, ties to the lower cell id) — the IVF assignment
  * step as a map-only codegen'd loop. The alternative (crossJoin with the
  * centroid table + per-row window argmin) amplifies the corpus nlist×
  * through a shuffle; this is one pass, no shuffle, no blow-up.
  * Fails fast on dimension mismatch. */
case class NearestCell(child: Expression, centroids: Array[Array[Double]])
    extends VectorInput {

  require(centroids.nonEmpty, "NearestCell: empty centroid table")
  private val nlist = centroids.length
  protected val dim: Int = centroids(0).length
  protected def fn: String = "nearest_cell"
  protected def table: String = "centroid"

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(input: Any): Any = {
    val vec = vector(input)
    val fl = isFloat
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < nlist) {
      val cent = centroids(c)
      var d2 = 0.0
      var d = 0
      while (d < dim) {
        val diff = elem(vec, fl, d) - cent(d)
        d2 += diff * diff
        d += 1
      }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    vectorCode(ctx, ev) { (input, get) =>
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val d2 = ctx.freshName("d2")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val cent = ctx.freshName("cent")
      s"""
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $nlist; $c++) {
         |  double[] $cent = $centRef[$c];
         |  double $d2 = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    double $diff = (double) $input.$get($d) - $cent[$d];
         |    $d2 += $diff * $diff;
         |  }
         |  if ($d2 < $bestD) { $bestD = $d2; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    }
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

object LshFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Per-element `pmod(xxhash64(s), p)` over `array<string>` (codegen'd). */
  def xxhash64_mod_array(arr: Column, mod: Long): Column =
    column(XxHash64ModArray(expression(arr), mod))

  /** All band sign-buckets of a vector (codegen'd triple loop). */
  def lsh_band_buckets(vec: Column, planes: Seq[Seq[Double]], planesPerBand: Int): Column =
    column(LshBandBuckets(expression(vec), planes.map(_.toArray).toArray, planesPerBand))

  /** Nearest-centroid index (codegen'd map-only IVF assignment). */
  def nearest_cell(vec: Column, centroids: Seq[Seq[Double]]): Column =
    column(NearestCell(expression(vec), centroids.map(_.toArray).toArray))
}
