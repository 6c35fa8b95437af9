package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.expressions._

/** The input-type checks of graft's Catalyst expressions, table-driven:
  * each expression accepts exactly the input types listed for it and
  * refuses every other one at analysis — no implicit cast rescues a wrong
  * type. */
class InputTypesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** One column per input type, named by the type. */
  private lazy val typed: DataFrame = spark.range(1).select(
    lit("a b c").as("string"),
    lit(1L).as("bigint"),
    lit(1).as("int"),
    lit(1).cast("smallint").as("smallint"),
    lit(1).cast("tinyint").as("tinyint"),
    lit(1.0).as("double"),
    typedLit(Seq("a", "b")).as("array<string>"),
    typedLit(Seq(1L, 2L)).as("array<bigint>"),
    typedLit(Seq(1, 2)).as("array<int>"),
    typedLit(Seq(1.0f, 0.0f)).as("array<float>"),
    typedLit(Seq(1.0, 0.0)).as("array<double>"))

  private val vectors = Set("array<float>", "array<double>")

  /** expression name -> (build it over one input column, the types it accepts) */
  private val unary: Seq[(String, Expression => Expression, Set[String])] = Seq(
    ("bloom_might_contain",
      e => BloomMightContain(e, org.apache.spark.util.sketch.BloomFilter.create(100)),
      Set("bigint", "int", "smallint", "tinyint")),
    ("cdc_chunk_bounds", e => CdcChunkBounds(e, 4, 8, 8, 32), Set("string")),
    ("xxhash64_mod_array", e => XxHash64ModArray(e, 2147483647L), Set("array<string>")),
    ("lsh_band_buckets",
      e => LshBandBuckets(e, Array(Array(1.0, 0.0), Array(0.0, 1.0)), 2), vectors),
    ("nearest_cell", e => NearestCell(e, Array(Array(1.0, 0.0))), vectors),
    ("minhash_signature", e => MinHashSignature(e, 4, 42L), Set("array<bigint>")),
    ("nfc_normalize", e => NfcNormalize(e), Set("string")),
    ("word_shingles", e => WordShingles(e, 2), Set("string")),
    ("text_signals", e => TextSignals(e), Set("string")))

  private def analyzes(c: Column): Boolean =
    try { typed.select(c.as("out")); true }
    catch { case _: AnalysisException => false }

  for ((name, build, accepted) <- unary) test(s"$name accepts ${accepted.mkString(", ")} only") {
    typed.columns.foreach { t =>
      val ok = analyzes(column(build(expression(col(s"`$t`")))))
      assert(ok === accepted(t), s"$name over $t: analyzed=$ok")
    }
    // the accepted inputs evaluate, not just analyze
    val t = accepted.head
    typed.select(column(build(expression(col(s"`$t`")))).as("out")).collect()
  }

  test("dot_product accepts a float or double vector on each side only") {
    for (l <- typed.columns; r <- typed.columns) {
      val ok = analyzes(column(DotProduct(expression(col(s"`$l`")), expression(col(s"`$r`")))))
      assert(ok === (vectors(l) && vectors(r)), s"dot_product($l, $r): analyzed=$ok")
    }
    val out = typed.select(column(DotProduct(expression(col("`array<float>`")),
      expression(col("`array<double>`")))).as("out")).head().getDouble(0)
    assert(out === 1.0)
  }

  test("an untyped NULL input is typed by Spark's coercion, and the result is NULL") {
    val out = typed.select(column(NfcNormalize(expression(lit(null)))).as("out")).head()
    assert(out.isNullAt(0))
  }
}
