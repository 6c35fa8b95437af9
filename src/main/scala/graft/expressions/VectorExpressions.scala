package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expression: double-precision dot product over
  * `array<float>` / `array<double>` columns.
  *
  * Why custom (SURVEY.md §7.3 preference order — compose built-ins first):
  * the composed form `aggregate(zip_with(a, b, _*_), 0d, _+_)` is correct but
  * evaluates the lambda per element through interpreted `InternalRow`
  * plumbing — measured 57s for 2M pairs × 64 dims at sf0.1. This expression
  * runs a primitive loop with whole-stage codegen, with identical IEEE
  * semantics: each element widened to double, products accumulated
  * left-to-right (bit-compatible with DuckDB's list_dot_product on
  * DOUBLE[], which the correctness oracle uses).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with GraftInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(VectorInput.Types, VectorInput.Types)

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = ad.numElements()
    // fail fast on ragged inputs — silent min-length truncation produced
    // plausible-but-wrong scores, and the DuckDB oracle (list_dot_product)
    // errors on mismatched lengths, so parity demands the same here
    if (n != bd.numElements())
      throw new IllegalArgumentException(
        s"dot_product: mismatched vector lengths ($n vs ${bd.numElements()})")
    var acc = 0.0
    var i = 0
    if (isFloat(left.dataType) && isFloat(right.dataType)) {
      while (i < n) { acc += ad.getFloat(i).toDouble * bd.getFloat(i).toDouble; i += 1 }
    } else if (isFloat(left.dataType)) {
      while (i < n) { acc += ad.getFloat(i).toDouble * bd.getDouble(i); i += 1 }
    } else if (isFloat(right.dataType)) {
      while (i < n) { acc += ad.getDouble(i) * bd.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += ad.getDouble(i) * bd.getDouble(i); i += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left.dataType)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right.dataType)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product: mismatched vector lengths (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column-level dot product (codegen'd primitive loop). */
  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Register `dot_product` for SQL text queries in this session
    * (guide pattern: FunctionRegistry temp function). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"dot_product takes exactly 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      },
      "scala_udf")
}
