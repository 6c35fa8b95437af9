package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.util.sketch.BloomFilter

/** Custom Catalyst expression: membership probe of a pre-built Bloom
  * filter over an integral join key.
  *
  * This is the probe side of [[graft.operators.Joins.bloomSemiJoin]]: the
  * filter (built once from the dimension side's keys, a bounded sketch
  * regardless of fact-side size) ships to executors through the codegen
  * references array, and each fact row pays one O(numHashes) bit probe —
  * fully inside whole-stage codegen, before any exchange.
  *
  * Why custom: Spark's own runtime-filter rewrite
  * (`BloomFilterMightContain`) is optimizer-internal and only triggers on
  * its own injection heuristics; a Scala UDF over a broadcast sketch
  * would run interpreted per row and fence off codegen. This expression
  * is the UDF's semantics with the built-in's execution shape.
  *
  * May return false positives (by Bloom construction, at the filter's
  * configured fpp) and never false negatives — callers MUST keep an exact
  * join downstream for exact semantics; the expression only prunes.
  */
case class BloomMightContain(child: Expression, bloom: BloomFilter)
    extends UnaryExpression with Predicate with GraftInputTypes {

  protected def acceptedTypes: Seq[Seq[DataType]] =
    Seq(Seq(LongType, IntegerType, ShortType, ByteType))

  override def nullSafeEval(input: Any): Any = {
    val key = input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
      case other => other.asInstanceOf[Long]
    }
    bloom.mightContainLong(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = $ref.mightContainLong((long) $input);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Bloom membership probe over an integral key column. */
  def bloom_might_contain(key: Column, bloom: BloomFilter): Column =
    column(BloomMightContain(expression(key), bloom))
}
