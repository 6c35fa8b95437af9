package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation for [[WordShingles]] — a mirror-class static so
  * generated Java can call it directly. */
object ShingleUtil {
  /** Distinct word-level n-gram shingles, space-joined; empty when the
    * document has fewer than n tokens. Bit-identical to the composed form
    * `array_distinct(transform(sequence(0, size(toks)-n),
    *   i -> concat_ws(" ", slice(toks, i+1, n))))` over
    * `toks = split(text, " ")`:
    *  - `String.split(" ", -1)` matches Spark's split regex semantics for a
    *    single-space pattern (interior AND trailing empty tokens kept);
    *  - shingle join keeps empty tokens, like concat_ws over non-null
    *    elements;
    *  - distinct preserves first-occurrence order, like array_distinct. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = toks.length - n
    val sb = new java.lang.StringBuilder
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** Custom Catalyst expression: distinct word n-gram shingles of a text
  * column in one pass.
  *
  * Why custom (SURVEY.md §7.3): the composed split/transform/slice/
  * concat_ws/array_distinct form evaluates an interpreted lambda per
  * shingle per row and allocates a sliced array per shingle — measured as
  * the dominant cost of every shingle-based dedup query (~2.8 s of
  * dedup_minhash_lsh's 4.7 s at sf0.1). This expression tokenizes once and
  * builds each shingle with a reused StringBuilder; output is
  * bit-identical (see [[ShingleUtil.shingles]]).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with GraftInputTypes {

  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.expressions.ShingleUtil.shingles($input, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object ShingleFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Distinct word n-gram shingles (codegen'd single pass). */
  def word_shingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))
}
