package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst expression: MinHash signature over pre-hashed shingles.
  *
  * Input: `array<long>` of base hashes (each in [0, P)); output:
  * `array<long>` of k minima of the universal hash family
  * h_j(x) = (a_j * x + b_j) mod P, P = 2^31 - 1.
  *
  * Why custom (SURVEY.md §7.3): the composed
  * `transform(sequence(0,k-1), j -> array_min(transform(hashes, ...)))`
  * form allocates and interprets k inner arrays per row; this expression is
  * one k×n primitive loop, codegen'd, no allocation beyond the k-element
  * result. Same values (pmod semantics) — spec-checked against the exact
  * jaccard answer.
  */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with GraftInputTypes {

  private val P = 2147483647L

  @transient private lazy val (aCoef, bCoef): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(LongType)))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        var v = (aCoef(j) * h + bCoef(j)) % P
        if (v < 0) v += P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aCoef, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bCoef, "long[]")
    nullSafeCodeGen(ctx, ev, input => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $input.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $input.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($aRef[$j] * $h + $bRef[$j]) % ${P}L;
         |    if ($v < 0) $v += ${P}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Signature column over pre-hashed shingles (`array<long>` in [0, P)). */
  def minhash_signature(hashes: Column, k: Int, seed: Long): Column =
    column(MinHashSignature(expression(hashes), k, seed))
}
