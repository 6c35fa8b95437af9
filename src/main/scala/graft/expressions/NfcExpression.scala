package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (canonical composition) — the first stage of
  * every training-data text-normalization pipeline; Spark has no built-in
  * for it. Parity target is DuckDB's `nfc_normalize`, which implements the
  * same Unicode canonical composition.
  *
  * The overwhelmingly common case at 100 TB is pure-ASCII text, where NFC
  * is the identity — a byte scan decides that WITHOUT decoding to String,
  * so ASCII rows cost one pass and zero allocation; only rows with a
  * non-ASCII byte pay the `java.text.Normalizer` round-trip.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with GraftInputTypes {

  override def dataType: DataType = StringType

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    NfcUtil.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.expressions.NfcUtil.nfc($input);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcUtil {
  /** NFC with an allocation-free ASCII fast path. */
  def nfc(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) {
        return UTF8String.fromString(
          java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s
  }
}

object NfcFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  def nfc_normalize(text: Column): Column = column(NfcNormalize(expression(text)))
}
