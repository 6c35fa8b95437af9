package graft.expressions

import org.apache.spark.sql.{Column, GraftInputTypes}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation for [[CdcChunkBounds]] — a mirror-class static so
  * generated Java can call it directly. */
object CdcUtil {

  /** The gear value of one codepoint — a fixed odd-multiplier affine map
    * mod 2^32, chosen to be exactly expressible in any engine's BIGINT
    * arithmetic (max product 0x10FFFF * 2654435761 < 2^63; no bit ops). */
  @inline def gear(cp: Int): Long = (cp.toLong * 2654435761L + 104729L) % 4294967296L

  /** Content-defined chunk boundaries (FastCDC-style, Xia et al. 2016,
    * USENIX ATC "FastCDC"): scanning codepoints left to right with a
    * rolling sum of [[gear]] values over the trailing `window` codepoints,
    * cut at the first position `i >= prev + minLen` where the window is
    * full and the rolling sum ≡ 0 (mod `modulus`); force a cut at
    * `prev + maxLen` when no content cut arrives; the final chunk ends at
    * the text length. Positions are 1-based codepoint offsets (chunk k =
    * codepoints (end_{k-1}, end_k]), so the same offsets drive
    * `substring`/`substr` in any engine.
    *
    * Why content-defined: a one-codepoint insertion shifts every
    * fixed-size chunk after it, but only the one or two chunks whose
    * window covers the edit here — chunk-hash dedup stays stable under
    * local edits, the property that makes chunk-level dedup work on
    * 100 TB of near-duplicate crawl text.
    *
    * Returns an array of (start, end) structs, empty for empty input. */
  def bounds(text: UTF8String, window: Int, modulus: Int,
      minLen: Int, maxLen: Int): ArrayData = {
    val s = text.toString
    val slen = s.length
    if (slen == 0) return new GenericArrayData(Array.empty[Any])
    val ring = new Array[Long](window)
    var hsum = 0L
    var filled = 0
    var ringAt = 0
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var prev = 0 // last boundary, in codepoints
    var i = 0 // codepoints consumed
    var ci = 0 // Java char index
    while (ci < slen) {
      val cp = s.codePointAt(ci)
      ci += Character.charCount(cp)
      i += 1
      val g = gear(cp)
      if (filled == window) hsum -= ring(ringAt) else filled += 1
      ring(ringAt) = g
      ringAt = (ringAt + 1) % window
      hsum += g
      val cut =
        (i - prev >= minLen && filled == window && hsum % modulus == 0) ||
          (i - prev == maxLen)
      if (cut) {
        out += InternalRow(prev, i)
        prev = i
      }
    }
    if (prev < i) out += InternalRow(prev, i)
    new GenericArrayData(out.toArray)
  }
}

/** Custom Catalyst expression: content-defined chunk bounds of a text
  * column in one streaming pass.
  *
  * Why custom (SURVEY.md §7.3): the rolling gear hash has a sequential
  * per-codepoint dependency (ring buffer + running sum + the min/max
  * chunk-length walk), which the relational form can only express as a
  * codepoint-level explode + window sum + per-document iterative boundary
  * walk — a corpus-sized shuffle of one row PER CHARACTER. This expression
  * is map-only and O(n) per document with O(window) state; the relational
  * form survives as the DuckDB oracle at test scale.
  */
case class CdcChunkBounds(child: Expression, window: Int, modulus: Int,
    minLen: Int, maxLen: Int) extends UnaryExpression with GraftInputTypes {

  require(window >= 2, s"window must be >= 2, got $window")
  require(modulus >= 2, s"modulus must be >= 2, got $modulus")
  require(minLen >= window,
    s"minLen must be >= window so the ring is full at every content cut, " +
      s"got minLen=$minLen window=$window")
  require(maxLen > minLen, s"need maxLen > minLen, got $minLen..$maxLen")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))),
    containsNull = false)

  protected def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    CdcUtil.bounds(input.asInstanceOf[UTF8String], window, modulus, minLen, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.expressions.CdcUtil.bounds(" +
        s"$input, $window, $modulus, $minLen, $maxLen);")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkBounds =
    copy(child = newChild)
}

object CdcFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Content-defined chunk (start, end) codepoint bounds (one-pass gear
    * hash; see [[CdcUtil.bounds]]). */
  def cdc_chunk_bounds(text: Column, window: Int, modulus: Int,
      minLen: Int, maxLen: Int): Column =
    column(CdcChunkBounds(expression(text), window, modulus, minLen, maxLen))
}
