package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral, Literal}

import graft.expressions.{
  BindFilterConstants, DotProduct, MinHashSignature, NfcNormalize, TextSignals, WordShingles,
  XxHash64ModArray}

/** The library's SQL function surface, registrable two ways:
  *
  *  - production: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (or `SparkEntry.sessionBuilder`, which every graft session uses)
  *    injects the functions at session build (the
  *    `SparkSessionExtensions` hook from SURVEY.md §7.3's extension
  *    ladder). Every graft operator is expressible through built-in
  *    logical plans + these expressions, so no logical `Rule` or
  *    `SparkStrategy` is registered; the one physical rule is
  *    [[graft.expressions.BindFilterConstants]], which binds filter
  *    constants at run time so queries differing only in their literals
  *    reuse one compiled class;
  *  - ad hoc: `GraftFunctions.registerAll(spark)` adds the same builders
  *    to an existing session's FunctionRegistry (functions only; the
  *    physical rule needs the extension hook).
  *
  * All functions are the custom codegen'd Catalyst expressions — no UDFs.
  */
object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int, exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(s"$name takes exactly $n arguments, got ${exprs.length}")

  private def intLit(name: String, arg: String, e: Expression): Int = e match {
    case IntegerLiteral(v) => v
    case other => throw new IllegalArgumentException(
      s"$name: $arg must be an integer literal, got ${other.sql}")
  }

  private def longLit(name: String, arg: String, e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case IntegerLiteral(v) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name: $arg must be an integer literal, got ${other.sql}")
  }

  /** (name, docs, builder) for every SQL-exposed graft function. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - double-precision dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => {
        arity("dot_product", 2, exprs); DotProduct(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - distinct word n-gram shingles"),
      (exprs: Seq[Expression]) => {
        arity("word_shingles", 2, exprs)
        WordShingles(exprs(0), intLit("word_shingles", "n", exprs(1)))
      }),
    (FunctionIdentifier("xxhash64_mod"),
      info("xxhash64_mod", "xxhash64_mod(arr, p) - per-element pmod(xxhash64(s), p) over array<string>"),
      (exprs: Seq[Expression]) => {
        arity("xxhash64_mod", 2, exprs)
        XxHash64ModArray(exprs(0), longLit("xxhash64_mod", "p", exprs(1)))
      }),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(hashes, k, seed) - k universal-hash minima over array<bigint>"),
      (exprs: Seq[Expression]) => {
        arity("minhash_signature", 3, exprs)
        MinHashSignature(exprs(0),
          intLit("minhash_signature", "k", exprs(1)),
          longLit("minhash_signature", "seed", exprs(2)))
      }),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical composition (ASCII fast path)"),
      (exprs: Seq[Expression]) => {
        arity("nfc_normalize", 1, exprs); NfcNormalize(exprs(0))
      }),
    (FunctionIdentifier("text_signals"),
      info("text_signals", "text_signals(text) - struct(n_chars, n_words, n_alpha, hits_en, hits_de, hits_fr, hits_es) in one traversal"),
      (exprs: Seq[Expression]) => {
        arity("text_signals", 1, exprs); TextSignals(exprs(0))
      }))

  /** Register every graft function on an existing session. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
    }
}

/** `spark.sql.extensions` entry point: the functions plus the
  * filter-constant binding rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (ident, inf, builder) =>
      ext.injectFunction((ident, inf, builder))
    }
    ext.injectColumnar(_ => BindFilterConstants.columnarRule)
  }
}
