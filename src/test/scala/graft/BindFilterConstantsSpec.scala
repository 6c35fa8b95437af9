package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.channel.Channel
import graft.dsl.Dsl._
import graft.expressions.ParamLiteral

/** Filter constants bound at run time (`BindFilterConstants`): the rewrite
  * renders exactly as the plain literal, and a filter over bound constants
  * keeps every row the same predicate over inlined literals keeps, in
  * generated and in interpreted evaluation, at the edges of each type. */
class BindFilterConstantsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  /** A child session with `confs` set, so nothing leaks into other suites. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    plan.collect { case f: FilterExec => f.condition.collect { case p: ParamLiteral => p } }.flatten

  test("executedPlan of a filtered parquet channel renders as it does without the rule") {
    val s = session("spark.sql.adaptive.enabled" -> "false")
    val df = Channel.create(s, sfDir) { b =>
      b.collection("orders")
      b.where(("o_orderkey" $gte 10L $lt 5000L) && ("o_totalprice" $gt 1000.5) &&
        ("o_orderdate" $gte Timestamp.valueOf("1994-01-01 00:00:00")))
    }
    val qe = df.queryExecution
    val plan = qe.executedPlan
    assert(params(plan).size >= 3, s"the rule must bind the filter constants:\n$plan")
    // the same plan with every bound constant put back as a Literal is the
    // plan without the rule, which binds nothing else
    val unbound = plan.transformAllExpressions {
      case p: ParamLiteral => Literal(p.value, p.dataType)
    }
    assert(params(unbound).isEmpty)
    assert(plan.toString === unbound.toString)
    def conditions(p: SparkPlan) = p.collect { case f: FilterExec => f.condition.toString }
    assert(conditions(plan) === conditions(qe.sparkPlan))
    assert(df.count() === df.collect().length)
  }

  // one column per type whose constants Spark inlines; each row holds an
  // edge value of every type, then plain values, then a NULL row
  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("z", BooleanType), StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("tn", TimestampNTZType)))

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ntz(s: String) = LocalDateTime.parse(s)

  private lazy val edgeDir: String = {
    val rows = Seq(
      Row(0, true, Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, Float.NaN,
        Double.NaN, Date.valueOf("1970-01-01"), ts("1970-01-01 00:00:00"), ntz("1970-01-01T00:00:00")),
      Row(1, false, Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue,
        Float.PositiveInfinity, Double.PositiveInfinity, Date.valueOf("9999-12-31"),
        ts("2100-01-01 00:00:00"), ntz("2100-01-01T00:00:00")),
      Row(2, true, 0.toByte, 0.toShort, 0, 0L, Float.NegativeInfinity, Double.NegativeInfinity,
        Date.valueOf("1995-06-15"), ts("1995-06-15 12:30:00"), ntz("1995-06-15T12:30:00")),
      Row(3, false, -1.toByte, -1.toShort, -1, -1L, -0.0f, -0.0, Date.valueOf("1969-12-31"),
        ts("1969-12-31 23:59:59.999999"), ntz("1969-12-31T23:59:59.999999")),
      Row(4, true, 1.toByte, 1.toShort, 1, 1L, 1.5f, 1.5, Date.valueOf("2000-02-29"),
        ts("2000-02-29 00:00:00.000001"), ntz("2000-02-29T00:00:00.000001")),
      Row(5, null, null, null, null, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("bind_filter_constants").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(2).write.mode("overwrite").parquet(dir)
    dir
  }

  private val predicates: Seq[Column] = Seq(
    col("z") > false, col("z") <= true,
    col("b") === Byte.MinValue, col("b") > 0.toByte, col("s") <= Short.MinValue,
    col("s").isin(Short.MaxValue, 0.toShort), col("i") >= Int.MinValue, col("i") < 0,
    col("l") === Long.MinValue, col("l") > Long.MinValue, col("l") <= Long.MinValue,
    col("l") >= Long.MaxValue, col("l").isin(Long.MinValue, Long.MaxValue, 0L),
    col("f") === Float.NaN, col("f") > Float.PositiveInfinity, col("f") < Float.NaN,
    col("f") === 0.0f,
    col("d") === Double.NaN, col("d") >= Double.NaN, col("d") < Double.PositiveInfinity,
    col("d") === Double.PositiveInfinity, col("d") > Double.NegativeInfinity,
    col("d") <= Double.NegativeInfinity, col("d") <=> Double.NaN, col("d") === 0.0,
    col("d").isin(Double.NaN, 1.5, Double.PositiveInfinity),
    col("dt") >= Date.valueOf("1970-01-01"), col("dt") < Date.valueOf("1970-01-01"),
    col("dt").isin(Date.valueOf("2000-02-29"), Date.valueOf("9999-12-31")),
    col("ts") > ts("1969-12-31 23:59:59.999999"), col("ts") === ts("1995-06-15 12:30:00"),
    col("tn") <= ntz("1970-01-01T00:00:00"), col("tn").isin(ntz("2100-01-01T00:00:00")))

  /** For each predicate: the ids a filter over bound constants keeps, and
    * the ids where the same predicate, projected with its literals inlined
    * (projections are never rewritten), is TRUE. */
  private def keptBoth(s: SparkSession): Seq[(String, Seq[Int], Seq[Int])] = {
    val t = s.read.parquet(edgeDir)
    val projected = t.select(col("id") +: predicates.zipWithIndex.map { case (p, i) =>
      p.as(s"p$i") }: _*).collect()
    val filters = predicates.map(t.where(_).select("id"))
    val unbound = predicates.zip(filters)
      .filter { case (_, f) => params(f.queryExecution.executedPlan).isEmpty }.map(_._1)
    assert(unbound.isEmpty, s"every predicate must bind its constant: $unbound")
    predicates.zip(filters).zipWithIndex.map { case ((p, filtered), i) =>
      val viaFilter = filtered.collect().map(_.getInt(0)).sorted.toSeq
      val viaProject = projected.filter(r => !r.isNullAt(i + 1) && r.getBoolean(i + 1))
        .map(_.getInt(0)).sorted.toSeq
      (p.toString, viaFilter, viaProject)
    }
  }

  // parquet pushdown off: rows reach the FilterExec unpruned, so the two
  // sides differ only in bound vs inlined constants
  private val plain = Seq("spark.sql.adaptive.enabled" -> "false",
    "spark.sql.parquet.filterPushdown" -> "false")

  test("bound constants keep the rows inlined literals keep: NaN, infinities, MinValue") {
    keptBoth(session(plain: _*)).foreach { case (p, viaFilter, viaProject) =>
      assert(viaFilter === viaProject, p)
    }
  }

  test("interpreted evaluation returns the same rows as generated code") {
    val generated = keptBoth(session(plain: _*))
    val interpreted = keptBoth(session(plain ++ Seq(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"): _*))
    interpreted.zip(generated).foreach { case ((p, viaFilter, viaProject), (_, gen, _)) =>
      assert(viaFilter === viaProject, p)
      assert(viaFilter === gen, p)
    }
  }
}
