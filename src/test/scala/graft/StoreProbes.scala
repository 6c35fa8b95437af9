package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.Assertions._

import graft.sources.mem.MemAgg
import graft.SparkTestSession.scansDuring

/** Five queries whose pushed form a store must evaluate exactly as Spark
  * does, where Spark's value rules are subtle: -0.0 equals 0.0, NaN
  * equals NaN (and sorts above every number), and strings order by their
  * UTF-8 bytes, so U+1F600 sorts above U+FFFD. Each probe runs one query
  * through a store scan and on the plain 8-row frame, and asserts the
  * same rows and that the store evaluated the pushed part. The scans
  * plan 4 cursors of 2 rows, laid out so a cursor comparing strings by
  * UTF-16 units would keep the wrong row of its pair. */
object StoreProbes {
  def doubles(spark: SparkSession): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Seq(-0.0, 1.0, Double.NaN, 0.0, -1.0, -0.0, Double.NaN, 2.0)
      .zipWithIndex.map { case (d, i) => Row(i.toLong, d) }: _*),
    StructType(Seq(StructField("rid", LongType), StructField("d", DoubleType))))

  def strings(spark: SparkSession): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Seq("\uFFFD", "\uD83D\uDE00x", "\uE000", "\uD83D\uDE00", "a",
      "\uD7FF", "z", "\u00E9").zipWithIndex.map { case (s, i) => Row(i.toLong, s) }: _*),
    StructType(Seq(StructField("rid", LongType), StructField("s", StringType))))

  private def rids(df: DataFrame): Seq[Long] =
    df.select("rid").collect().map(_.getLong(0)).toSeq.sorted

  /** `where(cond)` over the scan `store` of collection `coll` keeps the
    * frame's rows, and the store evaluated the condition. */
  private def filtered(store: DataFrame, coll: String, frame: DataFrame, cond: Column): Unit = {
    val (got, scans) = scansDuring(coll)(rids(store.where(cond)))
    assert(got === rids(frame.where(cond)), s"$coll where $cond")
    val pushed = scans.flatMap(_.cursorSpec.filters).mkString(" ")
    assert(pushed.contains(s"(${frame.columns(1)},"), s"$cond not pushed: $pushed")
  }

  def negativeZero(store: DataFrame, coll: String, frame: DataFrame): Unit =
    filtered(store, coll, frame, col("d") >= 0.0)

  def nan(store: DataFrame, coll: String, frame: DataFrame): Unit = {
    filtered(store, coll, frame, col("d") === Double.NaN)
    filtered(store, coll, frame, col("d").isin(0.0, Double.NaN))
  }

  def utf8Order(store: DataFrame, coll: String, frame: DataFrame): Unit = {
    filtered(store, coll, frame, col("s") > "\uFFFD")
    filtered(store, coll, frame, col("s") < "\uE000")
  }

  def topDesc(store: DataFrame, coll: String, frame: DataFrame): Unit = {
    def top(df: DataFrame) = df.orderBy(col("s").desc).limit(1).collect().map(_.getString(1)).toSeq
    val (got, scans) = scansDuring(coll)(top(store))
    assert(got === top(frame))
    val pushed = scans.map(s => (s.spec.topN, s.spec.limit))
    assert(pushed.forall(_ == ((Seq(("s", true)), Some(1)))), s"top-1 not pushed: $pushed")
  }

  def maxString(store: DataFrame, coll: String, frame: DataFrame): Unit = {
    def mx(df: DataFrame) = df.agg(max(col("s"))).head().getString(0)
    val (got, scans) = scansDuring(coll)(mx(store))
    assert(got === mx(frame))
    val pushed = scans.map(_.spec.agg.map(_._2.map(MemAgg.render)))
    assert(pushed.forall(_.contains(Seq("max(s)"))), s"max not pushed: $pushed")
  }
}
