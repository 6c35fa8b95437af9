package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.Assertions._

import graft.sources.mem.MemStore

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

  private def pushed(coll: String): String =
    MemStore.lastPushed.getOrElse(coll, Nil).mkString(" ")

  /** `where(cond)` over the scan `store` of collection `coll` keeps the
    * frame's rows, and the store evaluated the condition. */
  private def filtered(store: DataFrame, coll: String, frame: DataFrame, cond: Column): Unit = {
    MemStore.lastPushed.remove(coll)
    val got = rids(store.where(cond))
    assert(got === rids(frame.where(cond)), s"$coll where $cond")
    assert(pushed(coll).contains(s"(${frame.columns(1)},"), s"$cond not pushed: ${pushed(coll)}")
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
    MemStore.lastTopN.remove(coll)
    def top(df: DataFrame) = df.orderBy(col("s").desc).limit(1).collect().map(_.getString(1)).toSeq
    assert(top(store) === top(frame))
    assert(MemStore.lastTopN.get(coll).contains((Seq(("s", true)), 1)),
      s"top-1 not pushed: ${MemStore.lastTopN.get(coll)}")
  }

  def maxString(store: DataFrame, coll: String, frame: DataFrame): Unit = {
    MemStore.lastAgg.remove(coll)
    def mx(df: DataFrame) = df.agg(max(col("s"))).head().getString(0)
    assert(mx(store) === mx(frame))
    assert(MemStore.lastAgg.get(coll).exists(_._2 === Seq("max(s)")),
      s"max not pushed: ${MemStore.lastAgg.get(coll)}")
  }
}
