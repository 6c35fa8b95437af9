package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.channel.Channel
import graft.dsl.Order
import graft.dsl.Dsl._
import graft.operators.Joins
import graft.profile.Profile
import graft.sources.mem.{MemStore, MemWireServer}

/** Building a query is pure planning: on a warm session, constructing a
  * channel (parquet or connector) or the J1 join shape submits no Spark
  * job before an action runs. A hidden eager action inside a constructor —
  * such as a per-load parquet schema-inference job — fails here
  * deterministically instead of showing up only as timing. */
class ChannelSpec extends AnyFunSuite {
  import SparkTestSession.{jobsDuring, spark, sfDir, table}

  private lazy val server = MemWireServer.start()

  private lazy val warm: Unit = {
    MemStore.register("channel_jobs_orders", table("orders"))
    MemStore.register("channel_jobs_lineitem", table("lineitem"))
  }

  private def orders = Channel.create(spark, sfDir) { b =>
    b.collection("orders")
    b.q("""{ "o_orderstatus": "O" }""")
  }

  test("building a parquet channel submits no job on a warm session") {
    warm
    val (df, jobs) = jobsDuring(orders)
    assert(jobs === 0)
    assert(df.count() > 0)
  }

  test("building a connector channel submits no job") {
    warm
    val (df, jobs) = jobsDuring(Channel.create(spark, sfDir) { b =>
      b.memCollection("channel_jobs_orders")
      b.q("""{ "o_orderstatus": "O" }""")
      b.sort("o_orderkey" -> Order.Ascending)
      b.limit(5)
    })
    assert(jobs === 0)
    assert(df.count() === 5)
  }

  /** J1: a parquet orders channel joined to lineitem read over the wire,
    * with a pushed l_quantity band, aggregated per o_orderstatus. */
  private def j1(outer: org.apache.spark.sql.DataFrame) = {
    val inner = spark.read.format("graft.sources.mem.GraftMemSource")
      .option("collection", "channel_jobs_lineitem")
      .option("client", "wire").option("port", server.port.toString)
      .load()
    Joins.inner(outer, "o_orderkey", inner, "l_orderkey",
        innerPred = Some("l_quantity" $gte 10.0 $lt 30.0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
  }

  test("building J1 (parquet channel joined to a wire read, aggregated) submits no job") {
    warm
    val (df, jobs) = jobsDuring(j1(orders))
    assert(jobs === 0)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("O"))
  }

  test("J1 over a new o_orderdate window reuses the compiled classes") {
    warm
    def window(from: String, until: String) = {
      val (t0, t1) = (java.sql.Timestamp.valueOf(s"$from 00:00:00"),
        java.sql.Timestamp.valueOf(s"$until 00:00:00"))
      val df = j1(Channel.create(spark, sfDir) { b =>
        b.collection("orders")
        b.where("o_orderdate" $gte t0 $lt t1)
      })
      // the same join and aggregate over plain DataFrames; run only after
      // the measured window, since its scan compiles the same orders filter
      def expected = {
        val o = table("orders").where(col("o_orderdate") >= t0 && col("o_orderdate") < t1)
        val l = table("lineitem").where(col("l_quantity") >= 10.0 && col("l_quantity") < 30.0)
        rows(o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s")))
      }
      (df, () => expected)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def same(got: Map[String, (Long, Double)], expected: Map[String, (Long, Double)]): Unit = {
      assert(expected.nonEmpty && got.keySet === expected.keySet)
      got.foreach { case (k, (n, s)) =>
        assert(n === expected(k)._1)
        assert(math.abs(s - expected(k)._2) <= 1e-9 * math.abs(s))
      }
    }
    val (first, firstExpected) = window("1995-01-01", "1995-04-01")
    val (second, secondExpected) = window("1996-06-01", "1996-09-01")
    same(rows(first), firstExpected())
    val (got, rec) = Profile.during(spark)(rows(second))
    same(got, secondExpected())
    assert(rec.compiles === 0L,
      s"a new o_orderdate window must bind at run time, not recompile: ${rec.render}")
  }
}
