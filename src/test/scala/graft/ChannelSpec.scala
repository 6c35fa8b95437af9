package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.channel.Channel
import graft.dsl.Order
import graft.dsl.Dsl._
import graft.operators.Joins
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

  test("building J1 (parquet channel joined to a wire read, aggregated) submits no job") {
    warm
    val (df, jobs) = jobsDuring {
      val inner = spark.read.format("graft.sources.mem.GraftMemSource")
        .option("collection", "channel_jobs_lineitem")
        .option("client", "wire").option("port", server.port.toString)
        .load()
      Joins.inner(orders, "o_orderkey", inner, "l_orderkey",
          innerPred = Some("l_quantity" $gte 10.0 $lt 30.0))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
    }
    assert(jobs === 0)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("O"))
  }
}
