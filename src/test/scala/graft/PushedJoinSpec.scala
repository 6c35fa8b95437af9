package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.mem.{MemStore, MemWireServer}

/** One store-side join over every store client: the embedded store
  * (`client=mem`), read-only parquet files (`client=parquet`) and the
  * loopback row server (`client=wire`). The scan evaluates the join tree
  * once and serves its result itself, so the same join, under a filter
  * over both sides and with a top-n pushed on top, must give the rows
  * Spark's own join gives and leave no Join node in the plan. */
class PushedJoinSpec extends AnyFunSuite {
  import SparkTestSession.{scansDuring, spark}

  private val pushdownConf = "spark.sql.optimizer.datasourceV2JoinPushdown"

  private lazy val server = MemWireServer.start()

  /** The two collections, registered in the store and written as parquet
    * files for the parquet client. */
  private lazy val parquetDir: String = {
    import spark.implicits._
    val langs = Seq(
      (0, "Java", 30), (1, "C++", 20), (2, "ObjectiveC", 10),
      (3, "Scala", 90), (4, "Groovy", 50))
      .toDF("index", "lname", "popularity_factor")
    val devs = (1 to 100).map(i => (s"dev_$i", i % 5)).toDF("dname", "lang")
    MemStore.register("pj_langs", langs)
    MemStore.register("pj_devs", devs)
    val dir = java.nio.file.Files.createTempDirectory("pushed_join").toString
    langs.write.parquet(s"$dir/pj_langs.parquet")
    devs.write.parquet(s"$dir/pj_devs.parquet")
    dir
  }

  private def load(client: String)(c: String): DataFrame = {
    val dir = parquetDir // registers the collections on first use
    val r = spark.read.format("graft.sources.mem.GraftMemSource")
      .option("collection", c).option("client", client)
    (client match {
      case "parquet" => r.option("path", dir)
      case "wire" => r.option("port", server.port.toString)
      case _ => r
    }).load()
  }

  /** devs ⋈ langs under a filter over both sides. Spark pushes filters
    * before joins, so the filter itself stays above the joined scan, while
    * the part Catalyst infers for the langs side (`index = 1 OR
    * popularity_factor > 40`) goes into the langs leaf of the store plan. */
  private def joined(client: String): DataFrame = {
    val ld = load(client) _
    ld("pj_devs").join(ld("pj_langs"), col("lang") === col("index"))
      .where(col("lang") === 1 || col("popularity_factor") > 40)
      .select(col("dname"), col("lname"))
  }

  private def withPushdown[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(pushdownConf)
    spark.conf.set(pushdownConf, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(pushdownConf, v)
      case None => spark.conf.unset(pushdownConf)
    }
  }

  for (client <- Seq("mem", "parquet", "wire")) {
    test(s"pushed join over client=$client: the unpushed join's rows, no Join node") {
      def top(df: DataFrame) = df.orderBy(col("dname").desc).limit(7)
      val want = withPushdown(on = false)(top(joined(client)).collect().toSeq)
      val ((got, plan), scans) = scansDuring("pj_devs") {
        withPushdown(on = true) {
          val df = top(joined(client))
          (df.collect().toSeq, df.queryExecution.executedPlan.toString)
        }
      }
      assert(got === want && got.length === 7)
      assert(!plan.contains("Join"),
        s"pushed join must leave no Spark join node:\n${plan.take(1200)}")
      // the langs leaf took its filters, and the top-n reached the joined scan
      assert("⋈ pj_langs\\[\\d filters\\]".r.findFirstIn(plan).isDefined, plan.take(1200))
      assert(scans.forall(s => s.spec.topN.nonEmpty && s.spec.limit.contains(7)),
        scans.map(_.spec))
    }

    test(s"pushed join over client=$client: served rows count under the left collection") {
      val rows = withPushdown(on = true)(joined(client).collect())
      assert(rows.length === 60) // lang 1 (C++), 3 (Scala), 4 (Groovy): 20 devs each
      assert(MemStore.served.get("pj_devs").map(_.get()) === Some(rows.length.toLong))
    }
  }
}
