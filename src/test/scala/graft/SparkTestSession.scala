package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all suites (cheap startup, no UI). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkEntry.sessionBuilder(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def table(name: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, name)

  /** Run `body` and count the Spark jobs it submits from this thread
    * (tagged with a private job group, so jobs of other threads or suites
    * never count). */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val a = body
      org.apache.spark.GraftListenerBridge.waitForListeners(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `body` and return the [[graft.sources.mem.MemScan]]s of
    * `collection` that the queries it executed ran: every scan under a
    * `BatchScanExec` of their executed plans, adaptive query stages and
    * subqueries (dynamic pruning included) too, each once. A scan holds
    * what its query pushed (`spec`, `cursorSpec`, cursor options), so
    * tests read the pushdown off the plan Spark ran. Fails when no scan
    * of `collection` ran, so an assertion that something was NOT pushed
    * cannot pass on a query that never reached the store. */
  def scansDuring[A](collection: String)(body: => A): (A, Seq[graft.sources.mem.MemScan]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.sources.mem.MemScan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    // deliver the events of earlier queries first, so none of them reaches
    // this listener
    org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    val a = try {
      val a = body
      org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
      a
    } finally spark.listenerManager.unregister(listener)
    val scans = plans.asScala.toSeq.flatMap { qe =>
      // a query that failed in planning has no executed plan
      scala.util.Try(qe.executedPlan).toOption.toSeq.flatMap(helper.collectWithSubqueries(_) {
        case b: BatchScanExec if b.scan.isInstanceOf[MemScan] => b.scan.asInstanceOf[MemScan]
      })
    }.filter(_.collection == collection)
    val distinct = scans.foldLeft(Vector.empty[MemScan]) { (seen, s) =>
      if (seen.exists(_ eq s)) seen else seen :+ s
    }
    assert(distinct.nonEmpty, s"no scan of '$collection' ran")
    (a, distinct)
  }
}
