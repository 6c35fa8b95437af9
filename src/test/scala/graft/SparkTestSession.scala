package graft

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
}
