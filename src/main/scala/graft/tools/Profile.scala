package graft.tools

/** Per-gate profile: for each named `SparkEntry.queries` gate and each run,
  * one line with build time (`fn(spark, dir)`, which includes any eager
  * action a constructor hides and, for stream gates, the stream itself),
  * execute time (`.count()`), and the [[graft.profile.Record]] of the
  * whole run: jobs, stages, tasks, executor run/CPU/GC time, shuffle and
  * spill volume, codegen compiles, and for streams the micro-batch count,
  * peak state memory/rows and summed state-commit and `addBatch` time.
  * A development tool: Bench and Verify do not use it.
  *
  * usage: runMain graft.tools.Profile <sfDir> <g1,g2,...> [runs=N] [warm=<dir>]
  *
  * `warm=<dir>` runs each gate once at another scale first (printed as
  * `warm`), reproducing the codegen/JIT state Bench's warm-up leaves
  * before its measured runs.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Profile <sfDir> <g1,g2,...> [runs=N] [warm=<dir>]")
    val sfDir = args(0)
    val queries = graft.SparkEntry.queries
    val gates = Measure.gateNames(args(1), queries.contains)
    def opt(key: String) = args.drop(2).collectFirst {
      case a if a.startsWith(s"$key=") => a.stripPrefix(s"$key=") }
    val runs = opt("runs").map(_.toInt).getOrElse(1)

    val spark = graft.SparkEntry.localSession(4)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[graft.profile.StreamRecorder].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val passes = opt("warm").map("warm" -> _).toSeq ++
      (1 to runs).map(i => s"run $i" -> sfDir)
    for (g <- gates; (label, dir) <- passes) {
      val ((rows, buildNs, execNs), rec) = graft.profile.Profile.during(spark) {
        val t0 = System.nanoTime()
        val df = queries(g)(spark, dir)
        val t1 = System.nanoTime()
        val n = df.count()
        (n, t1 - t0, System.nanoTime() - t1)
      }
      println(s"[profile] $g $label: rows=$rows build_ms=${buildNs / 1000000} " +
        s"exec_ms=${execNs / 1000000} ${rec.render}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
