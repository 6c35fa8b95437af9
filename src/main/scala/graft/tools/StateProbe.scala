package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records per-query PEAK state-store memory from streaming progress
  * events — the "bounded heap" evidence for the RocksDB state-store
  * adoption (r19 verdict #1). Registered through the
  * `spark.sql.streaming.streamingQueryListeners` conf on the ROOT
  * SparkContext conf so every gate's child session (`newSession()`
  * inherits the context conf) reports into it. Not part of the driver
  * contract. */
class StateMemListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.stateOperators.nonEmpty) {
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum
      // numRowsTotal is -1 when the store does not track rows (RocksDB
      // with trackTotalNumberOfRows=false): no count, not a zero count
      val rows = p.stateOperators.map(_.numRowsTotal)
      StateMemListener.record(mem, if (rows.exists(_ < 0)) -1L else rows.sum)
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StateMemListener {
  @volatile var peakMem: Long = 0L
  /** -1 until a micro-batch reports a tracked row count. */
  @volatile var peakRows: Long = -1L
  def record(mem: Long, rows: Long): Unit = synchronized {
    if (mem > peakMem) peakMem = mem
    if (rows > peakRows) peakRows = rows
  }
  def reset(): Unit = synchronized { peakMem = 0L; peakRows = -1L }
}

/** usage: runMain graft.tools.StateProbe <sfDir> <q1,q2,...>
  *
  * Runs each named gate once and prints its wall time plus the peak
  * state-store memory/rows any of its micro-batches reported (rows print
  * as n/a when the store does not track them). Flip the provider with
  * SPARK_GRAFT_STREAM_STATE=rocksdb for the A/B. */
object StateProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StateProbe <sfDir> <q1,q2,...>")
    val sfDir = args(0)
    val gates = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.sessionBuilder(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.tools.StateMemListener")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val provider = if (graft.gates.GateSupport.rocksdbState) "rocksdb" else "hdfs"
    gates.foreach { g =>
      val fn = graft.SparkEntry.queries.getOrElse(g,
        sys.error(s"unknown query '$g'"))
      StateMemListener.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[stateprobe] $g provider=$provider wall=${dt}%.2fs " +
        f"peak_state_mem=${StateMemListener.peakMem / 1048576.0}%.1fMB " +
        "peak_state_rows=" +
        (if (StateMemListener.peakRows < 0) "n/a" else StateMemListener.peakRows))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
