package graft.profile

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The counters of one [[Profile.during]] window.
  *
  * Executor times and shuffle/spill volumes are summed over completed
  * stages (the stage-level task-metric totals Spark reports), `compiles`
  * is the number of whole-stage/expression classes compiled (codegen
  * cache misses), and the stream fields cover every micro-batch that ran
  * `addBatch`: peak state memory and rows over batches, summed state
  * commit and `addBatch` time. `peakStateRows` is -1 when no batch had
  * a state operator. */
final case class Record(
    jobs: Long,
    stages: Long,
    tasks: Long,
    runMs: Long,
    cpuMs: Long,
    gcMs: Long,
    shuffleRecords: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    compiles: Long,
    batches: Long,
    peakStateBytes: Long,
    peakStateRows: Long,
    commitMs: Long,
    addBatchMs: Long) {

  /** One `key=value` line; an untracked state-row peak prints `n/a`, not 0. */
  def render: String = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ms" -> cpuMs, "gc_ms" -> gcMs,
    "shuffle_records" -> shuffleRecords, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "compiles" -> compiles, "batches" -> batches,
    "peak_state_mem" -> String.format(java.util.Locale.ROOT, "%.1fMB",
      Double.box(peakStateBytes / 1048576.0)),
    "peak_state_rows" -> (if (peakStateRows < 0) "n/a" else peakStateRows),
    "commit_ms" -> commitMs, "add_batch_ms" -> addBatchMs)
    .map { case (k, v) => s"$k=$v" }.mkString(" ")
}

object Profile {

  /** Runs `body` and returns its result with the [[Record]] of the window.
    *
    * The window counts every job, stage and micro-batch the process runs
    * while `body` does, not only this thread's: a stream's micro-batches
    * run on the query's own thread under its own job group. Windows must
    * therefore not overlap. The listener bus is drained on both edges, so
    * no event from before the window leaks in and none from inside it is
    * missed. Micro-batches are seen for `spark` itself and for every
    * session built with [[StreamRecorder]] in
    * `spark.sql.streaming.streamingQueryListeners` (gates run their
    * streams in `newSession()` children, which inherit that conf). */
  def during[A](spark: SparkSession)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    GraftListenerBridge.waitForListeners(sc)
    val stages = new StageCounter
    val streams = new StreamRecorder
    StreamRecorder.batches.clear()
    sc.addSparkListener(stages)
    spark.streams.addListener(streams)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val a = body
      GraftListenerBridge.waitForListeners(sc)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val bs = StreamRecorder.batches.values.asScala.toSeq
      (a, Record(stages.jobs, stages.stages, stages.tasks, stages.runMs,
        stages.cpuNs / 1000000L, stages.gcMs, stages.shuffleRecords,
        stages.shuffleBytes, stages.spillBytes, compiles, bs.size,
        (0L +: bs.map(_.stateBytes)).max, (-1L +: bs.map(_.stateRows)).max,
        bs.map(_.commitMs).sum, bs.map(_.addBatchMs).sum))
    } finally {
      sc.removeSparkListener(stages)
      spark.streams.removeListener(streams)
    }
  }

  /** Written only by the listener-bus thread; read after a drain. */
  private final class StageCounter extends SparkListener {
    @volatile var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    @volatile var shuffleRecords, shuffleBytes, spillBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages += 1
      tasks += si.numTasks
      val m = si.taskMetrics
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
}

/** Records each micro-batch's state and phase numbers for [[Profile.during]].
  * Spark instantiates one per session from
  * `spark.sql.streaming.streamingQueryListeners`, so the batches live in
  * one process-wide map keyed by (run id, batch id): a batch reported
  * through two registrations counts once. */
class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Option(p.durationMs.get("addBatch")).foreach { addBatch =>
      val ops = p.stateOperators
      val rows = if (ops.isEmpty) -1L else ops.map(_.numRowsTotal).sum
      val b = StreamRecorder.Batch(ops.map(_.memoryUsedBytes).sum, rows,
        ops.map(_.commitTimeMs).sum, addBatch.longValue)
      StreamRecorder.batches.merge((p.runId, p.batchId), b, _ max _)
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamRecorder {
  final case class Batch(stateBytes: Long, stateRows: Long, commitMs: Long,
      addBatchMs: Long) {
    def max(o: Batch): Batch = Batch(stateBytes max o.stateBytes,
      stateRows max o.stateRows, commitMs max o.commitMs, addBatchMs max o.addBatchMs)
  }
  private[profile] val batches = new ConcurrentHashMap[(java.util.UUID, Long), Batch]
}
