package userbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.userbench.BusDrain

/** Process-wide gauges read around each op, traced or not. */
object Gauges {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gc: (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { case ((c, t), b) => (c + math.max(0L, b.getCollectionCount), t + math.max(0L, b.getCollectionTime)) }
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Live heap after full collections, in MB. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a collection finds
    * them unreachable, so this collects until the heap stops shrinking. */
  def liveHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    var last = Double.MaxValue
    var now = { System.gc(); used }
    var rounds = 1
    while (last - now > 1.0 && rounds < 6) {
      Thread.sleep(200)
      last = now
      now = { System.gc(); used }
      rounds += 1
    }
    now
  }
}

/** Per-op layer counters for a traced run, fed by Spark's listener APIs.
  * Each op's jobs carry its index and the innermost module span open when
  * they were submitted (as job-local properties), so counters land on the
  * op and layer that caused them. */
final class Probe(spark: SparkSession, tracer: Tracer) {
  import Probe._
  private val sc = spark.sparkContext
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  @volatile private var probing = false
  private val codegenMs = new java.util.concurrent.atomic.DoubleAdder

  def add(op: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def put(op: Int, key: String, v: Double): Unit = synchronized {
    counters.getOrElseUpdate(op, mutable.Map.empty)(key) = v
  }

  def of(op: Int): Map[String, Double] = synchronized {
    counters.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  def codegenMillis: Double = codegenMs.sum()

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = BusDrain(sc)

  /** Runs a traced-only measurement call after an op; its jobs are kept
    * apart from the op's own. */
  def aside[A](layer: String)(f: => A): A = {
    drain()
    probing = true
    sc.setLocalProperty(PropOp, tracer.op.toString)
    sc.setLocalProperty(PropPhase, "probe")
    sc.setLocalProperty(PropLayer, layer)
    try f
    finally {
      drain()
      Seq(PropOp, PropPhase, PropLayer).foreach(sc.setLocalProperty(_, null))
      probing = false
    }
  }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private object Jobs extends SparkListener {
    private val stageOp = mutable.Map.empty[Int, Int]
    private val jobStart = mutable.Map.empty[Int, (Int, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      prop(e.properties, PropOp).map(_.toInt).foreach { op =>
        val layer = prop(e.properties, PropLayer).getOrElse("")
        if (prop(e.properties, PropPhase).contains("probe")) add(op, s"probe.jobs@$layer", 1)
        else {
          add(op, "spark.jobs", 1)
          add(op, s"jobs@$layer", 1)
          e.stageIds.foreach(s => stageOp(s) = op)
          jobStart(e.jobId) = (op, e.time)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        tracer.record("spark.job", t0.toDouble, e.time.toDouble, op)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageOp.get(si.stageId).foreach { op =>
        add(op, "spark.stages", 1)
        for (s <- si.submissionTime; c <- si.completionTime)
          tracer.record("spark.stage", s.toDouble, c.toDouble, op)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val info = e.taskInfo
        add(op, "spark.tasks", 1)
        tracer.record("spark.task", info.launchTime.toDouble, info.finishTime.toDouble, op)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "exec.run_ms", m.executorRunTime.toDouble)
          add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
          add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
          add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add(op, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(op, "spark.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime).toDouble)
        }
      }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (!probing) {
        val op = tracer.op
        val ph = qe.tracker.phases
        def ms(phase: String) = ph.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
        add(op, "catalyst.analysis_ms", ms("analysis"))
        add(op, "catalyst.optimize_ms", ms("optimization"))
        add(op, "catalyst.plan_ms", ms("planning"))
        add(op, "join.broadcast",
          collect(qe.executedPlan) { case j: BroadcastHashJoinExec => j }.size.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    private val runOp = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Integer]()
    // delivered on the thread that calls start(), inside the op
    override def onQueryStarted(e: QueryStartedEvent): Unit = runOp.put(e.runId, tracer.op)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      Option(runOp.get(p.runId)).map(_.intValue).filter(_ => d.contains("addBatch")).foreach { op =>
        add(op, "stream.batches", 1)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val first = of(op).getOrElse("stream.first_batch_at", Double.MaxValue)
        put(op, "stream.first_batch_at", math.min(first, t0))
        // the phases in the order a micro-batch runs them
        var at = t0
        for ((phase, key) <- StreamPhases) {
          val v = d.getOrElse(phase, 0.0)
          add(op, key, v)
          tracer.record(s"stream.$phase", at, at + v, op)
          at += v
        }
        add(op, "state.commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
        put(op, "state.rows_total", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
        put(op, "state.memory_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def installCodegenLog(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("userbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = CodegenLine.matcher(e.getMessage.getFormattedMessage)
        if (m.find()) codegenMs.add(m.group(1).toDouble)
      }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
  }

  def install(): Unit = {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    installCodegenLog()
  }
}

object Probe {
  val PropOp = "userbench.op"
  val PropLayer = "userbench.layer"
  val PropPhase = "userbench.phase"
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodegenLine = java.util.regex.Pattern.compile("Code generated in ([0-9.]+) ms")
  val StreamPhases: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")
}
