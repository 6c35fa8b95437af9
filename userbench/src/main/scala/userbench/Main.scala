package userbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * }}}
  *
  * The last stdout line is the result: {"correct", "attempted", "failed",
  * "metrics"}; with --trace 0 the end-to-end metrics, with --trace 1 the
  * per-layer ones. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceOut: Option[Path])

  def parseArgs(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(need("work")), kv.get("trace-out").map(Paths.get(_)))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload} (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  val Workloads: Map[String, Ctx => Workload] = Map(
    "pushdown_query" -> (new PushdownQuery(_)),
    "wire_join" -> (new WireJoin(_)),
    "log_tail" -> (new LogTail(_)))

  /** An op slower than this counts as failed. */
  val OpTimeoutMs = 30000.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "op_ms_p90" -> "ms", "rows_per_s" -> "rows/s",
    "cpu_ms_per_op" -> "ms", "heap_mb" -> "MB", "ok_ratio" -> "1")

  /** Per-layer metrics of every workload: the median over the traced ops
    * that enter the layer (0 when none does), except the sparse GC
    * readings in [[MeanPerOp]]. */
  val PerLayer: Seq[(String, String)] = Seq(
    "mql.parse_ms" -> "ms", "channel.build_ms" -> "ms", "channel.build_jobs" -> "count",
    "sources.load_ms" -> "ms", "sources.load_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.cpu_share" -> "1",
    "shuffle.write_bytes" -> "B", "shuffle.records" -> "count", "spill.bytes" -> "B",
    "join.broadcast" -> "count",
    "mem.rows_served" -> "count", "mem.served_per_returned" -> "1",
    "wire.rows_shipped" -> "count", "wire.bytes_per_row" -> "B/row", "wire.client_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "op.self_ms" -> "ms", "trace.op_ms_p50" -> "ms", "trace.overhead_ms" -> "ms")

  /** Layers only log_tail enters; printed after [[PerLayer]] on that
    * workload alone. */
  val StreamLayer: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.start_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.rows_total" -> "count", "state.memory_bytes" -> "B",
    "ckpt.bytes_per_input_byte" -> "B/B", "mem.append_ms" -> "ms")

  /** Collections are rare within one op, so their median is 0 and says
    * nothing; these report the mean per traced op instead. */
  val MeanPerOp: Set[String] = Set("exec.gc_ms", "jvm.gc_ms", "jvm.gc_count")

  def session(work: Path): SparkSession = {
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    SparkEntry.sessionBuilder(SparkSession.builder()
        .master(s"local[$k]")
        .appName("userbench")
        .config("spark.sql.shuffle.partitions", k.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parseArgs(argv.toSeq)); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over either way
    Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(a.work)
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tr = new Tracer
    val probe = if (a.trace) Some(new Probe(spark, tr)) else None
    probe.foreach { p =>
      p.install()
      tr.onLayer = l => sc.setLocalProperty(Probe.PropLayer, if (l.isEmpty) null else l)
    }
    val w = Workloads(a.workload)(new Ctx(spark, a.work, a.seed, tr))
    val n = math.ceil(a.seconds * w.opsPerSecond).toInt
    require(Stats.supportedTail(n).exists(_ >= 90),
      s"$n ops cannot support a p90 with ten samples beyond it; raise --seconds")
    val tSession = System.currentTimeMillis()
    w.setup(n)
    val tInputs = System.currentTimeMillis()
    // warm-up: untimed, the same ops in both modes
    for (k <- 1 to w.warmupOps) {
      w.prepare(-k)
      val out = w.run(-k)
      w.check(-k, out).foreach(e => throw new IllegalStateException(s"warm-up op failed: $e"))
    }
    probe.foreach(_.drain())
    val tWarm = System.currentTimeMillis()
    val setupS = (tWarm - jvmStart) / 1000.0
    System.err.println(f"userbench: setup ${setupS}%.2f s = jvm+session ${(tSession - jvmStart) / 1000}%.2f" +
      f" + inputs ${(tInputs - tSession) / 1000.0}%.2f + warm-up ${(tWarm - tInputs) / 1000.0}%.2f; $n ops")

    val lat = new Array[Double](n)
    var cpuNs = 0L
    var units = 0L
    var failed = 0
    val traced = ArrayBuffer.empty[Map[String, Double]]
    for (i <- 0 until n) {
      // a traced run leaves odd ops untraced to measure the overhead
      val tracedOp = a.trace && i % 2 == 0
      w.prepare(i)
      tr.op = i
      sc.setJobGroup(s"userbench-op-$i", s"userbench op $i")
      sc.setLocalProperty(Probe.PropOp, i.toString)
      tr.active = tracedOp
      val (gc0, comp0, cg0) = (Gauges.gc, Gauges.compiles, probe.fold(0.0)(_.codegenMillis))
      val c0 = Gauges.cpuNs
      val t0 = System.nanoTime()
      val res = try Right(tr.span("op")(w.run(i))) catch { case NonFatal(e) => Left(e) }
      lat(i) = (System.nanoTime() - t0) / 1e6
      cpuNs += Gauges.cpuNs - c0
      val (gc1, comp1, cg1) = (Gauges.gc, Gauges.compiles, probe.fold(0.0)(_.codegenMillis))
      tr.active = false
      sc.clearJobGroup()
      sc.setLocalProperty(Probe.PropOp, null)
      val err = res match {
        case Left(e) =>
          e.printStackTrace()
          Some(s"op $i threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(out) =>
          units += out.unitRows
          w.check(i, out).map(e => s"op $i: $e")
            .orElse(if (lat(i) > OpTimeoutMs) Some(f"op $i took ${lat(i)}%.0f ms") else None)
      }
      err.foreach { e => failed += 1; System.err.println(s"FAILED $e") }
      for (p <- probe) {
        p.drain()
        if (tracedOp && res.isRight) {
          val gauges = Map(
            "codegen.compiles" -> (comp1 - comp0).toDouble, "codegen.compile_ms" -> (cg1 - cg0),
            "jvm.gc_count" -> (gc1._1 - gc0._1).toDouble, "jvm.gc_ms" -> (gc1._2 - gc0._2).toDouble)
          traced += layerReadings(i, tr, p, gauges) ++ w.layers(i, res.toOption.get, p)
        }
      }
    }
    val deciles = lat.grouped(math.max(1, n / 10)).map(g => f"${Stats.median(g.toSeq)}%.0f").mkString(" ")
    System.err.println(s"userbench: op ms median per tenth of the run: $deciles")
    val heapMb = Gauges.liveHeapMb()
    w.close()

    val metrics: Seq[(String, Double)] =
      if (!a.trace) {
        val wallS = lat.sum / 1000.0
        Seq("setup_s" -> setupS, "op_ms_p50" -> Stats.median(lat.toSeq),
          "op_ms_p90" -> Stats.percentile(lat.toSeq, 90), "rows_per_s" -> units / wallS,
          "cpu_ms_per_op" -> cpuNs / 1e6 / n, "heap_mb" -> heapMb,
          "ok_ratio" -> (n - failed).toDouble / n)
      } else {
        val on = lat.indices.filter(_ % 2 == 0).map(lat(_))
        val off = lat.indices.filter(_ % 2 == 1).map(lat(_))
        val layers = PerLayer ++ (if (a.workload == "log_tail") StreamLayer else Nil)
        val layerMedians = layers.map(_._1).map { m =>
          val vs = traced.flatMap(_.get(m)).toSeq
          m -> (if (vs.isEmpty) 0.0 else if (MeanPerOp(m)) vs.sum / vs.length else Stats.median(vs))
        }.toMap ++ Map(
          "trace.op_ms_p50" -> Stats.median(on),
          "trace.overhead_ms" -> (Stats.median(on) - Stats.median(off)))
        a.traceOut.foreach { p =>
          Files.createDirectories(p.toAbsolutePath.getParent)
          tr.write(p)
        }
        layers.map { case (m, _) => m -> layerMedians(m) }
      }
    spark.stop()
    println(resultLine(failed == 0, n, failed, metrics))
  }

  /** The result line; every metric carries the unit its list gives it. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double)]): String = {
    val units = (EndToEnd ++ PerLayer ++ StreamLayer).toMap
    Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (m, v) => m -> Seq("value" -> v, "unit" -> units(m)) }))
  }

  /** Layer readings of traced op `i` from its spans and listener counters. */
  def layerReadings(i: Int, tr: Tracer, p: Probe, gauges: Map[String, Double]): Map[String, Double] = {
    val c = p.of(i)
    def ctr(k: String) = c.getOrElse(k, 0.0)
    val spans = tr.spansOf(i)
    val byName = spans.groupBy(_.name)
    def spanMs(name: String): Option[Double] = byName.get(name).map(_.map(_.dur).sum)
    val root = spans.find(_.parent == 0L).get
    val always = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_ms",
      "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "shuffle.write_bytes", "shuffle.records",
      "spill.bytes", "join.broadcast", "catalyst.analysis_ms", "catalyst.optimize_ms",
      "catalyst.plan_ms").map(k => k -> ctr(k)).toMap ++ gauges ++ Map(
      "exec.cpu_share" -> (if (ctr("exec.run_ms") > 0) ctr("exec.cpu_ms") / ctr("exec.run_ms") else 0.0),
      "op.self_ms" -> Spans.selfTime(root, spans.filter(_.parent == root.id)))
    val modules = Seq("mql.parse" -> "mql.parse_ms", "channel.build" -> "channel.build_ms",
      "mem.append" -> "mem.append_ms").flatMap { case (s, m) => spanMs(s).map(m -> _) }.toMap
    val build = spanMs("channel.build").map(_ => "channel.build_jobs" -> ctr("jobs@channel.build"))
    val stream = byName.get("stream.run").map { runs =>
      Probe.StreamPhases.map { case (_, k) => k -> ctr(k) }.toMap ++ Map(
        "stream.batches" -> ctr("stream.batches"),
        "stream.start_ms" -> c.get("stream.first_batch_at").map(_ - runs.map(_.start).min).getOrElse(0.0),
        "state.commit_ms" -> ctr("state.commit_ms"),
        "state.rows_total" -> ctr("state.rows_total"),
        "state.memory_bytes" -> ctr("state.memory_bytes"))
    }.getOrElse(Map.empty)
    always ++ modules ++ build ++ stream
  }
}
