package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.debug._

import graft.sources.mem.WireJson

/** Plan-signature audit: the 100 TB plan review, mechanized and PINNED.
  *
  * Every round the plan of every batch gate is read for the same
  * anti-patterns (a cartesian product, a join that stopped broadcasting,
  * a filter that stopped reaching the scan, a global single-reducer
  * sort). Timings drift with machine load, but the INITIAL physical plan
  * is a pure function of (code, data statistics at one scale factor) —
  * so unlike the bench, a plan signature can be compared EXACTLY: any
  * drift is a real plan change, never noise.
  *
  * usage: runMain graft.tools.PlanAudit <name>[,name...] [sfDir] [outDir]
  *          // explain("formatted") per gate: to stdout, or to
  *          // <outDir>/<name>.txt (the plans/r<N>/ evidence trail)
  *        runMain graft.tools.PlanAudit codegen <name>[,name...] [sfDir] [outDir]
  *          // generated Java per codegen subtree (AQE off), to stdout
  *          // or <outDir>/<name>_codegen.txt
  *        runMain graft.tools.PlanAudit scan  [sfDir]  // stdout sweep
  *        runMain graft.tools.PlanAudit audit [sfDir]  // write PLAN_AUDIT.json,
  *                                                     // diff vs PLAN_BASELINE.json,
  *                                                     // exit 1 on drift
  *        runMain graft.tools.PlanAudit pin   [sfDir]  // audit + re-pin baseline
  *
  * The signature counts plan-node classes that encode scale posture:
  * exchanges by partitioning (hash / range / single-partition), broadcast
  * exchanges, join strategies (SMJ / BHJ / shuffled-hash / BNLJ /
  * cartesian), TakeOrderedAndProject (top-k without a global sort),
  * whole-stage-codegen span count, and scans vs scans-with-pushed-filters.
  * Node COUNTS, not plan text: expression ids, staged temp paths and
  * statistics annotations vary run to run; the node-class histogram does
  * not.
  *
  * Tripwires enforced regardless of baseline:
  *   - `CartesianProduct` anywhere is an immediate failure (every graft
  *     pair plan is either key-bucketed or broadcast-bounded by design);
  *   - a gate erroring during plan construction is a failure.
  * Everything else is drift-vs-baseline: BNLJ and single-partition
  * exchanges have adjudicated-benign instances (a broadcast of a bounded
  * query/centroid set; the final reduce of a global aggregate — see the
  * r10 sweep notes in PLANS.md), so their counts are pinned rather than
  * forbidden: a NEW instance shows up as a +1 against the baseline and
  * must be re-adjudicated.
  *
  * Streaming / binary-media / file-roundtrip gates are excluded: their
  * `queries()` entries EXECUTE a query (memory-sink materialization,
  * staged side effects) to produce the returned frame, so the audited
  * plan would be the trivial post-materialization read. Their batch twins
  * cover the same operator plans (COVERAGE.md maps each).
  *
  * The explain and codegen modes validate every name before building
  * anything (an unknown name writes nothing and exits 1) and annotate a
  * gate whose capture fails in its output instead of aborting the rest.
  *
  * The baseline records its sfDir: statistics (file sizes) feed join
  * strategy, so signatures are only comparable at the SAME scale factor.
  * PLAN_BASELINE.json is pinned at sf0.01 — the driver's correctness SF.
  */
object PlanAudit {

  /** (json key, count function over the executed-plan string). Counting
    * functions use literal node-class markers from SparkPlan.toString —
    * stable across runs, independent of expression ids. */
  private val features: Seq[(String, String => Int)] = {
    def count(needle: String)(p: String): Int = {
      var n = 0; var i = p.indexOf(needle)
      while (i >= 0) { n += 1; i = p.indexOf(needle, i + needle.length) }
      n
    }
    Seq(
      "exchange_hash" -> count("Exchange hashpartitioning") _,
      "exchange_range" -> count("Exchange rangepartitioning") _,
      "exchange_single" -> count("Exchange SinglePartition") _,
      "broadcast_exchange" -> count("BroadcastExchange") _,
      "cartesian" -> count("CartesianProduct") _,
      "bnlj" -> count("BroadcastNestedLoopJoin") _,
      "sort_merge_join" -> count("SortMergeJoin") _,
      "broadcast_hash_join" -> count("BroadcastHashJoin") _,
      "shuffled_hash_join" -> count("ShuffledHashJoin") _,
      "take_ordered" -> count("TakeOrderedAndProject") _,
      // distinct whole-stage-codegen span ids: nodes inside a span print
      // with a "*(id)" prefix; the span count is how WIDE codegen reaches
      "codegen_spans" -> ((p: String) =>
        "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size),
      // parquet file scans + DSv2 batch scans (the graft connector)
      "scans" -> ((p: String) => count("FileScan parquet")(p) + count("BatchScan")(p)),
      // scans whose pushed-filter list is NON-empty — predicate pushdown
      // actually reaching the source
      "scans_pushed" -> ((p: String) => count("PushedFilters: [")(p) -
        count("PushedFilters: []")(p)))
  }

  private def signature(plan: String): Seq[(String, Int)] =
    features.map { case (k, f) => k -> f(plan) }

  /** Per-SF artifact names, trailing-slash-safe: sf0.01 keeps the legacy
    * names; any other scale factor gets a _<tag> suffix. One helper for
    * BOTH the audit and baseline paths so they cannot diverge. */
  private def trimSlash(d: String): String = d.reverse.dropWhile(_ == '/').reverse
  private def sfTag(sfDir: String): String = trimSlash(sfDir).split("/").last
  private def artifact(prefix: String, sfDir: String): String =
    if (sfTag(sfDir) == "sf0.01") s"$prefix.json"
    else s"${prefix}_${sfTag(sfDir).replace('.', '_')}.json"

  /** streaming + staging gates execute a query to build their result;
    * their operator plans are audited via their batch twins instead. */
  private def skip(n: String): Boolean =
    n.contains("stream") || n.startsWith("mm_") ||
      n == "s6_sink_roundtrip" || n.startsWith("src_")

  private[graft] def renderJson(sfDir: String,
      sigs: Seq[(String, Either[String, Seq[(String, Int)]])]): String = {
    val sb = new StringBuilder
    sb.append("{\n  \"sf_dir\": \"").append(sfDir).append("\",\n  \"gates\": {\n")
    sigs.zipWithIndex.foreach { case ((name, sig), i) =>
      sb.append("    \"").append(name).append("\": ")
      sig match {
        case Left(err) =>
          // truncate BEFORE escaping — truncating after could split a
          // two-char escape and leave a lone trailing backslash, making
          // the written file invalid JSON
          sb.append("{\"error\": ").append(WireJson.q(err.take(160))).append("}")
        case Right(kvs) =>
          sb.append(kvs.map { case (k, v) => s""""$k": $v""" }
            .mkString("{", ", ", "}"))
      }
      sb.append(if (i < sigs.length - 1) ",\n" else "\n")
    }
    sb.append("  }\n}\n")
    sb.toString
  }

  /** A signature file's sf dir and per-gate counts. An error entry reads
    * as no counts, so against a pinned signature it shows as drift of
    * every nonzero count to 0. */
  private[graft] def parseGates(text: String): (String, Map[String, Map[String, Int]]) = {
    val file = Measure.obj(WireJson.parse(text))
    val gates = Measure.obj(file.getOrElse("gates", Map.empty)).map { case (g, sig) =>
      g -> Measure.obj(sig).collect { case (k, v: Long) => k -> v.toInt }
    }
    (file.get("sf_dir").fold("")(_.toString), gates)
  }

  /** The audit's verdict against a pinned baseline: NEW-gate notes (a
    * `pin` adopts them) and failures — a baseline pinned at another sf
    * dir, a pinned gate missing from the audit, a gate whose counts
    * drifted — in gate order. */
  private[graft] def baselineDiff(sfDir: String, baseline: String,
      audit: String): (Seq[String], Seq[String]) = {
    val ((baseSf, base), (_, cur)) = (parseGates(baseline), parseGates(audit))
    val gates = (base.keySet ++ cur.keySet).toSeq.sorted
    if (trimSlash(baseSf) != trimSlash(sfDir))
      (Nil, Seq(s"baseline pinned at $baseSf, audit ran at $sfDir - not comparable"))
    else (gates.filterNot(base.contains).map(g => s"NEW gate $g (no baseline entry) - pin to adopt"),
      gates.flatMap { g =>
        (base.get(g), cur.get(g)) match {
          case (Some(_), None) => Some(s"$g: present in baseline, missing from audit")
          case (Some(b), Some(c)) if b != c =>
            val diffs = (b.keySet ++ c.keySet).toSeq.sorted.flatMap { k =>
              val (bv, cv) = (b.getOrElse(k, 0), c.getOrElse(k, 0))
              if (bv != cv) Some(s"$k $bv->$cv") else None
            }
            Some(s"$g: plan drift [${diffs.mkString(", ")}]")
          case _ => None
        }
      })
  }

  /** The tripwires that hold regardless of baseline: a gate whose plan
    * could not be built, a CartesianProduct anywhere. */
  private[graft] def tripwires(
      sigs: Seq[(String, Either[String, Seq[(String, Int)]])]): Seq[String] =
    sigs.flatMap {
      case (n, Left(err)) => Some(s"$n: plan construction ERROR $err")
      case (n, Right(kvs)) =>
        val cart = kvs.collectFirst { case ("cartesian", v) => v }.getOrElse(0)
        if (cart > 0) Some(s"$n: CartesianProduct in plan (tripwire)") else None
    }

  /** Whole-stage generated Java per codegen subtree, built in a child
    * session with AQE off: under AQE the codegen subtrees only exist after
    * execution (whole-stage codegen itself is independent of AQE). */
  private def generatedCode(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, sfDir: String): String = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    fn(ss, sfDir).queryExecution.debug.codegenToSeq().zipWithIndex.map {
      case ((subtree, code, _), i) =>
        s"== subtree $i ==\n$subtree\n-- generated code --\n$code"
    }.mkString("\n\n")
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: PlanAudit scan|audit|pin [sfDir] | " +
      "[codegen] <name>[,name...] [sfDir] [outDir]"
    require(args.nonEmpty, usage)
    val mode = args(0)
    val sweep = Set("scan", "audit", "pin")(mode)
    val codegen = mode == "codegen"
    // evidence modes: `rest` = <names> [sfDir] [outDir]
    val rest = if (codegen) args.drop(1) else args
    require(rest.nonEmpty, usage)
    val sfDir = if (rest.length > 1) rest(1)
      else if (mode == "audit" || mode == "pin") "/root/testdata/sf0.01"
      else "/root/testdata/sf0.001"
    val names = if (sweep) Seq.empty[String]
      else rest(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // validate every name before anything is built or written (ADVICE r19
    // #4): an unknown name must not leave a partial evidence directory
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[planaudit] unknown queries: ${unknown.mkString(", ")} - nothing written")
      sys.exit(1)
    }
    val spark = graft.SparkEntry.localSession(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    mode match {
      case "scan" =>
        graft.SparkEntry.queries.toSeq.sortBy(_._1)
          .filterNot { case (n, _) => skip(n) }
          .foreach { case (name, fn) =>
            try {
              val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
              val bad = Seq(
                "CartesianProduct" -> plan.contains("CartesianProduct"),
                "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
                "SinglePartition" -> plan.contains("Exchange SinglePartition"))
                .collect { case (tag, true) => tag }
              if (bad.nonEmpty) println(s"[planaudit] $name: ${bad.mkString(", ")}")
            } catch { case e: Throwable =>
              println(s"[planaudit] $name: ERROR ${e.getMessage.take(120)}")
            }
          }
        println("[planaudit] scan complete")

      case "audit" | "pin" =>
        val sigs: Seq[(String, Either[String, Seq[(String, Int)]])] =
          graft.SparkEntry.queries.toSeq.sortBy(_._1)
            .filterNot { case (n, _) => skip(n) }
            .map { case (name, fn) =>
              val sig =
                try Right(signature(
                  fn(spark, sfDir).queryExecution.executedPlan.toString))
                catch { case e: Throwable =>
                  Left(String.valueOf(e.getMessage)) }
              spark.catalog.clearCache()
              name -> sig
            }
        val auditJson = renderJson(sfDir, sigs)
        val auditPath = artifact("PLAN_AUDIT", sfDir)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(auditPath), auditJson)
        println(s"[planaudit] wrote $auditPath (${sigs.size} gates)")

        // per-SF baselines: statistics feed join strategy, so each scale
        // factor pins its own signature file — sf0.01 keeps the legacy
        // name; the sf0.1 twin answers "does the plan HOLD at 10x the
        // data" (a broadcast that flips to SMJ shows up as strategy
        // drift between the two pinned files)
        val basePath = java.nio.file.Paths.get(artifact("PLAN_BASELINE", sfDir))
        val trips = tripwires(sigs)
        val failures = trips ++ {
          if (mode == "pin") {
            // never replace a good baseline with a failed sweep: a wrong
            // sfDir or a tripwired gate must not destroy the committed pin
            if (trips.isEmpty) {
              java.nio.file.Files.writeString(basePath, auditJson)
              println(s"[planaudit] PINNED $basePath")
            } else println("[planaudit] REFUSING to pin: failures below")
            Nil
          } else if (java.nio.file.Files.exists(basePath)) {
            val (notes, drift) = baselineDiff(sfDir,
              java.nio.file.Files.readString(basePath), auditJson)
            notes.foreach(n => println(s"[planaudit] $n"))
            drift
          } else {
            println(s"[planaudit] no $basePath - run `pin` to create one")
            Nil
          }
        }

        if (failures.nonEmpty) {
          failures.foreach(f => println(s"[planaudit] FAIL $f"))
          spark.stop()
          sys.exit(1)
        } else println("[planaudit] clean: no tripwires, no drift")

      case _ =>
        val outDir = rest.lift(2)
        outDir.foreach(d => new java.io.File(d).mkdirs())
        names.foreach { name =>
          val fn = graft.SparkEntry.queries(name)
          // a capture failure is annotated in the evidence, not fatal
          val body =
            try if (codegen) generatedCode(spark, fn, sfDir)
              else fn(spark, sfDir).queryExecution
                .explainString(ExplainMode.fromString("formatted"))
            catch { case NonFatal(e) =>
              s"PLAN CAPTURE FAILED: ${e.getClass.getName}: ${e.getMessage}" }
          val kind = if (codegen) "codegen, AQE off" else "explain-formatted"
          // stream/staging gates run their query while building the
          // frame: what they return is a read of the materialized result
          val note = if (skip(name)) ", post-materialization read" else ""
          val text = s"== $name (sfDir=$sfDir, $kind$note) ==\n$body\n"
          outDir match {
            case Some(d) =>
              val path = s"$d/$name${if (codegen) "_codegen" else ""}.txt"
              java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
              println(s"[planaudit] wrote $path")
            case None => print(text)
          }
        }
    }
    spark.stop()
  }
}
