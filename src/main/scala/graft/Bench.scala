package graft

object Bench {
  // All numeric output that lands in a JSON file or the stdout contract
  // line must be locale-independent: the f-interpolator and String.format
  // default to the JVM locale, and a comma-decimal locale would emit
  // invalid JSON (ADVICE r4 #3).
  private def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q1,q2,... : time just the named queries (profiling
    // aid). A partial run never touches the baseline file — the full-map
    // overwrite would silently drop every unselected query's entry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    val spark = SparkEntry.localSession(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpus = spark.sparkContext.defaultParallelism
    // Warm-up: run EVERY query once at the smallest scale factor (falling
    // back to the benchmarked dir) so whole-stage codegen compilation and
    // JIT warm per QUERY SHAPE before anything is timed — measured runs
    // then time the operators, not first-call compilation, which was the
    // dominant source of ±20% run-to-run variance. Failures are loud.
    val warmDir = {
      val small = "/root/testdata/sf0.001"
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    // Pinned calibration basket (r11 verdict #1): three REPRESENTATIVE
    // queries — one shuffle-heavy, one streaming, one map-only — timed at
    // sf0.01; machine speed is the MEDIAN ratio against the baseline's
    // recorded basket. The former scalar CPU probe (hash-reduce) measured
    // raw CPU throughput, which sf0.1 Spark wall time does NOT track
    // (scheduler/overhead-dominated): a 4.4× probe swing between sandboxes
    // manufactured a uniform phantom 4.3× "regression" across all 186
    // queries. The basket IS Spark wall time at the same overhead regime,
    // so its ratio tracks what the per-query timings actually do.
    // r13 addition: sim_brute_topk as a FOURTH basket entry covering the
    // CPU-float-bound workload class (vectorized dot products). Measured
    // same-machine this round: a contention window slowed every float
    // gate ~1.8× while the three original (shuffle/stream/text) basket
    // queries ran at baseline speed — machine speed is workload-class
    // dependent, and a basket blind to a class cannot adjudicate that
    // class's flags. The per-entry `basket_sec` ratios in BENCH_DELTAS
    // are the diagnostic: a lone `_basket_sim_brute_topk` excursion
    // marks a float-class window, not a code regression.
    // r15 (r14 verdict #2): the basket is now PER WORKLOAD CLASS — two
    // consecutive driver windows (noise 1.87, 4.14) were contended in a
    // CLASS-shaped way (pure-CPU decodes at 100-220× while shuffle gates
    // ran near baseline), and a single global speed cannot adjudicate
    // that. Each class gets one representative basket query; every
    // gate's regression ratio is normalized by ITS class's measured
    // speed, so a float-slow or decode-slow window self-adjudicates
    // instead of flagging the whole family. The class speeds land in
    // BENCH_DELTAS ("class_speed") as the contention fingerprint.
    val classBaskets: Map[String, String] = Map(
      "decode" -> "mm_png_decode", // pure-CPU codec loops (mm_*)
      "stream" -> "s4_stream_window", // micro-batch + state-store commits
      "fuzz" -> "q_fuzz_numeric", // codegen-dense multi-case stacks
      "float" -> "sim_brute_topk", // vectorized float dot products
      "shuffle" -> "q3_shipping", // exchange-bound relational
      "map" -> "text_quality") // map-only text scans
    // map-only per-document text scans (no corpus-level shuffle) — the
    // "map" class; corpus-aggregating text gates (tfidf/bm25/xent/...)
    // deliberately stay "default": they mix scan + exchange and neither
    // the map nor the shuffle basket is their shape (ADVICE r15 #3).
    val mapOnlyGates = Set("text_quality", "text_langid",
      "text_gopher_rules", "text_c4_clean", "text_strip_html",
      "text_normalize", "text_tokens", "text_pii_scrub",
      "text_repetition", "pii_scrub")
    // exchange-bound relational/join gates, EXPLICITLY (ADVICE r16 #1):
    // the bare q*/j* prefix swept in expression-bound gates
    // (q_scalar_funcs, q_array_funcs, q_sql_direct), the iterative
    // q_pagerank/q_recursive_cte, and the command-shaped q_analyze_stats
    // — none exchange-bound, so a contended shuffle window normalized
    // them by the wrong class speed. Prefix families (q<digit>_ TPC-H,
    // q_join*/q_window*/q_asof*, the whole j* join/zip family) plus a
    // name set for the rest; anything new defaults to "default", which
    // only costs it the class-specific normalizer, never mis-normalizes.
    val shufflePrefixes = Seq("q_join", "q_window", "q_asof")
    val shuffleNames = Set(
      "q_topk", "q_grouping_sets", "q_cube", "q_rollup", "q_pivot",
      "q_unpivot", "q_distinct_agg", "q_collect_list", "q_percentile",
      "q_approx_percentile", "q_approx_distinct", "q_hll_distinct",
      "q_except", "q_except_all", "q_intersect", "q_intersect_all",
      "q_range_join", "q_interval_join", "q_session_window",
      "q_sliding_window", "q_time_window", "q_lateral_topn",
      "q_scalar_subquery", "q_correlated_exists", "q_zorder")
    def classOf(name: String): String =
      if (name.startsWith("mm_") || name == "src_binaryfile_media") "decode"
      else if (name.contains("stream")) "stream"
      else if (name.startsWith("q_fuzz")) "fuzz"
      else if (name.startsWith("sim_") || name.startsWith("dedup_embedding") ||
        name.startsWith("dedup_semantic")) "float"
      else if (name.startsWith("j") ||
        name.matches("q\\d+_.*") ||
        shufflePrefixes.exists(name.startsWith) ||
        shuffleNames(name)) "shuffle"
      else if (mapOnlyGates(name)) "map"
      else "default" // normalized by the global speed ratio
    val basketNames = classBaskets.values.toSeq.distinct.sorted
    // basket runs at the BENCHED sf: the point is measuring Spark wall
    // time in the exact regime being normalized — the first cut measured
    // it at sf0.01 regardless, and those sub-second timings swung ~30%
    // between back-to-back idle runs
    val basketDir = sfDir
    // warm basket queries too — partial runs may not select them
    val warmSet = selected ++
      SparkEntry.queries.filter { case (k, _) => basketNames.contains(k) }
    warmSet.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { fn(spark, warmDir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up of $name failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    // The scalar CPU workload stays for the CONTENTION probes below (its
    // job: detect a non-idle machine within one run) and as a recorded
    // diagnostic; it is no longer the cross-machine normalizer.
    val cal = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // pmod keeps the ANSI sum far from long overflow (2e8 * 1e6 < 2^63)
      spark.range(0L, 200000000L, 1L, cpus)
        .selectExpr("sum(pmod(xxhash64(id), 1000000)) s").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // basket timings: min-of-3 per query, measured like the real sweep
    val basket: Seq[(String, Double)] = basketNames.flatMap { name =>
      SparkEntry.queries.get(name).flatMap { fn =>
        try {
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, basketDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            dt
          }
          Some(name -> times.min)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] basket $name failed: ${e.getMessage}")
          None
        }
      }
    }
    // Contention probe (round-7 verdict #1): a ~100ms fixed CPU workload run
    // every PROBE_EVERY queries. A few minutes of sandbox CPU contention
    // lands on whatever alphabetical window happens to be executing; the
    // probe detects it per-window instead of once per run, and the
    // MEDIAN/min probe ratio is emitted as `noise`. Median, not max (r10):
    // per-query times are min-of-3, so a transient spike that hits ONE
    // probe cannot corrupt any timing — max/min flagged idle runs on a
    // single post-query GC hiccup. Only SUSTAINED contention (which
    // raises the median and can outlast three back-to-back passes)
    // invalidates the run; the full probe list still lands in
    // BENCH_DELTAS for a reader who wants the raw spread.
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(): Unit = {
      // settle: a preceding query's async wind-down (checkpoint cleanup,
      // state-store maintenance, GC) is a sub-second burst that would
      // otherwise land on the probe and read as host contention
      Thread.sleep(300)
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, cpus)
        .selectExpr("sum(pmod(xxhash64(id), 1000000)) s").collect()
      probes += (System.nanoTime() - t0) / 1e9
    }
    // small (partial) runs still need >= 3 probes for the median to be
    // meaningful — with 2, one biased probe IS the median (and the
    // median/min ratio degenerates to max/min, the exact single-spike
    // false positive min-of-3 passes exist to avoid), so tiny selections
    // probe around every query
    val PROBE_EVERY = if (selected.size <= 4) 1
      else if (selected.size < 15) 2 else 5
    // the probe's OWN first execution pays whole-stage-codegen compilation
    // (~0.2-0.3s on a ~0.1s workload — its plan constants differ from the
    // calibration query's, so the generated class is distinct): measured
    // probe-0 was structurally 3-4x inflated, flagging idle machines as
    // contended. Pay the compile once, discard the timing.
    probe(); probes.clear()
    // guarantee >= 3 measured probes even for a 1-query selection — the
    // in-loop schedule yields ceil(n/PROBE_EVERY) + 1 probes, which is 2
    // when n = 1; top up before the loop so the median is never max/min
    val expectedProbes = (selected.size + PROBE_EVERY - 1) / PROBE_EVERY + 1
    (expectedProbes until 3).foreach(_ => probe())
    // Stable (sorted) execution order: Map iteration order shifts when
    // entries are added, which moves one-time JIT/codegen warmup between
    // queries and makes per-query times incomparable across rounds.
    //
    // Per-query time = MIN of 2 back-to-back measured passes (round-7
    // verdict #1): a single-shot timing hands a transient contention spike
    // entirely to one query — BENCH_r07 recorded 245s on code that a clean
    // re-run measured at 52s. Min-of-2 requires contention to persist across
    // both passes of the SAME query to contaminate its number, and the min
    // is the right estimator for "what the plan costs on an idle machine".
    val results = selected.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), i) =>
        if (i % PROBE_EVERY == 0) probe()
        def onePass(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          // per-query persists (dedup/LSH signature stages etc.) must not
          // accumulate across the 100+ queries of one session — drop cached
          // blocks after each measurement so later timings aren't skewed
          spark.catalog.clearCache()
          (dt, ok)
        }
        val (dt1, ok1) = onePass()
        // a failed first pass is not re-timed (its elapsed is garbage either
        // way and a deterministic failure would just double the cost).
        // MIN OF 3 passes (round-7 verdict #1 "ideally 3"): a contention
        // spike now has to span three back-to-back runs of the same query
        // to contaminate its number — the r8 contended runs showed spikes
        // regularly outlasting two passes but not three.
        // Only SUCCESSFUL passes enter the min (ADVICE r8 #2: a failed
        // pass's elapsed is time-to-failure, not a timing), and one good
        // pass makes the query ok — a flaky pass-3 error must not mark a
        // query that ran twice as failed (failures still log to stderr).
        val (dt, ok) = if (!ok1) (dt1, false) else {
          val (dt2, ok2) = onePass()
          val (dt3, ok3) = onePass()
          val okTimes = dt1 +: Seq((dt2, ok2), (dt3, ok3)).collect { case (d, true) => d }
          (okTimes.min, true)
        }
        (name, dt, ok)
    }
    probe()
    val noise = if (probes.nonEmpty && probes.min > 0) {
      val sorted = probes.sorted
      sorted(sorted.size / 2) / sorted.head
    } else 1.0
    if (noise > 1.5)
      System.err.println(f"[bench] NOISE: probe spread ${noise}%.2fx " +
        s"(${probes.map(p => num(p, 3)).mkString(", ")}) — machine was not idle")

    // Regression watch (round-2 verdict #8): compare to the previous run's
    // full-precision per-query file and FLAG anything >1.5× slower. Written
    // to files + stderr, NOT the stdout JSON line — the driver keeps only
    // the last ~2000 chars of output, so the contract line must stay small.
    // history is PER SCALE FACTOR — an sf0.001 smoke run must not clobber
    // the sf0.1 baseline and poison the next round's regression ratios
    val sfTag = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9.]", "_")
    val prevFile = new java.io.File(s"BENCH_LOCAL_$sfTag.json")
    val prev: Map[String, Double] =
      if (prevFile.isFile) {
        val txt = scala.io.Source.fromFile(prevFile).mkString
        "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    // only HEALTHY timings enter the baseline and the comparison — a
    // failed query's elapsed time is garbage that would both poison the
    // stored baseline and produce nonsense ratios against it
    val healthy = results.collect { case (k, v, true) => (k, v) }

    // ---- machine speed vs the baseline machine (r11 verdict #1) ----
    def median(xs: Seq[Double]): Option[Double] =
      if (xs.isEmpty) None else Some(xs.sorted.apply(xs.size / 2))
    // the pinned-basket ratio against the baseline's recorded basket
    // (same queries, same sf, same min-of-3 discipline)
    val basketSpeed = median(basket.flatMap { case (n, t) =>
      prev.get(s"_basket_$n").filter(_ > 0).map(t / _) })
      .filter(_ => basket.size >= 2)
    // the median per-query raw ratio over ALL shared queries: a uniform
    // machine-speed shift moves every query while a real regression moves
    // a family, so with a full sweep's sample size the median is the most
    // robust machine estimator there is — a uniform ~190-plan "code
    // regression" does not exist in practice (the r11 lesson).
    // FULL runs only (ADVICE r12): a partial selection is typically one
    // query family — often selected BECAUSE its cost changed — so its
    // median absorbs the real change as "machine speed" and the clean-
    // partial merge would write near-old values back into the baseline,
    // defeating the refresh. Partial runs normalize by the independent
    // pinned basket instead (the "basket serves partial runs" contract).
    val medianRawRatio = median(healthy.flatMap { case (k, v) =>
      prev.get(k).filter(_ > 0).map(v / _) })
      .filter(_ => only.isEmpty && healthy.size >= 10)
    // PRIMARY: median raw ratio when the sweep is big enough to carry it
    // (full runs); the 3-query basket serves partial runs and stands as
    // the independent cross-check either way (disagreement warns below)
    val speedRatio = medianRawRatio.orElse(basketSpeed).getOrElse(1.0)
    for (b <- basketSpeed; m <- medianRawRatio)
      if (b / m > 1.3 || m / b > 1.3)
        System.err.println(f"[bench] CALIBRATION DISAGREEMENT: basket speed " +
          f"$b%.3f vs median raw ratio $m%.3f — inspect BENCH_DELTAS before " +
          "trusting regression flags")

    val basketEntries = basket.map { case (n, t) => (s"_basket_$n", t) }
    val full = (("_cal", cal) +: (basketEntries ++ healthy))
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val contaminated = contended(noise)
    val partial = only.isDefined
    val refreshRequested = sys.env.get("SPARK_GRAFT_REFRESH_BASELINE").contains("1")
    val bootstrap = prev.isEmpty
    val outFile = new java.io.File(
      outFileName(sfTag, noise, partial, bootstrap, refreshRequested))
    if (contaminated)
      System.err.println(f"[bench] NOISE ${noise}%.2fx > 2x: baseline " +
        s"$prevFile left untouched; this run's timings -> $outFile; " +
        "regression flags skipped")
    java.nio.file.Files.write(outFile.toPath,
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val candidates = mergeCandidates(prev, basketEntries, healthy, noise,
      partial, refreshRequested, speedRatio)
    if (candidates.nonEmpty) {
      java.nio.file.Files.write(prevFile.toPath,
        mergedJson(prev, candidates, speedRatio)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(f"[bench] clean ${if (partial) "partial" else "full"} " +
        f"run (noise ${noise}%.2fx): merged ${candidates.size} " +
        s"${if (partial && refreshRequested) "selected (REFRESH)" else "NEW"} " +
        s"entries into $prevFile " +
        f"scaled by 1/speed = ${1.0 / speedRatio}%.3f")
    }
    if (prev.nonEmpty && !contaminated && !partial) {
      // per-class speed: the class representative's own now/baseline
      // ratio when both sides have it — CLAMPED at the global speed from
      // below (a class can only read SLOWER than the machine, not
      // faster: letting a fast-outlier rep deflate its class would
      // manufacture flags) — falling back to the global ratio. The
      // representative itself is never flagged through its own ratio
      // (normalizing a gate by itself is vacuous): reps normalize by the
      // global speed.
      val basketNow = basket.toMap
      val classSpeed: Map[String, Double] = classBaskets.flatMap {
        case (cls, rep) =>
          for {
            now <- basketNow.get(rep)
            base <- prev.get(s"_basket_$rep").filter(_ > 0)
          } yield cls -> math.max(now / base, speedRatio)
      }
      val reps = classBaskets.values.toSet
      def speedFor(k: String): Double =
        if (reps(k)) speedRatio
        else classSpeed.getOrElse(classOf(k), speedRatio)
      // normalize by relative machine speed: a query is only as "slower"
      // as it degraded BEYOND the speed shift ITS workload class measured
      val ratios = healthy.flatMap { case (k, v) =>
        prev.get(k).filter(_ > 0).map(p => (k, v, p, v / p / speedFor(k))) }
      val deltas = ratios.map { case (k, _, _, r) => s""""$k":${num(r, 2)}""" }
        .mkString("{", ",", "}")
      val classSpeedJson = classSpeed.toSeq.sortBy(_._1)
        .map { case (c, s) => s""""$c":${num(s, 3)}""" }.mkString("{", ",", "}")
      val regressions = ratios.filter { case (k, v, _, r) => r > 1.5 && v > 0.5 }
        .sortBy(-_._4)
      val regJson = regressions.map { case (k, v, p, r) =>
        s"""{"query":"$k","sec":${num(v, 3)},"prev_sec":${num(p, 3)},"ratio":${num(r, 2)}}""" }
        .mkString("[", ",", "]")
      val probeJson = probes.map(p => num(p, 3)).mkString("[", ",", "]")
      val basketJson = basket.map { case (n, t) => s""""$n":${num(t, 3)}""" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(new java.io.File("BENCH_DELTAS.json").toPath,
        (s"""{"cal_sec":${num(cal, 3)},"machine_speed_vs_prev":${num(speedRatio, 3)},""" +
          s""""basket_sec":$basketJson,"class_speed":$classSpeedJson,""" +
          basketSpeed.map(b => s""""basket_speed":${num(b, 3)},""").getOrElse("") +
          medianRawRatio.map(m => s""""median_raw_ratio":${num(m, 3)},""").getOrElse("") +
          s""""noise":${num(noise, 2)},"probes_sec":$probeJson,"prev_ratio":$deltas,"regressions":$regJson}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      regressions.foreach { case (k, v, p, r) =>
        System.err.println(f"[bench] REGRESSION $k: $v%.3fs vs $p%.3fs (${r}%.2fx)") }
    }

    val line = contractLine(Summary(healthy, results.size, results.count(!_._3),
      cal, noise, speedRatio, prev.nonEmpty, sfTag))
    if (line.length > MaxLine)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars even at " +
        "10 queries — the driver tail-captures 2000; shorten query names")
    // Stop Spark BEFORE printing the contract line: shutdown logging (and,
    // with sbt's LoggedOutput, the "[success]" trailer) must not land after
    // it — the driver parses the LAST line of the captured tail.
    spark.stop()
    println(line)
    System.out.flush()
  }

  /** A CONTAMINATED run (probe spread > 2×: the machine was demonstrably
    * not idle) must not clobber the committed min-of-3 baseline — r8's
    * contended run (noise 9.36×) overwrote it and it had to be restored
    * by hand. Contaminated timings land in a side file instead,
    * and the regression flags are skipped (ratios against a clean
    * baseline from a dirty run are all noise). */
  private[graft] def contended(noise: Double): Boolean = noise > 2.0

  /** The file a run's timings land in. BASELINE-REFRESH POLICY (r11
    * verdict #2 on process): the committed BENCH_LOCAL_<sf>.json is PINNED
    * at round start. A full clean run no longer overwrites it (each
    * refresh would forgive all accumulated drift and make the 2× contract
    * self-referential) — full timings land in BENCH_FULL_<sf>.json, and
    * only [[mergeCandidates]] may touch entries mid-round. A bootstrap (no
    * baseline yet) writes the baseline itself, and so does a full refresh,
    * which requires SPARK_GRAFT_REFRESH_BASELINE=1 plus a same-machine A/B
    * showing per-query raw parity (compare BENCH_FULL against the baseline
    * first). Contended runs go to BENCH_CONTENDED, partial selections to
    * BENCH_PARTIAL. */
  private[graft] def outFileName(sfTag: String, noise: Double, partial: Boolean,
      bootstrap: Boolean, refresh: Boolean): String =
    if (contended(noise)) s"BENCH_CONTENDED_$sfTag.json"
    else if (partial) s"BENCH_PARTIAL_$sfTag.json"
    else if (bootstrap || refresh) s"BENCH_LOCAL_$sfTag.json"
    else s"BENCH_FULL_$sfTag.json"

  /** The entries (unscaled) a run merges into the pinned baseline `prev`:
    *  * clean run (full OR partial): only queries the baseline has never
    *    seen (new gates this round, and the basket entries themselves the
    *    first time) — existing entries stay pinned. Partial runs used to
    *    overwrite their selected entries ("refresh entries whose cost
    *    legitimately changed"), but that let a workload-class contention
    *    window silently re-pin a family ~1.7× slower (measured r13:
    *    float-CPU gates 1.8× slow while the basket read 1.05 — the scaled
    *    merge wrote the inflated values and would have masked every later
    *    regression in the family);
    *  * re-pinning EXISTING entries requires the explicit
    *    SPARK_GRAFT_REFRESH_BASELINE=1 A/B protocol — with a PARTIAL
    *    selection exactly the selected entries (the targeted re-pin for
    *    deliberate plan changes); a full refresh merges nothing because it
    *    overwrites the whole baseline ([[outFileName]]).
    * A contended run, a bootstrap and a run without a machine speed merge
    * nothing. */
  private[graft] def mergeCandidates(prev: Map[String, Double],
      basket: Seq[(String, Double)], healthy: Seq[(String, Double)],
      noise: Double, partial: Boolean, refresh: Boolean,
      speedRatio: Double): Seq[(String, Double)] =
    if (contended(noise) || prev.isEmpty || speedRatio <= 0 || (refresh && !partial)) Nil
    else if (partial && refresh) basket.filterNot(e => prev.contains(e._1)) ++ healthy
    else (basket ++ healthy).filterNot(e => prev.contains(e._1))

  /** The baseline file's JSON after merging `candidates`, each SCALED to
    * the baseline machine's speed (v / speedRatio) so the file stays
    * internally consistent; keys sorted. */
  private[graft] def mergedJson(prev: Map[String, Double],
      candidates: Seq[(String, Double)], speedRatio: Double): String =
    (prev ++ candidates.map { case (k, v) => k -> v / speedRatio }).toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")

  /** What the stdout contract line reports of a run: its healthy timings,
    * how many queries ran and failed, the calibration, probe noise and
    * machine speed, and whether a baseline exists to normalize against. */
  private[graft] final case class Summary(
      healthy: Seq[(String, Double)], ran: Int, failed: Int, cal: Double,
      noise: Double, speedRatio: Double, hasBaseline: Boolean, sfTag: String)

  /** The contract line's length bound: its reader tail-captures 2000
    * characters of stdout, and a line cut mid-way records parsed:null. */
  private[graft] val MaxLine = 1900

  /** ONE compact JSON line, times at `decimals` places, keeping the
    * slowest `keep` healthy queries. Only HEALTHY timings enter the
    * headline total — a failed query's elapsed (e.g. a 30 s OOM) is
    * garbage and would inflate the recorded number; failures
    * are counted separately on the line. */
  private[graft] def renderLine(s: Summary, decimals: Int, keep: Int): String = {
    val total = s.healthy.map(_._2).sum
    // when the full map cannot fit, keep the SLOWEST `keep` HEALTHY
    // queries (failed queries' elapsed times are garbage — ranking on
    // them would let a 30 s OOM claim a slot a real timing deserves)
    // and say how many entries were dropped — full precision for every
    // healthy query is always in the committed BENCH_LOCAL_<sf>.json
    val kept = s.healthy.sortBy(-_._2).take(keep).sortBy(_._1)
    val qs = kept.map { case (k, v) =>
      s""""$k":${num(v, decimals)}""" }.mkString("{", ",", "}")
    val omitted = if (kept.size >= s.healthy.size) ""
      else s""","omitted":${s.healthy.size - kept.size}"""
    // stable ran-count (r19 verdict #7): the slowest-N truncation above
    // makes a query VANISH from the line when it merely got faster, and
    // the round-over-round diff mislabeled 13 such queries as
    // "dropped_from_bench". n_ran is the total number of queries this
    // run executed (healthy + failed), so truncation is distinguishable
    // from an actually-removed query without growing the per-query map.
    val ran = s""","n_ran":${s.ran}"""
    val failed = if (s.failed == 0) "" else s""","failed":${s.failed}"""
    // noise rides the contract line only when it matters (>1.2×) — it is
    // the reader's signal that the machine was contended during this run
    val noiseF = if (s.noise <= 1.2) "" else s""","noise":${num(s.noise, 2)}"""
    // machine-independent headline: total scaled to the committed
    // baseline machine's speed via the BASKET ratio (median of the
    // pinned representative queries; falls back to the median per-query
    // raw ratio while the baseline has no basket) — lets the
    // recorded number track CODE across machines of different speed.
    // cal_sec stays as a raw-CPU diagnostic only.
    val normF = if (!s.hasBaseline || s.speedRatio <= 0) ""
      else s""","value_norm":${num(total / s.speedRatio, 3)}"""
    s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","cal_sec":${num(s.cal, 3)}$normF,"queries":$qs$omitted$ran$failed$noiseF,"sf":"${s.sfTag}"}"""
  }

  /** The contract line, self-bounded to [[MaxLine]]: a line longer than
    * the capture window gets truncated MID-LINE. Degrade precision first
    * (2 → 1 decimals), then shed the fastest queries until the line fits
    * (no fewer than 10 kept) — the query count grows every round, so a
    * fixed precision knob alone stops working. */
  private[graft] def contractLine(s: Summary): String = {
    val full2 = renderLine(s, 2, s.ran)
    if (full2.length <= MaxLine) full2
    else {
      val full1 = renderLine(s, 1, s.ran)
      if (full1.length <= MaxLine) full1
      else Iterator.range(s.ran - 1, 9, -1).map(renderLine(s, 1, _))
        .find(_.length <= MaxLine)
        .getOrElse(renderLine(s, 1, 10))
    }
  }
}
