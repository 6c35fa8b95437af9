package graft.tools

import org.apache.spark.sql.SparkSession

/** sf1 spot-bench (r11 verdict #6; median-of-3 + pinned baseline r12
  * verdict #3): times the pinned 10 most expensive gates plus the full
  * dedup family at sf0.1 AND at the GenScale-staged sf1 dir in ONE
  * session (growth ratios are therefore machine-independent), with a
  * per-run timeout that cancels the job group so a blown-up candidate
  * space cannot wedge the sweep — a timeout is itself the measurement
  * (the gate does NOT survive the scale-up).
  *
  * MEDIAN-OF-3, ALTERNATED: single-run sf1 timings swung ±50% under host
  * contention (four r12 readings of keep_best spanned 340→72s), so each
  * gate is timed once per ROUND and the sweep runs 3 rounds — a
  * contention burst lands on one round's window and biases every gate
  * once, instead of landing on one gate three back-to-back times; the
  * per-gate median then discards it. A gate that times out in a round is
  * not retried in later rounds (no 3× timeout bills); its median covers
  * the successful rounds only.
  *
  * PINNED BASELINE + DELTAS (the sf0.1 calibration lesson applied at
  * sf1): the committed BENCH_SPOT_sf1.json is the baseline. A run with
  * no baseline (or SPARK_GRAFT_REFRESH_SPOT=1 — required after a
  * GenScale change, which redefines the staged corpus) writes it;
  * otherwise results land in BENCH_SPOT_RUN_sf1.json with a deltas block
  * of growth-ratio ratios vs baseline, flagging > 1.5× on stderr —
  * growth is a same-machine quotient, so machine speed divides out.
  *
  * Also measures `dedup_containment` BEFORE the r12 prefix filter
  * (containmentPairsBrute, same planted-fragment gate shape) against the
  * shipped form, at both scales.
  *
  * usage: runMain graft.tools.SpotBench [sf1Dir] [refDir]
  */
object SpotBench {
  // the 10 most expensive gates of the committed sf0.1 baseline (r11)
  private val top10 = Seq(
    "text_bigram_xent", "corpus_dsir_weights", "dedup_cluster_cc",
    "s15_stream_full_outer", "s12_stream_outer_join", "s17_stream_semi_join",
    "dedup_jaccard_prefix", "t_stream_mem_backpressure", "s20_stream_bpe",
    "dedup_keep_best")
  // r13-continuation additions: growth readings for the new operators
  // (unigram encode/vocab are map-only / bounded-agg by design — the spot
  // numbers verify the posture instead of asserting it)
  private val newOps = Seq(
    "corpus_unigram_vocab", "corpus_unigram_encode", "text_bm25",
    "dedup_url", "pipe_dataset_card", "s29_changelog_apply",
    "text_quality_classifier", "corpus_mlm_mask", "text_kneser_ney",
    "text_pii_scrub", "corpus_cdc_chunks", "corpus_wordpiece_vocab",
    "corpus_wordpiece_encode", "dedup_cdc_cross", "s33_resample_locf",
    // r16: gzipped WARC twin + the two new ANN gates
    "src_warc_gz", "sim_lsh_multiprobe", "sim_ivfpq_rerank",
    // r17: the knob-free recommended ANN entry point + the minhash
    // heavy-bucket guard (the sf10 super-linear finding's fix)
    "sim_ann_default", "dedup_minhash_capped",
    // r18: the knob-free near-dup default (r17 verdict #1/#8 — adopted
    // into the growth pins the way sim_ann_default was)
    "dedup_neardup_default",
    // r19: the knob-free EMBEDDING near-dup default (r18 verdict #4 —
    // geometry solved from corpus size, candidates budgeted per row)
    "dedup_neardup_embeddings")
  // r15 (r14 verdict #1): the staged sf1 corpus now carries the TPC-H
  // star tables (GenScale shifted-key replicas), so the join/agg/window
  // families get real 10× growth pins too — not just documents gates
  private val starOps = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q10_returned",
    "j1_join_inner", "q_topk", "q_window_rank", "q_grouping_sets",
    "j_bloom_semi", "j_bucketed_join", "q_fuzz_parity", "q_fuzz_grouped",
    "q_fuzz_decimal", "q_pagerank", "q_asof_join", "q_session_window",
    "q_time_window", "q_range_join", "corpus_bpe_pretrained",
    "src_warc_ingest")
  // r19 (r18 verdict #1/#5): the chunked-feed stream-join gates and the
  // stateful stream family — measurable at the second decade now that
  // events.parquet exists at sf10 and the feed instrument is realistic
  private val streamOps = Seq(
    "s6_stream_join", "s4_stream_window", "s5_stream_sliding",
    "s5_stream_session", "s7_stream_dedup", "s14_stream_dedup_watermark",
    "s30_stream_changelog", "t_stream_stateful", "s10_stream_late_drop",
    "s16_stream_foreach_batch")
  private val dedupFamily = Seq(
    "dedup_exact", "dedup_normalized", "dedup_paragraphs", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_jaccard_prefix",
    "dedup_jaccard_capped", "dedup_containment", "dedup_edit_distance",
    "dedup_substring", "dedup_substring_capped", "dedup_incremental",
    "dedup_keep_best", "dedup_cluster_cc", "dedup_semantic",
    "dedup_embedding_cosine", "dedup_embedding_cosine_t90")

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sf1Dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SPOT_TIMEOUT", "360").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SPOT_ROUNDS", "3").toInt
    // SPARK_GRAFT_SPOT_ONLY=a,b,... — run a chunk; results MERGE into the
    // output file so the sweep can run in bounded slices
    val only = sys.env.get("SPARK_GRAFT_SPOT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val refresh = sys.env.get("SPARK_GRAFT_REFRESH_SPOT").contains("1")
    val spark = graft.SparkEntry.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // self-staging (r18 verdict #6): the GenScale corpora live in tmpfs —
    // re-stage on miss instead of failing a cold-start run. Applies to
    // both dirs when they follow the /tmp/graft_sfN convention (the sf10
    // decade probe passes refDir=/tmp/graft_sf1).
    Seq(sf1Dir, refDir).filter(_.contains("graft_sf"))
      .foreach(GenScale.ensureStaged(spark, _))

    // the pre-r12 containment form, in the gate's exact planted shape —
    // the "before" of the r11 verdict's scale-killer fix
    val containmentBrute: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val docs = graft.sources.Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val fragments = docs.where(col("doc_id") < 10)
          .select((col("doc_id") + 100000L).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
        graft.functions.Dedup.containmentPairsBrute(docs.unionByName(fragments),
          "doc_id", "text", shingleLen = 3, threshold = 0.8)
      }

    val allGates: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      (top10 ++ dedupFamily ++ newOps ++ starOps ++ streamOps).distinct.map(n => n -> graft.SparkEntry.queries(n)) :+
        ("dedup_containment_brute" -> containmentBrute)
    val gates = only match {
      case Some(names) => allGates.filter { case (n, _) => names(n) }
      case None => allGates
    }

    /** run body with a hard timeout; cancel the job group on expiry.
      * Some(seconds) on success, None on timeout/error (logged). */
    def timed(tag: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Option[Double] = {
      @volatile var failed: Option[String] = None
      val t0 = System.nanoTime()
      val th = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = true)
          fn(spark, dir).count(); ()
        } catch { case e: Throwable => failed = Some(e.getMessage) }
      }, s"spot-$tag")
      th.setDaemon(true)
      th.start()
      th.join(timeoutSec * 1000)
      val out =
        if (th.isAlive) {
          spark.sparkContext.cancelJobGroup(tag)
          th.join(60000)
          System.err.println(s"[spot] $tag TIMEOUT after ${timeoutSec}s")
          None
        } else failed match {
          case Some(msg) =>
            System.err.println(s"[spot] $tag FAILED: $msg"); None
          case None => Some((System.nanoTime() - t0) / 1e9)
        }
      spark.catalog.clearCache()
      out
    }

    // warm every gate shape once at the smallest sf (codegen/JIT)
    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).isDirectory) d else refDir
    }
    gates.foreach { case (n, fn) =>
      try { fn(spark, warmDir).count(); () } catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    // ROUND-ALTERNATED measurement: rounds × (every gate once at each
    // scale). A timeout/failure removes the gate from later rounds.
    val refTimes = scala.collection.mutable.Map.empty[String, List[Double]]
    val sf1Times = scala.collection.mutable.Map.empty[String, List[Double]]
    val dead = scala.collection.mutable.Set.empty[String]
    for (r <- 1 to rounds) {
      gates.foreach { case (name, fn) =>
        if (!dead(name)) {
          timed(s"$name@ref$r", fn, refDir) match {
            case Some(t) => refTimes(name) = t :: refTimes.getOrElse(name, Nil)
            case None => dead += name
          }
        }
      }
      gates.foreach { case (name, fn) =>
        if (!dead(name)) {
          timed(s"$name@sf1r$r", fn, sf1Dir) match {
            case Some(t) => sf1Times(name) = t :: sf1Times.getOrElse(name, Nil)
            case None => dead += name
          }
        }
      }
      System.err.println(s"[spot] round $r/$rounds done")
    }
    // even-sized lists (a timeout killed one round) take the LOWER middle
    // element: size/2 would pin 2-round survivors at their WORST clean
    // reading (ADVICE r13)
    def median(xs: List[Double]): Option[Double] =
      if (xs.isEmpty) None else Some(xs.sorted.apply((xs.size - 1) / 2))
    def spread(xs: List[Double]): Option[Double] =
      if (xs.size < 2 || xs.min <= 0) None else Some(xs.max / xs.min)

    val results = gates.map { case (name, _) =>
      val tRef = median(refTimes.getOrElse(name, Nil))
      val t1 = median(sf1Times.getOrElse(name, Nil))
      val growth = for (a <- tRef; b <- t1) yield b / a
      System.err.println(s"[spot] $name ref=${tRef.map(num)} sf1=${t1.map(num)} " +
        s"growth=${growth.map(g => num(g) + "x")} " +
        s"spread=${spread(sf1Times.getOrElse(name, Nil)).map(s => num(s) + "x")}")
      (name, tRef, t1, growth, spread(sf1Times.getOrElse(name, Nil)))
    }

    // ---- baseline / deltas (growth is the machine-independent signal) ----
    // SPARK_GRAFT_SPOT_OUT names an alternate baseline/run file pair —
    // the sf10 decade probe (r15 verdict #6) pins into its own namespace
    // (BENCH_SPOT_sf10.json) instead of polluting the sf1 baseline
    val (baseFile, runFile) = sys.env.get("SPARK_GRAFT_SPOT_OUT") match {
      case Some(p) => (new java.io.File(p),
        new java.io.File(p.stripSuffix(".json") + "_RUN.json"))
      case None => (new java.io.File("BENCH_SPOT_sf1.json"),
        new java.io.File("BENCH_SPOT_RUN_sf1.json"))
    }
    // parsed, not passed through: the factor is interpolated into the
    // output JSON, so a non-numeric value must fail loudly HERE instead
    // of silently corrupting the baseline file (ADVICE r16 #4)
    val rowFactor = sys.env.getOrElse("SPARK_GRAFT_SPOT_FACTOR", "10").toInt
    val baseGrowth: Map[String, Double] =
      if (baseFile.isFile) {
        val txt = scala.io.Source.fromFile(baseFile).mkString
        // anchor on the per-gate {"sf01": shape (like the `prior` regex
        // below): an unanchored {...growth} match latched leftmost onto
        // the top-level "gates":{ wrapper, consuming the alphabetically
        // FIRST gate's entry — that gate was silently absent from
        // baseGrowth and its growth regressions never flagged
        """"([A-Za-z0-9_]+)":\{"sf01":[^}]*"growth":([0-9.Ee+-]+)""".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    val bootstrap = baseGrowth.isEmpty
    val outFile =
      if (bootstrap || refresh) baseFile
      else runFile

    val flags = results.flatMap { case (name, _, _, growth, _) =>
      for {
        g <- growth
        b <- baseGrowth.get(name)
        if b > 0 && g / b > 1.5 && !refresh && !bootstrap
      } yield {
        System.err.println(f"[spot] GROWTH REGRESSION $name: ${g}%.2fx vs " +
          f"baseline ${b}%.2fx (${g / b}%.2fx worse)")
        s"""{"gate":"$name","growth":${num(g)},"baseline":${num(b)},"ratio":${num(g / b)}}"""
      }
    }

    // merge with any prior chunk's entries in the TARGET file (latest wins)
    val prior: Seq[(String, String)] =
      if (outFile.isFile) {
        val txt = scala.io.Source.fromFile(outFile).mkString
        """"([A-Za-z0-9_]+)":(\{"sf01":[^}]*\})""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toSeq
      } else Nil
    val fresh = results.map { case (n, tRef, t1, g, sp) =>
      def v(o: Option[Double]) = o.map(num).getOrElse("\"timeout\"")
      n -> (s"""{"sf01":${v(tRef)},"sf1":${v(t1)},"growth":${v(g)}""" +
        sp.map(s => s""","sf1_spread":${num(s)}""").getOrElse("") + "}")
    }
    val merged = (prior.toMap ++ fresh.toMap).toSeq.sortBy(_._1)
    val gatesJson = merged.map { case (n, b) => s""""$n":$b""" }
      .mkString("{", ",", "}")
    val flagsJson = flags.mkString("[", ",", "]")
    val json =
      s"""{"metric":"spot","unit":"sec","timeout_sec":$timeoutSec,""" +
        s""""rounds":$rounds,"row_factor":$rowFactor,"sf1_dir":"$sf1Dir",""" +
        s""""flags":$flagsJson,"gates":$gatesJson}"""
    java.nio.file.Files.write(outFile.toPath,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // never-seen gates ADOPT into the pinned baseline (the sf0.1 bench
    // policy applied at sf1): a non-refresh run never touches an existing
    // baseline entry, but a brand-new gate has no pin to regress against,
    // so its first clean growth reading becomes the pin
    if (!bootstrap && !refresh) {
      // only CLEAN readings adopt (a timeout/failure entry would both
      // violate "first clean growth reading becomes the pin" and stay
      // invisible to baseGrowth's numeric-growth regex forever)
      val cleanNames = results.collect {
        case (n, Some(_), Some(_), Some(_), _) => n }.toSet
      val newcomers = fresh.filter { case (n, _) =>
        cleanNames(n) && !baseGrowth.contains(n) }
      if (newcomers.nonEmpty) {
        // splice ONLY the gates object into the existing baseline text —
        // the header (timeout_sec/rounds/sf1_dir/flags) keeps describing
        // the conditions the EXISTING pins were measured under
        val txt = scala.io.Source.fromFile(baseFile).mkString
        val basePrior = """"([A-Za-z0-9_]+)":(\{"sf01":[^}]*\})""".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toSeq
        val mergedBase = (basePrior.toMap ++ newcomers.toMap).toSeq.sortBy(_._1)
          .map { case (n, b) => s""""$n":$b""" }.mkString("{", ",", "}")
        val cut = txt.indexOf("\"gates\":")
        require(cut >= 0, "spot baseline has no gates object")
        val baseJson = txt.substring(0, cut) + "\"gates\":" + mergedBase + "}"
        java.nio.file.Files.write(baseFile.toPath,
          baseJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[spot] adopted ${newcomers.size} never-seen " +
          s"gate(s) into the pinned baseline: ${newcomers.map(_._1).mkString(", ")}")
      }
    }
    spark.stop()
    println(json)
  }
}
