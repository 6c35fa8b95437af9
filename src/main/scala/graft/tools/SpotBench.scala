package graft.tools

import graft.sources.mem.WireJson

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
  * sf1): the committed BENCH_SPOT_<sf>.json is the baseline, <sf> named
  * by the sf1 dir (`/tmp/graft_sf10` pins BENCH_SPOT_sf10.json). A run
  * with no baseline (or SPARK_GRAFT_REFRESH_SPOT=1 — required after a
  * GenScale change, which redefines the staged corpus) writes it;
  * otherwise results land in BENCH_SPOT_RUN_<sf>.json with a deltas block
  * of growth-ratio ratios vs baseline, flagging > 1.5× on stderr —
  * growth is a same-machine quotient, so machine speed divides out.
  *
  * Also measures `dedup_containment` BEFORE the r12 prefix filter
  * (containmentPairsBrute, same planted-fragment gate shape) against the
  * shipped form, at both scales.
  *
  * usage: runMain graft.tools.SpotBench [sf1Dir] [refDir]
  * SPARK_GRAFT_SPOT_TIMEOUT (seconds per run, default 360) and
  * SPARK_GRAFT_SPOT_ROUNDS (default 3) set the run conditions the header
  * records; the sf100 pin used 900 s and 2 rounds.
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

  private def num(v: Double): String = Measure.num(v, 3)

  /** BENCH_SPOT_<sf>.json, the pinned baseline, which a bootstrap (no
    * baseline yet) or a refresh writes; BENCH_SPOT_RUN_<sf>.json, which
    * any other run writes. <sf> is the staged dir's name without the
    * `graft_` of the `graft_sfN` convention ([[GenScale.ensureStaged]]). */
  private[graft] def outFileName(sf1Dir: String, bootstrap: Boolean,
      refresh: Boolean): String = {
    val sf = new java.io.File(sf1Dir).getName.stripPrefix("graft_")
      .replaceAll("[^A-Za-z0-9.]", "_")
    if (bootstrap || refresh) s"BENCH_SPOT_$sf.json" else s"BENCH_SPOT_RUN_$sf.json"
  }

  /** One gate's reading: median seconds at the reference and the staged
    * dir, their quotient and the staged dir's max/min spread. None is a
    * timeout or failure, written as "timeout". */
  private[graft] final case class Reading(sf01: Option[Double], sf1: Option[Double],
      growth: Option[Double], spread: Option[Double]) {
    def json: String = {
      def v(o: Option[Double]) = o.map(num).getOrElse("\"timeout\"")
      s"""{"sf01":${v(sf01)},"sf1":${v(sf1)},"growth":${v(growth)}""" +
        spread.map(s => s""","sf1_spread":${num(s)}""").getOrElse("") + "}"
    }
  }

  /** The per-gate readings of a spot file's `gates` object. */
  private[graft] def readings(file: Map[String, Any]): Map[String, Reading] =
    Measure.obj(file.getOrElse("gates", Map.empty)).map { case (gate, e) =>
      val m = Measure.obj(e)
      def d(k: String) = m.get(k).collect { case Measure.Num(v) => v }
      gate -> Reading(d("sf01"), d("sf1"), d("growth"), d("sf1_spread"))
    }

  /** The pinned growth of every baseline gate that has one: a timeout
    * entry pins nothing, so it never flags and a later clean reading
    * adopts over it. */
  private[graft] def growthPins(base: Map[String, Reading]): Map[String, Double] =
    base.collect { case (g, Reading(_, _, Some(growth), _)) => g -> growth }

  /** (gate, growth, pinned growth, ratio) of every gate whose growth is
    * more than 1.5× its pin; none on a bootstrap or refresh run, which
    * re-pins instead. */
  private[graft] def growthFlags(results: Seq[(String, Reading)],
      pins: Map[String, Double], repin: Boolean): Seq[(String, Double, Double, Double)] =
    if (repin) Nil
    else results.flatMap { case (name, r) =>
      for {
        g <- r.growth
        b <- pins.get(name)
        if b > 0 && g / b > 1.5
      } yield (name, g, b, g / b)
    }

  /** The gates object of a spot file, keys sorted. */
  private[graft] def gatesJson(gates: Map[String, Reading]): String =
    gates.toSeq.sortBy(_._1).map { case (n, r) => s""""$n":${r.json}""" }
      .mkString("{", ",", "}")

  /** Never-seen gates ADOPT into the pinned baseline (the sf0.1 bench
    * policy applied at sf1): a non-refresh run never touches an existing
    * baseline entry, but a brand-new gate has no pin to regress against,
    * so its first CLEAN growth reading becomes the pin. Returns the new
    * baseline text and the adopted gates, or None when nothing adopts.
    * Only the gates object is rewritten: the header (timeout_sec, rounds,
    * sf1_dir, flags) keeps describing the conditions the EXISTING pins
    * were measured under. */
  private[graft] def adopt(baseText: String,
      results: Seq[(String, Reading)]): Option[(String, Seq[String])] = {
    val base = readings(Measure.obj(WireJson.parse(baseText)))
    val pins = growthPins(base)
    // a run's growth exists only when both of its scales read clean
    val newcomers = results.filter { case (n, r) => r.growth.isDefined && !pins.contains(n) }
    if (newcomers.isEmpty) None
    else {
      val cut = baseText.indexOf("\"gates\":")
      require(cut >= 0, "spot baseline has no gates object")
      Some((baseText.substring(0, cut) + "\"gates\":" + gatesJson(base ++ newcomers) + "}",
        newcomers.map(_._1)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sf1Dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SPOT_TIMEOUT", "360").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SPOT_ROUNDS", "3").toInt
    // the pre-r12 containment form, in the gate's exact planted shape —
    // the "before" of the r11 verdict's scale-killer fix
    val containmentBrute: Measure.Gate =
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

    val allGates: Seq[(String, Measure.Gate)] =
      (top10 ++ dedupFamily ++ newOps ++ starOps ++ streamOps).distinct.map(n => n -> graft.SparkEntry.queries(n)) :+
        ("dedup_containment_brute" -> containmentBrute)
    // SPARK_GRAFT_SPOT_ONLY=a,b,... — run a chunk; results MERGE into the
    // output file so the sweep can run in bounded slices
    val gates = sys.env.get("SPARK_GRAFT_SPOT_ONLY") match {
      case Some(list) =>
        val names = Measure.gateNames(list, allGates.map(_._1).contains).toSet
        allGates.filter { case (n, _) => names(n) }
      case None => allGates
    }

    val refresh = sys.env.get("SPARK_GRAFT_REFRESH_SPOT").contains("1")
    val spark = graft.SparkEntry.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // self-staging (r18 verdict #6): the GenScale corpora live in tmpfs —
    // re-stage on miss instead of failing a cold-start run. Applies to
    // both dirs when they follow the /tmp/graft_sfN convention (the sf10
    // decade probe passes refDir=/tmp/graft_sf1).
    Seq(sf1Dir, refDir).filter(_.contains("graft_sf"))
      .foreach(GenScale.ensureStaged(spark, _))

    /** run body with a hard timeout; cancel the job group on expiry.
      * Some(seconds) on success, None on timeout/error (logged). */
    def timed(tag: String, fn: Measure.Gate, dir: String): Option[Double] = {
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

    Measure.warmUp(spark, "spot", gates, Measure.warmDir(refDir))

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
      val sp = spread(sf1Times.getOrElse(name, Nil))
      System.err.println(s"[spot] $name ref=${tRef.map(num)} sf1=${t1.map(num)} " +
        s"growth=${growth.map(g => num(g) + "x")} spread=${sp.map(s => num(s) + "x")}")
      name -> Reading(tRef, t1, growth, sp)
    }

    // ---- baseline / deltas (growth is the machine-independent signal) ----
    val baseFile = new java.io.File(outFileName(sf1Dir, bootstrap = true, refresh))
    val pins = growthPins(readings(Measure.readPin(baseFile)))
    val bootstrap = pins.isEmpty
    val outFile = new java.io.File(outFileName(sf1Dir, bootstrap, refresh))

    val flagsJson = growthFlags(results, pins, bootstrap || refresh).map { case (name, g, b, r) =>
      System.err.println(f"[spot] GROWTH REGRESSION $name: ${g}%.2fx vs " +
        f"baseline ${b}%.2fx (${r}%.2fx worse)")
      s"""{"gate":"$name","growth":${num(g)},"baseline":${num(b)},"ratio":${num(r)}}"""
    }.mkString("[", ",", "]")

    // merge with any prior chunk's entries in the TARGET file (latest wins)
    val prior = readings(Measure.readPin(outFile))
    // row_factor: every staged dir is GenScale's sources at 10x the rows
    val json =
      s"""{"metric":"spot","unit":"sec","timeout_sec":$timeoutSec,""" +
        s""""rounds":$rounds,"row_factor":10,"sf1_dir":"$sf1Dir",""" +
        s""""flags":$flagsJson,"gates":${gatesJson(prior ++ results)}}"""
    java.nio.file.Files.writeString(outFile.toPath, json)

    if (!bootstrap && !refresh)
      adopt(java.nio.file.Files.readString(baseFile.toPath), results).foreach {
        case (baseJson, adopted) =>
          java.nio.file.Files.writeString(baseFile.toPath, baseJson)
          System.err.println(s"[spot] adopted ${adopted.size} never-seen " +
            s"gate(s) into the pinned baseline: ${adopted.mkString(", ")}")
      }
    spark.stop()
    println(json)
  }
}
