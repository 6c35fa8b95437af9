package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.sources.mem.WireJson

/** ANN recall at scale (r14 verdict #5): the sim_lsh_recall /
  * sim_ivf_topk gates prove recall mechanics on 10-query fixtures; this
  * probe measures recall@k for the IVF and LSH top-k paths on the
  * GenScale-staged sf1 embeddings corpus (20k × 64d at factor 10)
  * against the brute-force ranking over a larger sampled query set, and
  * PINS (recall, runtime) the way sf1 growth is pinned.
  *
  * Reading the numbers: the staged embeddings are ISOTROPIC unit
  * vectors (no cluster structure), the adversarial case for ANN — a
  * single-table sign-LSH with p planes finds an angle-θ neighbor with
  * probability (1 − θ/π)^p, so its absolute recall here is LOW by
  * geometry, not by defect (production corpora have cluster structure;
  * the banded multi-table forms in cosinePairsLsh exist precisely
  * because single-table recall decays like this). The pin's job is
  * REGRESSION DETECTION in the candidate machinery: recall dropping
  * below max(pinned − 0.05, pinned/2) flags — the relative arm keeps
  * the floor meaningful for low-recall methods (a pin of 0.032 would
  * make an absolute −0.05 unreachable; ADVICE r15 #1). Methods with an
  * ABSOLUTE floor in `absFloor` (accuracy-contract configs, r15 verdict
  * #7) additionally flag below it regardless of the pin, so re-pins
  * can never ratchet the contract downward. Runtime is recorded and a
  * >2× drift prints a NOTE only — wall time is machine-dependent here
  * and is adjudicated by the bench harness, not this probe.
  *
  * usage: runMain graft.tools.RecallProbe [sf1Dir] [nQueries] [k]
  * SPARK_GRAFT_REFRESH_RECALL=1 re-pins (required after GenScale changes).
  */
object RecallProbe {
  private def num(v: Double): String = Measure.num(v, 4)

  /** Per-method ABSOLUTE recall floors (r15 verdict #7). These are
    * accuracy contracts, not regression pins: a config listed here is
    * the one a user is told to reach for, and it must hold its floor on
    * the adversarial isotropic corpus no matter how the pin file moves.
    * The exploratory single-probe configs (ivf_n64_p*, lsh_p*) are
    * deliberately absent — their job is candidate-machinery regression
    * detection, with geometry-decayed recall documented in the scaladoc. */
  private val absFloor: Map[String, Double] = Map(
    // the recommended operating point ([[graft.functions.Similarity
    // .annTopK]] routes here): measured 0.974 at sf1, contract ≥0.9
    "ivf_n64_p48" -> 0.9,
    // the documented rerank config (r16 verdict #5): measured 0.888 at
    // sf1 — BELOW plain IVF at the same nprobe because the ADC
    // shortlist bounds coverage; the floor pins that documented level
    // so "exact re-rank" can never silently decay further
    "ivfpq_rerank_p48" -> 0.85)

  /** The pinned (recall, seconds) of every method in a recall file. */
  private[graft] def pins(file: Map[String, Any]): Map[String, (Double, Double)] =
    Measure.obj(file.getOrElse("methods", Map.empty)).flatMap { case (name, m) =>
      val fields = Measure.obj(m)
      for (Measure.Num(r) <- fields.get("recall"); Measure.Num(s) <- fields.get("sec"))
        yield name -> (r, s)
    }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val nQ = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 10
    val refresh = sys.env.get("SPARK_GRAFT_REFRESH_RECALL").contains("1")
    val spark = graft.SparkEntry.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.where(col("vec_id") < nQ)

    // min-of-3 like Bench: single-shot timings swung 3× between
    // adjacent methods in the r15 artifact (JIT/page-cache order effects)
    // — the recall number needs one run, the RUNTIME needs the min. Each
    // pass drops the previous pass's cached result first (a plan that is
    // still cached would be read, not computed); the last one is scored.
    def timed(fn: => DataFrame): (DataFrame, Double) = {
      var out: DataFrame = null
      val best = Measure.bestOf3 {
        if (out != null) out.unpersist()
        out = fn.cache()
        out.count()
        true
      }.get
      (out, best)
    }

    val (brute, bruteSec) = timed(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k))
    val truth = brute.select(col("query_id"), col("neighbor_id"))

    def recallOf(approx: DataFrame): Double = {
      // average over queries of |approx ∩ brute| / k — queries whose
      // approx set is EMPTY still divide by k (they contribute 0)
      val hit = truth.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")).groupBy(col("query_id"))
        .agg(count(lit(1)).as("hits"))
      // coalesce: zero true-positive hits yields a NULL sum, which is
      // exactly the case for a collapsed low-recall method (ADVICE r15 #2)
      val totalHits =
        hit.agg(coalesce(sum(col("hits")), lit(0L))).head().getLong(0)
      totalHits.toDouble / (nQ.toLong * k)
    }

    // every IVF setting shares ONE registered index build (the production
    // shape — the index is built once, probed at any nprobe), so the
    // per-method timings measure the PROBE, not k-means training. The
    // nprobe SWEEP (r15 verdict #2c) is the recall/runtime curve a user
    // picks an operating point from; the PQ+rerank rows show the
    // compressed-scan + exact-rerank stage at the same coverage.
    val ivfKeyName = s"recallprobe#$dir"
    val ivfKey = Some(ivfKeyName)
    val ivfIdx = Similarity.ivfBuildOrGet(ivfKeyName, emb,
      "vec_id", "embedding", nlist = 64)
    // PQ at the FAISS-standard ksub=256 (8-bit codes): the gate-sized
    // ksub=16 codes are 4-bit — on the isotropic corpus their ADC
    // ordering is too coarse for a shortlist (measured 0.18 recall at
    // cMult=4 even probing 48 cells); 8-bit codes + a 20·k shortlist
    // recover the coverage bound
    val pqIdx = Similarity.pqBuildOrGet(s"$ivfKeyName#pq256", emb,
      "vec_id", "embedding", m = 8, ksub = 256)
    val methods =
      Seq(4, 8, 16, 32, 48).map { p =>
        (s"ivf_n64_p$p", () => Similarity.ivfTopK(emb, queries, "vec_id",
          "embedding", k, nlist = 64, nprobe = p, indexKey = ivfKey))
      } ++ Seq(
      ("ivfpq_rerank_p16", () => Similarity.ivfPqRerankTopK(ivfIdx, pqIdx,
        emb, queries, "vec_id", "embedding", k, nprobe = 16, cMult = 20)),
      ("ivfpq_rerank_p48", () => Similarity.ivfPqRerankTopK(ivfIdx, pqIdx,
        emb, queries, "vec_id", "embedding", k, nprobe = 48, cMult = 20)),
      ("lsh_p4", () => Similarity.lshTopK(emb, queries, "vec_id",
        "embedding", k, nPlanes = 4)),
      ("lsh_p8", () => Similarity.lshTopK(emb, queries, "vec_id",
        "embedding", k, nPlanes = 8)),
      ("lsh_mp_p8_f6", () => Similarity.lshMultiProbeTopK(emb, queries,
        "vec_id", "embedding", k, nPlanes = 8, nFlips = 6)))

    val results = methods.map { case (name, fn) =>
      val (df, sec) = timed(fn())
      val r = recallOf(df)
      df.unpersist()
      System.err.println(f"[recall] $name recall@$k = $r%.4f in $sec%.2fs " +
        f"(brute $bruteSec%.2fs)")
      (name, r, sec)
    }
    brute.unpersist(); emb.unpersist()

    val baseFile = new java.io.File("RECALL_sf1.json")
    val base = pins(Measure.readPin(baseFile))
    var flags = List.empty[String]
    // Absolute accuracy floors (r15 verdict #7): methods carrying a user
    // contract flag below these regardless of what the pin drifts to.
    results.foreach { case (name, r, _) =>
      absFloor.get(name).filter(r < _).foreach { fl =>
        flags ::= s"$name recall ${num(r)} < absolute floor ${num(fl)}"
        System.err.println(s"[recall] FLAG ${flags.head}")
      }
    }
    if (base.nonEmpty && !refresh) {
      results.foreach { case (name, r, sec) =>
        base.get(name).foreach { case (br, bs) =>
          val floor = math.max(br - 0.05, br * 0.5)
          if (r < floor) {
            flags ::= s"$name recall ${num(r)} < floor ${num(floor)} " +
              s"(= max(pinned ${num(br)} - 0.05, pinned/2))"
            System.err.println(s"[recall] FLAG ${flags.head}")
          }
          if (bs > 0 && sec / bs > 2.0)
            System.err.println(f"[recall] runtime note: $name ${sec}%.2fs vs " +
              f"pinned ${bs}%.2fs (machine-dependent — growth not normalized)")
        }
      }
    }
    val body = results.map { case (nm, r, s) =>
      s""""$nm":{"recall":${num(r)},"sec":${num(s)}}""" }.mkString(",")
    val json = s"""{"metric":"recall","dir":"$dir","n_vectors":$n,""" +
      s""""n_queries":$nQ,"k":$k,"brute_sec":${num(bruteSec)},""" +
      s""""flags":${flags.map(WireJson.q).mkString("[", ",", "]")},""" +
      s""""methods":{$body}}"""
    val outFile = if (base.isEmpty || refresh) baseFile
      else new java.io.File("RECALL_RUN_sf1.json")
    java.nio.file.Files.writeString(outFile.toPath, json)
    spark.stop()
    println(json)
    if (flags.nonEmpty) sys.exit(1)
  }
}
