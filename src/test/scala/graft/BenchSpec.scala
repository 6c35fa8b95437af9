package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure
import graft.tools.Measure.num

/** Bench's output-file policy, regression flags and stdout contract
  * line, as pure functions: where a run's timings land, what it merges
  * into the pinned baseline, which gates it flags, and the exact bytes of
  * the line its reader parses. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  test("a run's timings land in CONTENDED, PARTIAL, the baseline or FULL") {
    def out(noise: Double, partial: Boolean = false, bootstrap: Boolean = false,
        refresh: Boolean = false) = outFileName("sf0.1", noise, partial, bootstrap, refresh)
    // a contended run never touches the baseline, whatever else it is
    assert(out(2.5) === "BENCH_CONTENDED_sf0.1.json")
    assert(out(2.5, partial = true, bootstrap = true, refresh = true) ===
      "BENCH_CONTENDED_sf0.1.json")
    assert(!contended(2.0) && contended(2.01))
    assert(out(2.0) === "BENCH_FULL_sf0.1.json")
    assert(out(1.0, partial = true) === "BENCH_PARTIAL_sf0.1.json")
    assert(out(1.0, partial = true, refresh = true) === "BENCH_PARTIAL_sf0.1.json")
    assert(out(1.0, bootstrap = true) === "BENCH_LOCAL_sf0.1.json")
    assert(out(1.0, refresh = true) === "BENCH_LOCAL_sf0.1.json")
  }

  test("a clean run merges only never-seen entries; a partial refresh its selection") {
    val prev = Map("_basket_q3" -> 1.0, "a" -> 2.0)
    val basket = Seq("_basket_q3" -> 1.5, "_basket_new" -> 0.5)
    val healthy = Seq("a" -> 4.0, "b" -> 3.0)
    def merge(noise: Double = 1.0, partial: Boolean = false, refresh: Boolean = false,
        speed: Double = 2.0, p: Map[String, Double] = prev) =
      mergeCandidates(p, basket, healthy, noise, partial, refresh, speed)
    assert(merge() === Seq("_basket_new" -> 0.5, "b" -> 3.0))
    assert(merge(partial = true) === Seq("_basket_new" -> 0.5, "b" -> 3.0))
    assert(merge(partial = true, refresh = true) ===
      Seq("_basket_new" -> 0.5, "a" -> 4.0, "b" -> 3.0))
    // a full refresh rewrites the baseline as its out file instead
    assert(merge(refresh = true) === Nil)
    assert(merge(noise = 2.5) === Nil)
    assert(merge(speed = 0.0) === Nil)
    assert(merge(p = Map.empty) === Nil) // bootstrap
    // merged entries are scaled to the baseline machine, keys sorted
    assert(mergedJson(prev, merge(), 2.0) ===
      """{"_basket_new":0.25,"_basket_q3":1.0,"a":2.0,"b":1.5}""")
  }

  // q3_shipping and sim_brute_topk are basket gates; q1_pricing and
  // sim_lsh_topk share their kinds of work
  private val flagPrev = Map("_basket_q3_shipping" -> 1.0, "_basket_sim_brute_topk" -> 1.0,
    "q3_shipping" -> 1.0, "q1_pricing" -> 1.0, "sim_lsh_topk" -> 1.0, "text_x" -> 0.1)

  test("a gate of a slow basket gate's kind flags through the machine speed") {
    // a window where the float basket gate sim_brute_topk reads 2x slow
    // does not excuse sim_lsh_topk: the basket is no input to the flags,
    // and every gate, basket gates too, normalizes by the one speed
    val f = regressionFlags(flagPrev,
      Seq("sim_brute_topk" -> 2.0, "sim_lsh_topk" -> 2.0, "q1_pricing" -> 1.2), speedRatio = 1.2)
    assert(f.ratios.map(r => (r._1, num(r._4, 3))) ===
      Seq(("sim_lsh_topk", "1.667"), ("q1_pricing", "1.000")))
    assert(f.regressions.map(_._1) === Seq("sim_lsh_topk"))
  }

  test("the committed 4-core idle sweep flags 21 gates, the class rule's 18 among them") {
    def gateTimings(m: Map[String, Any]) = m.toSeq
      .collect { case (k, Measure.Num(v)) if !k.startsWith("_") => k -> v }.sortBy(_._1)
    val idle = Measure.readPin(new java.io.File("BENCH_IDLE_2026-10-20_c4.json"))
    val healthy = gateTimings(Measure.obj(idle("timings")))
    val prev = readBaseline(new java.io.File("BENCH_LOCAL_sf0.1.json"))
    assert(healthy.size === 242)
    val speed = rawRatioMedian(prev, healthy).get
    assert(num(speed, 4) === "0.7726")
    val flagged = regressionFlags(prev, healthy, speed).regressions.map(_._1)
    assert(flagged.toSet === Set("corpus_bpe_fertility", "corpus_bpe_pretrained",
      "corpus_split_safe", "corpus_stratified_sample", "dedup_containment",
      "dedup_edit_distance", "dedup_embedding_cosine_t90", "dedup_jaccard_prefix",
      "dedup_keep_best", "dedup_minhash_lsh", "dedup_neardup_default",
      "dedup_neardup_embeddings", "dedup_ngram_jaccard", "dedup_paragraphs",
      "dedup_semantic", "dedup_substring", "mm_jpeg_decode", "pipe_bpe_pretokenize",
      "s14_stream_dedup_watermark", "text_kneser_ney", "text_ngram_coverage"))
    val recorded = Measure.obj(idle("deltas"))("regressions").asInstanceOf[Seq[Any]]
      .map(r => Measure.obj(r)("query").toString)
    assert(recorded.size === 18 && recorded.toSet.subsetOf(flagged.toSet))
    assert(flagged.toSet -- recorded ===
      Set("dedup_semantic", "s14_stream_dedup_watermark", "mm_jpeg_decode"))
  }

  test("a gate under 0.5 s, or absent from the baseline, never flags") {
    val f = regressionFlags(flagPrev,
      Seq("text_x" -> 0.5, "new_gate" -> 9.0, "q1_pricing" -> 0.51), speedRatio = 0.1)
    // text_x is 50x its baseline but at 0.5 s; new_gate has no baseline
    assert(f.ratios.map(_._1) === Seq("text_x", "q1_pricing"))
    assert(f.regressions.map(_._1) === Seq("q1_pricing"))
    // the bound is strict: exactly 1.5x beyond the machine speed does not flag
    assert(regressionFlags(flagPrev, Seq("q1_pricing" -> 1.5), 1.0).regressions === Nil)
  }

  test("the BENCH_DELTAS regression JSON, byte for byte") {
    val f = regressionFlags(flagPrev,
      Seq("q1_pricing" -> 2.0, "sim_lsh_topk" -> 3.4567, "q3_shipping" -> 1.2), speedRatio = 1.0)
    // slowest first
    assert(f.regressionsJson ===
      """[{"query":"sim_lsh_topk","sec":3.457,"prev_sec":1.000,"ratio":3.46},""" +
        """{"query":"q1_pricing","sec":2.000,"prev_sec":1.000,"ratio":2.00}]""")
    assert(f.ratiosJson === """{"q1_pricing":2.00,"sim_lsh_topk":3.46,"q3_shipping":1.20}""")
    assert(regressionFlags(flagPrev, Nil, 1.0).regressionsJson === "[]")
  }

  private val summary = Summary(
    healthy = Seq("q2" -> 0.5, "q1" -> 1.23456), ran = 3, failed = 1, cal = 0.1234,
    noise = 1.0, speedRatio = 2.0, hasBaseline = true, sfTag = "sf0.1")

  test("the contract line, byte for byte") {
    assert(contractLine(summary) ===
      """{"metric":"total","value":1.735,"unit":"sec","cal_sec":0.123,""" +
        """"value_norm":0.867,"queries":{"q1":1.23,"q2":0.50},"n_ran":3,"failed":1,"sf":"sf0.1"}""")
    // noise shows above 1.2x only; no baseline, no normalized value; no
    // failures, no failed count
    assert(contractLine(summary.copy(noise = 1.5, hasBaseline = false, failed = 0)) ===
      """{"metric":"total","value":1.735,"unit":"sec","cal_sec":0.123,""" +
        """"queries":{"q1":1.23,"q2":0.50},"n_ran":3,"noise":1.50,"sf":"sf0.1"}""")
    assert(renderLine(summary, 1, 1) ===
      """{"metric":"total","value":1.735,"unit":"sec","cal_sec":0.123,""" +
        """"value_norm":0.867,"queries":{"q1":1.2},"omitted":1,"n_ran":3,"failed":1,"sf":"sf0.1"}""")
  }

  test("the contract line shrinks to 1900 chars: one decimal, then the slowest queries") {
    def many(n: Int, nameLen: Int) = summary.copy(failed = 0, ran = n,
      healthy = (0 until n).map(i => f"q$i%03d${"x" * nameLen}" -> (1.0 + i)))
    // fits at two decimals
    val small = contractLine(many(20, 10))
    assert(small.length <= MaxLine && small.contains("\"q019xxxxxxxxxx\":20.00"))
    // fits only at one decimal: every query kept
    val mid = many(80, 10)
    assert(renderLine(mid, 2, 80).length > MaxLine && renderLine(mid, 1, 80).length <= MaxLine)
    assert(contractLine(mid) === renderLine(mid, 1, 80))
    // fits only without the fastest queries: the most that fit, slowest first
    val big = many(200, 10)
    val line = contractLine(big)
    val kept = (10 until 200).find(k => renderLine(big, 1, k + 1).length > MaxLine).get
    assert(line === renderLine(big, 1, kept))
    assert(line.length <= MaxLine && line.contains(s""""omitted":${200 - kept}"""))
    assert(line.contains("\"q199xxxxxxxxxx\":200.0") && !line.contains("\"q000"))
    // never fewer than 10, even when 10 do not fit
    val huge = many(30, 400)
    assert(contractLine(huge) === renderLine(huge, 1, 10))
  }
}
