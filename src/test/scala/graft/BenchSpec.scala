package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's output-file policy and its stdout contract line, as pure
  * functions: where a run's timings land, what it merges into the pinned
  * baseline, and the exact bytes of the line its reader parses. */
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
