package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Measure, PlanAudit, RecallProbe, SpotBench}
import graft.tools.SpotBench.Reading

/** The pinned measurement files, read through the one JSON reader
  * ([[graft.sources.mem.WireJson]] via [[Measure.readPin]]), and the
  * policies built on them: SpotBench's output file, growth flags and
  * newcomer adoption, PlanAudit's verdict against its baseline, and the
  * min-of-3 timed pass and gate-name selection every tool shares. */
class PinFileSpec extends AnyFunSuite {
  private def md5(lines: Iterable[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def pin(file: String): Map[String, Any] = {
    assert(new java.io.File(file).isFile, s"$file is not in the working directory")
    Measure.readPin(new java.io.File(file))
  }

  // Entry count and md5 of the sorted "key=value" lines that the per-tool
  // regex readers returned on the committed files, before every tool read
  // them as JSON (an entry's value is its raw text for `spot-entries`).
  private val expected = Seq(
    ("bench", "BENCH_LOCAL_sf0.1.json", 249, "0c07f5204c2f8509bb0a5512d64cfb62"),
    ("bench", "BENCH_LOCAL_sf0.001.json", 249, "a646a664913de740f0296886fb018099"),
    ("spot-growth", "BENCH_SPOT_sf1.json", 65, "f25a69b955e199cb72eeb1a38b6e8567"),
    ("spot-entries", "BENCH_SPOT_sf1.json", 65, "323b601cdc98ee01c75df40a4246b95c"),
    ("spot-growth", "BENCH_SPOT_sf10.json", 46, "32103fb933d0371093e32a657d34d98d"),
    ("spot-entries", "BENCH_SPOT_sf10.json", 46, "b0ab69143c9dd6c9b13a01db94a684d3"),
    ("spot-growth", "BENCH_SPOT_sf100.json", 2, "3c135d515c56172c62f57d979e64f159"),
    ("spot-entries", "BENCH_SPOT_sf100.json", 3, "c5bfe7b2b8ecd0183546cdff89795aac"),
    ("spot-growth", "BENCH_SPOT_RUN_sf1.json", 49, "c882c0327427937bfa28a304efabd298"),
    ("spot-entries", "BENCH_SPOT_RUN_sf1.json", 50, "10b2f0aaf8e4b4d675df231b94174bd4"),
    ("spot-growth", "BENCH_SPOT_RUN_sf10.json", 41, "563acb771efe29b65c326bd3543a9794"),
    ("spot-entries", "BENCH_SPOT_RUN_sf10.json", 41, "f0c1ad377016b27cbdbd1fd7595832d3"),
    ("recall", "RECALL_sf1.json", 10, "61646e85936f60fcc9a6eaa380d1b077"),
    // sf_dir plus one line per (gate, count): 199 gates x 13 counts
    ("plan", "PLAN_BASELINE.json", 2588, "3b63c7fc244c877b7f4c7efd97410f03"),
    ("plan", "PLAN_BASELINE_sf0_1.json", 2588, "5f01c3ecdcdd857d479f3a21403a96d6"))

  private def lines(reader: String, file: String): Seq[String] = reader match {
    case "bench" =>
      Bench.readBaseline(new java.io.File(file)).toSeq.map { case (k, v) => s"$k=$v" }
    case "spot-growth" =>
      SpotBench.growthPins(SpotBench.readings(pin(file))).toSeq.map { case (k, v) => s"$k=$v" }
    case "spot-entries" =>
      SpotBench.readings(pin(file)).toSeq.map { case (k, r) => s"$k=${r.json}" }
    case "recall" =>
      RecallProbe.pins(pin(file)).toSeq.map { case (k, (r, s)) => s"$k=$r,$s" }
    case "plan" =>
      val (sf, gates) = PlanAudit.parseGates(Files.readString(java.nio.file.Paths.get(file)))
      s"sf_dir=$sf" +: gates.toSeq.flatMap { case (g, kv) =>
        if (kv.isEmpty) Seq(s"$g=") else kv.toSeq.map { case (k, v) => s"$g.$k=$v" } }
  }

  test("every committed pin file reads to the entries its regex reader returned") {
    expected.foreach { case (reader, file, n, digest) =>
      val got = lines(reader, file)
      assert(got.size === n, s"$reader entries of $file")
      assert(md5(got) === digest, s"$reader entries of $file")
    }
    // spot-checks in the open
    assert(Bench.readBaseline(new java.io.File("BENCH_LOCAL_sf0.1.json"))("_basket_q3_shipping")
      === 0.90188008)
    assert(SpotBench.readings(pin("BENCH_SPOT_sf100.json"))("dedup_jaccard_prefix") ===
      Reading(Some(46.26), None, None, None))
    assert(Bench.readBaseline(new java.io.File("BENCH_LOCAL_absent.json")) === Map.empty)
  }

  test("the spot files follow the staged dir's name; bootstrap or refresh writes the baseline") {
    def out(dir: String, bootstrap: Boolean = false, refresh: Boolean = false) =
      SpotBench.outFileName(dir, bootstrap, refresh)
    assert(out("/tmp/graft_sf10") === "BENCH_SPOT_RUN_sf10.json")
    assert(out("/tmp/graft_sf10", bootstrap = true) === "BENCH_SPOT_sf10.json")
    assert(out("/tmp/graft_sf10", refresh = true) === "BENCH_SPOT_sf10.json")
    assert(out("/tmp/graft_sf1/") === "BENCH_SPOT_RUN_sf1.json")
    assert(out("/tmp/graft_sf100", bootstrap = true, refresh = true) === "BENCH_SPOT_sf100.json")
    assert(out("/root/testdata/sf0.01", bootstrap = true) === "BENCH_SPOT_sf0.01.json")
  }

  private def reading(sf01: Double, sf1: Double) =
    Reading(Some(sf01), Some(sf1), Some(sf1 / sf01), Some(1.1))
  private val timeout = Reading(Some(2.0), None, None, None)

  test("a gate flags above a growth ratio of 1.5; timeouts never flag; a re-pin run never flags") {
    val pins = Map("a" -> 2.0, "b" -> 2.0, "c" -> 2.0)
    val results = Seq("a" -> reading(1.0, 3.0), "b" -> reading(1.0, 3.02),
      "c" -> timeout, "new" -> reading(1.0, 50.0))
    // a: exactly 1.5x its pin, not above; c timed out; new has no pin
    assert(SpotBench.growthFlags(results, pins, repin = false).map(_._1) === Seq("b"))
    val (_, g, b, r) = SpotBench.growthFlags(results, pins, repin = false).head
    assert((g, b) === ((3.02, 2.0)) && math.abs(r - 1.51) < 1e-9)
    assert(SpotBench.growthFlags(results, pins, repin = true) === Nil)
    // a "timeout" pin is no pin: the gate never flags against it
    val sf100 = SpotBench.readings(pin("BENCH_SPOT_sf100.json"))
    val pins100 = SpotBench.growthPins(sf100)
    assert(pins100.keySet === Set("dedup_exact", "dedup_neardup_default"))
    assert(SpotBench.growthFlags(Seq("dedup_jaccard_prefix" -> reading(1.0, 99.0)),
      pins100, repin = false) === Nil)
  }

  test("adoption adds only never-seen clean gates; the header and every existing entry stay") {
    val tmp = Files.createTempFile("spot-baseline", ".json")
    try {
      Files.copy(java.nio.file.Paths.get("BENCH_SPOT_sf1.json"), tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val before = Files.readString(tmp)
      val fresh = reading(0.5, 2.0)
      val results = Seq(
        "corpus_cdc_chunks" -> reading(9.0, 99.0), // pinned: never re-pinned
        "zz_new_gate" -> fresh, // never seen, clean: adopts
        "zz_timed_out" -> timeout) // never seen, not clean: does not
      val (after, adopted) = SpotBench.adopt(before, results).get
      assert(adopted === Seq("zz_new_gate"))
      Files.writeString(tmp, after)
      // the new entry sorts last: without it the file is the old one, byte
      // for byte — header, flags and all 65 existing entries
      val entry = s""","zz_new_gate":${fresh.json}"""
      assert(after.contains(entry))
      assert(after.replace(entry, "") === before)
      val reread = SpotBench.readings(Measure.readPin(tmp.toFile))
      assert(reread.size === 66 && reread("zz_new_gate").json === fresh.json)
      // nothing never-seen and clean: nothing adopts
      assert(SpotBench.adopt(before, results.filterNot(_._1 == "zz_new_gate")) === None)
    } finally Files.deleteIfExists(tmp)
    // a gate whose pin is "timeout" has no growth pin: its first clean
    // reading adopts over it, a second timeout does not
    val sf100 = Files.readString(java.nio.file.Paths.get("BENCH_SPOT_sf100.json"))
    assert(SpotBench.adopt(sf100, Seq("dedup_jaccard_prefix" -> timeout)) === None)
    assert(SpotBench.adopt(sf100, Seq("dedup_jaccard_prefix" -> reading(46.0, 400.0)))
      .map(_._2) === Some(Seq("dedup_jaccard_prefix")))
  }

  test("PlanAudit: a drifted, a missing and an error gate fail with the same lines as before") {
    def sig(h: Int, s: Int) = Right(Seq("exchange_hash" -> h, "cartesian" -> 0, "scans" -> s))
    val base = Seq("a" -> sig(1, 2), "b" -> sig(0, 1), "c" -> sig(2, 3), "e" -> sig(1, 1))
    val err = "boom \"quoted\" \\ back\nslash }"
    val cur = Seq("a" -> sig(2, 2), "c" -> Left(err), "d" -> sig(0, 0), "e" -> sig(1, 1))
    val sfDir = "/root/testdata/sf0.01"
    val audit = PlanAudit.renderJson(sfDir, cur)
    val (notes, drift) =
      PlanAudit.baselineDiff(sfDir, PlanAudit.renderJson(sfDir + "/", base), audit)
    assert(notes === Seq("NEW gate d (no baseline entry) - pin to adopt"))
    assert(PlanAudit.tripwires(cur) ++ drift === Seq(
      s"c: plan construction ERROR $err",
      "a: plan drift [exchange_hash 1->2]",
      "b: present in baseline, missing from audit",
      "c: plan drift [exchange_hash 2->0, scans 3->0]"))
    assert(PlanAudit.baselineDiff(sfDir, PlanAudit.renderJson("/root/testdata/sf0.1", base),
      audit) === ((Nil, Seq("baseline pinned at /root/testdata/sf0.1, audit ran at " +
        "/root/testdata/sf0.01 - not comparable"))))
    // the error text is escaped into valid JSON, truncated first
    assert(audit.contains("\"c\": {\"error\": \"boom \\\"quoted\\\" \\\\ back\\u000aslash }\"}"))
    assert(PlanAudit.tripwires(Seq("x" -> Right(Seq("cartesian" -> 1)))) ===
      Seq("x: CartesianProduct in plan (tripwire)"))
  }

  test("bestOf3: min of the good passes; a failed first pass is not re-timed") {
    var passes = 0
    var afters = 0
    def run(ok: Int => Boolean, sleepMs: Int => Long) = {
      passes = 0; afters = 0
      Measure.bestOf3({ passes += 1; Thread.sleep(sleepMs(passes)); ok(passes) }, afters += 1)
    }
    assert(run(_ => false, _ => 0).isEmpty)
    assert(passes === 1 && afters === 1)
    // pass 2 is the fastest but failed: the min is pass 3's
    val best = run(_ != 2, Map(1 -> 500L, 2 -> 0L, 3 -> 100L)).get
    assert(passes === 3 && afters === 3)
    assert(best >= 0.1 && best < 0.5, s"best of passes 1 and 3: $best")
    assert(run(_ == 1, _ => 0).isDefined, "one good pass is enough")
  }

  test("gateNames: trimmed, empties dropped, each once; unknown or no names fail") {
    val known = Set("q1_agg", "s23_wire_cursor")
    assert(Measure.gateNames(" s23_wire_cursor,,q1_agg , s23_wire_cursor,", known) ===
      Seq("s23_wire_cursor", "q1_agg"))
    val typo = intercept[IllegalArgumentException](Measure.gateNames("q1_agg,q1_agq", known))
    assert(typo.getMessage.contains("unknown gates: q1_agq"))
    intercept[IllegalArgumentException](Measure.gateNames(" , ", known))
    // the tools check against every gate they can run
    assert(Measure.gateNames("q1_agg", SparkEntry.queries.contains) === Seq("q1_agg"))
  }

  test("numbers are written locale-independently") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Measure.num(1234.5678, 3) === "1234.568")
      assert(Measure.num(0.5, 2) === "0.50")
    } finally java.util.Locale.setDefault(saved)
  }
}
