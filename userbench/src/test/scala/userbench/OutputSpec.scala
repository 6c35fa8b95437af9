package userbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class OutputSpec extends AnyFunSuite {
  private val Name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val Unit_ = "[A-Za-z0-9_/%.-]{1,16}".r

  test("metric names and units are valid and used once") {
    val all = Main.EndToEnd ++ Main.PerLayer
    all.foreach { case (n, u) =>
      assert(Name.matches(n), n)
      assert(Unit_.matches(u), s"$n: $u")
    }
    assert(all.map(_._1).distinct.length === all.length)
  }

  test("the result line parses and carries every metric with its unit") {
    val metrics = Main.EndToEnd.zipWithIndex.map { case ((n, _), i) => n -> (i + 0.125) }
    val line = Main.resultLine(correct = true, attempted = 100, failed = 0, metrics)
    assert(!line.contains("\n"))
    val JObject(fields) = parse(line)
    assert(fields.map(_._1) === List("correct", "attempted", "failed", "metrics"))
    assert(parse(line) \ "correct" === JBool(true))
    assert(parse(line) \ "attempted" === JInt(100))
    val JObject(ms) = parse(line) \ "metrics"
    assert(ms.map(_._1) === Main.EndToEnd.map(_._1).toList)
    ms.zip(Main.EndToEnd).foreach { case ((_, v), (_, unit)) =>
      assert((v \ "unit") === JString(unit))
      assert((v \ "value").isInstanceOf[JDouble])
    }
  }

  test("a non-finite value is refused rather than printed") {
    assertThrows[IllegalArgumentException](Main.resultLine(true, 1, 0, Seq("op_ms_p50" -> Double.NaN)))
  }

  test("BENCHMARK.json lists exactly the metrics the runner prints and names a held-out seed") {
    val src = scala.io.Source.fromFile(new java.io.File("..", "BENCHMARK.json"))
    val spec = try parse(src.mkString) finally src.close()
    def pairs(key: String) = (spec \ key).children.map(m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s))
    assert(pairs("end_to_end") === Main.EndToEnd.toList)
    assert(pairs("per_layer") === Main.PerLayer.toList)
    val workloads = (spec \ "workloads").children.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(workloads.nonEmpty && workloads.forall(Main.Workloads.contains))
    assert((spec \ "workloads").children.exists(w =>
      (w \ "why").asInstanceOf[JString].s.matches("(?i).*held-out seed \\d+.*")))
  }
}
