package userbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def s(id: Long, start: Double, end: Double, parent: Long = 1L, op: Int = 0, name: String = "x") =
    Span(id, name, start, end, parent, op)
  private val root = s(1, 0, 100, parent = 0L, name = "op")

  test("self time without children is the whole duration") {
    assert(Spans.selfTime(root, Nil) === 100.0)
  }

  test("nested children count each covered instant once") {
    assert(Spans.selfTime(root, Seq(s(2, 10, 40), s(3, 20, 30))) === 70.0)
  }

  test("overlapping children (parallel tasks) are merged, not summed") {
    assert(Spans.selfTime(root, Seq(s(2, 10, 40), s(3, 30, 60), s(4, 35, 45))) === 50.0)
  }

  test("children sticking out of the parent are clipped to it") {
    assert(Spans.selfTime(root, Seq(s(2, -10, 20), s(3, 90, 120), s(4, 150, 160))) === 70.0)
  }

  test("adjacent and disjoint children add up") {
    assert(Spans.selfTime(root, Seq(s(2, 10, 20), s(3, 20, 30), s(4, 50, 55))) === 75.0)
  }

  test("spans without a parent nest under the innermost span of their op") {
    val build = s(2, 5, 30, name = "channel.build")
    val exec = s(3, 30, 90, name = "execute")
    val job = s(4, 40, 80, parent = -1L, name = "spark.job")
    val task = s(5, 45, 60, parent = -1L, name = "spark.task")
    val other = s(6, 41, 42, parent = -1L, op = 1, name = "spark.job")
    val nested = Spans.nest(Seq(root, build, exec, job, task, other), _.parent < 0).map(x => x.id -> x).toMap
    assert(nested(4).parent === 3L)
    assert(nested(5).parent === 3L)
    assert(nested(6).parent === -1L, "a span of another op is never adopted")
    assert(nested(2).parent === 1L)
  }

  test("the tracer links module spans to the open span and skips untraced ops") {
    val tr = new Tracer
    tr.op = 0
    tr.active = true
    var layers = List.empty[String]
    tr.onLayer = l => layers ::= l
    tr.span("op") {
      tr.span("channel.build")(())
      tr.span("execute")(tr.record("spark.job", tr.nowMs, tr.nowMs, 0))
    }
    tr.op = 1
    tr.active = false
    tr.span("op")(tr.span("execute")(()))
    tr.record("spark.job", tr.nowMs, tr.nowMs, 1)
    val spans = tr.spans
    assert(spans.map(_.op).toSet === Set(0))
    val root = spans.find(_.name == "op").get
    assert(root.parent === 0L)
    assert(spans.filter(_.name != "op").forall(_.parent > 0L))
    assert(spans.filter(x => x.name == "channel.build" || x.name == "execute").forall(_.parent == root.id))
    assert(layers.reverse === List("op", "channel.build", "op", "execute", "op", ""))
  }
}
