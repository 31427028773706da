package crawlbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, a: Double, b: Double) =
    Span(id, parent, s"s$id", a, b)

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val root = span(1, -1, 0, 100)
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 40), span(4, 1, 60, 70))
    assert(Tracer.selfTimeMs(root, kids) == 100 - 30 - 10)
  }

  test("children reaching outside the parent are clipped to it") {
    val root = span(1, -1, 50, 100)
    assert(Tracer.selfTimeMs(root, Seq(span(2, 1, 0, 60), span(3, 1, 90, 200))) == 30)
    assert(Tracer.selfTimeMs(root, Nil) == 50)
    assert(Tracer.selfTimeMs(root, Seq(span(2, 1, 0, 10))) == 50)
  }

  test("nested spans record their parent and the JSON carries self time") {
    val t = new Tracer
    t.span("outer") { _ => t.span("inner") { _ => Thread.sleep(5) } }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    val json = Tracer.toJson(t.spans)
    assert(json.contains("\"name\":\"inner\"") && json.contains("\"self_ms\":"))
  }
}
