package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, layer: String, s: Long, e: Long) =
    Span(id, parent, op = 1, layer, s"$layer.$id", s, e)

  test("covered merges overlapping intervals and clips them to the window") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Trace.covered(Seq((0L, 10L)), 10, 20) == 0)
    assert(Trace.covered(Nil, 0, 10) == 0)
  }

  test("self time is duration minus the children's cover; driver_other is the op's residual") {
    // op [0, 100): sources [10, 50) holding spark-bound work, vector [60, 90)
    // with a nested rag span [70, 80)
    val spans = Seq(
      span(1, 0, Trace.Driver, 0, 100),
      span(2, 1, "sources", 10, 50),
      span(3, 1, "vector", 60, 90),
      span(4, 3, "rag", 70, 80))
    val self = Trace.selfTimes(spans)
    assert(self == Map(1L -> 30L, 2L -> 40L, 3L -> 20L, 4L -> 10L))
    val byLayer = Trace.selfByLayer(spans)
    assert(byLayer(Trace.Driver) == 30)
    // the layer self times plus driver_other account for the op's wall time
    assert(byLayer.values.sum == 100)
  }

  test("children reported by other threads may overlap; their union is counted once") {
    val spans = Seq(
      span(1, 0, Trace.Driver, 0, 100),
      span(2, 1, "vector", 0, 60),
      span(3, 1, "vector", 40, 80))
    assert(Trace.selfTimes(spans)(1) == 20)
  }

  test("spans nest by thread: op and span build the parent links") {
    Trace.clear()
    Trace.enabled = true
    try Trace.op("ask") {
      Trace.span("vector", "search")(Trace.span("sources", "read")(()))
      Trace.span("rag", "prompt")(())
    } finally Trace.enabled = false
    val spans = Trace.recorded
    Trace.clear()
    val root = spans.find(_.layer == Trace.Driver).get
    assert(root.parent == 0 && spans.forall(_.op == root.id))
    val search = spans.find(_.name == "search").get
    assert(search.parent == root.id)
    assert(spans.find(_.name == "read").get.parent == search.id)
    assert(spans.find(_.name == "prompt").get.parent == root.id)
    assert(Trace.selfByLayer(spans).values.sum == root.durNs)
  }

  test("with tracing off nothing is recorded") {
    Trace.clear()
    assert(Trace.op("x")(Trace.span("vector", "y")(42)) == 42)
    assert(Trace.recorded.isEmpty)
  }
}
