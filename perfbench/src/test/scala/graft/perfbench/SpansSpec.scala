package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, start: Long, end: Long, name: String = "x") =
    Span(id, name, parent, start, end)

  test("a span without children keeps its whole duration") {
    val root = s(0, -1, 10, 50)
    assert(Spans.selfNs(root, Seq(root)) == 40)
  }

  test("disjoint children are subtracted one by one") {
    val root = s(0, -1, 0, 100)
    val all = Seq(root, s(1, 0, 10, 20), s(2, 0, 40, 70))
    assert(Spans.selfNs(root, all) == 100 - 10 - 30)
  }

  test("overlapping children count their union once") {
    val root = s(0, -1, 0, 100)
    val all = Seq(root, s(1, 0, 10, 40), s(2, 0, 30, 60), s(3, 0, 60, 65))
    assert(Spans.selfNs(root, all) == 100 - 55)
  }

  test("children are clipped to the parent") {
    val root = s(0, -1, 20, 80)
    val all = Seq(root, s(1, 0, 0, 30), s(2, 0, 70, 120), s(3, 0, 90, 95))
    assert(Spans.selfNs(root, all) == 60 - 10 - 10)
  }

  test("only direct children are subtracted") {
    val root = s(0, -1, 0, 100)
    val child = s(1, 0, 10, 60)
    val grandchild = s(2, 1, 20, 50)
    val all = Seq(root, child, grandchild)
    assert(Spans.selfNs(root, all) == 50)
    assert(Spans.selfNs(child, all) == 20)
    assert(Spans.selfNs(grandchild, all) == 30)
  }

  test("self time per name sums every span of that name and covers the root exactly") {
    val all = Seq(
      s(0, -1, 0, 100, "run"),
      s(1, 0, 0, 30, "verify"),
      s(2, 0, 30, 45, "write_lineage"),
      s(3, 0, 45, 90, "verify"),
      s(4, 0, 90, 100, "write_lineage"))
    val by = Spans.selfNsByName(all)
    assert(by == Map("run" -> 0L, "verify" -> 75L, "write_lineage" -> 25L))
    assert(by.values.sum == all.head.durNs)
  }
}
