package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

class QuickSelectSpec extends AnyFunSuite {

  test("matches sort for random arrays and every k") {
    val rnd = new java.util.Random(3)
    (0 until 20).foreach { _ =>
      val a = Array.fill(101)(rnd.nextLong() % 50)
      val sorted = a.clone().sorted
      Seq(0, 1, 50, 99, 100).foreach { k =>
        assert(QuickSelect.select(a.clone(), k) === sorted(k))
      }
    }
  }

  test("all-equal input stays O(n): the purge-median hot case") {
    // 4M equal counters (every count 1 after a uniform stream) — a
    // strict-< Lomuto partition peels one element per pass here (~10^13
    // comparisons); the 3-way partition puts the whole range into the
    // equal band, so select returns after one pass.
    val n = 4 * 1024 * 1024
    val a = Array.fill(n)(1L)
    assert(QuickSelect.partition(a, 0, n - 1) === ((0, n - 1)))
    assert(QuickSelect.select(a, n / 2) === 1L)
  }

  test("mostly-equal input with a few outliers") {
    val a = Array.fill(100001)(7L)
    a(17) = 1L; a(9999) = 2L; a(50000) = 100L
    val sorted = a.clone().sorted
    Seq(0, 2, 50000, 100000).foreach { k =>
      assert(QuickSelect.select(a.clone(), k) === sorted(k))
    }
  }
}
