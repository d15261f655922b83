package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val rows = (1 to 200).map(i => (f"conv-$i%09d", f"conv-${(i + 1) / 2 * 2 - 1}%09d"))

  test("the digest does not depend on row order") {
    val shuffled = new scala.util.Random(7).shuffle(rows)
    assert(Digest.of(rows.iterator) == Digest.of(shuffled.iterator))
    assert(Digest.of(rows.iterator) == Digest.of(rows.reverseIterator))
  }

  test("the digest does not depend on how rows are split into partitions") {
    val whole = Digest.of(rows.iterator)
    val parts = rows.grouped(37).map(p => Digest.of(p.iterator)).toSeq
    assert(parts.foldLeft(Digest.Empty)(_ + _) == whole)
    assert(parts.reverse.foldLeft(Digest.Empty)(_ + _) == whole)
  }

  test("moving one conversation to another cluster changes the digest") {
    val moved = rows.updated(10, (rows(10)._1, "conv-000000199"))
    assert(Digest.of(moved.iterator) != Digest.of(rows.iterator))
  }

  test("swapping the labels of two rows changes the digest") {
    val (a, b) = (rows(3), rows(150))
    val swapped = rows.updated(3, (a._1, b._2)).updated(150, (b._1, a._2))
    assert(Digest.of(swapped.iterator) != Digest.of(rows.iterator))
  }

  test("a missing or a duplicated row changes the digest") {
    assert(Digest.of(rows.tail.iterator) != Digest.of(rows.iterator))
    assert(Digest.of((rows :+ rows.head).iterator) != Digest.of(rows.iterator))
  }
}
