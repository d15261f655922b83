package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The bit-sliced SimHash64.fingerprint against the per-bit vote loop it
  * replaced (kept here as the oracle): bit j is set iff the ±1 vote over
  * the first n hashes is positive, so ties stay 0. */
class SimHashExactSpec extends AnyFunSuite {

  private def voteOracle(hashes: Array[Long], n: Int): Long = {
    val votes = new Array[Long](64)
    var i = 0
    while (i < n) {
      val h = hashes(i)
      var j = 0
      while (j < 64) { votes(j) += (if (((h >>> j) & 1L) != 0) 1 else -1); j += 1 }
      i += 1
    }
    (0 until 64).foldLeft(0L)((fp, j) => if (votes(j) > 0) fp | (1L << j) else fp)
  }

  private def check(hashes: Array[Long], n: Int): Unit =
    assert(SimHash64.fingerprint(hashes, n) === voteOracle(hashes, n), s"n=$n")

  test("n = 0 and n = 1") {
    check(Array.emptyLongArray, 0)
    check(Array(0x0123456789abcdefL), 0) // the length-aware form ignores the tail
    for (h <- Seq(0L, -1L, 1L, Long.MinValue, 0x0123456789abcdefL)) check(Array(h), 1)
    assert(SimHash64.fingerprint(Array(-1L)) === -1L)
  }

  test("exact ties stay 0: every bit split evenly over an even n") {
    val rnd = new java.util.Random(1)
    for (pairs <- Seq(1, 2, 3, 4, 5, 64, 1000, 40001)) {
      val hs = Array.fill(pairs)(rnd.nextLong()).flatMap(h => Array(h, ~h))
      assert(SimHash64.fingerprint(hs) === 0L, s"n=${hs.length}")
      check(hs, hs.length)
      // one more copy of the first hash breaks every tie its way
      val odd = hs :+ hs(0)
      assert(SimHash64.fingerprint(odd) === hs(0), s"n=${odd.length}")
    }
  }

  test("random arrays of every small length and of random lengths") {
    val rnd = new java.util.Random(2)
    val hs = Array.fill(4096)(rnd.nextLong())
    (0 to 70).foreach(n => check(hs, n))
    (0 until 300).foreach(_ => check(hs, rnd.nextInt(hs.length + 1)))
  }

  test("biased bits: counts near 0, near n and at n/2 ± 1") {
    val rnd = new java.util.Random(3)
    for (n <- Seq(7, 8, 63, 64, 1023, 1024, 4097)) {
      // bit 0 always set, bit 1 never, other bits set with varied odds
      val hs = Array.tabulate(n) { i =>
        var h = 1L
        var j = 2
        while (j < 64) { if (rnd.nextInt(64) < j) h |= 1L << j; j += 1 }
        h
      }
      check(hs, n)
    }
  }

  test("n past 2^16 with counts past 2^16, and past 2^20") {
    val rnd = new java.util.Random(4)
    // bits 0-7 set in every hash: their counts equal n (> 2^16)
    val skewed = Array.fill(70001)(rnd.nextLong() | 0xffL)
    check(skewed, skewed.length)
    assert((SimHash64.fingerprint(skewed) & 0xffL) === 0xffL)
    val big = Array.fill((1 << 20) + 3)(rnd.nextLong())
    check(big, big.length)
    val ties = big.take(1 << 19).flatMap(h => Array(h, ~h)) // n = 2^20, all tied
    assert(SimHash64.fingerprint(ties) === 0L)
  }

  test("a doc past PairVerify's RetainCap (2^19 shingles)") {
    val rnd = new java.util.Random(5)
    val text = new String(Array.fill((1 << 19) + 4000)((32 + rnd.nextInt(95)).toChar))
    val sh = Shingles.shinglesOf(text, 8, 9001L)
    assert(sh.length > (1 << 19))
    check(sh, sh.length)
  }
}
