package graft.core

/** SimHash (Charikar) 64-bit fingerprint from a shingle-hash multiset:
  * per-bit vote of +1/−1 over the item hashes; fingerprint bit j set iff the
  * vote is positive. Hamming distance on fingerprints approximates cosine
  * similarity of the shingle vectors — used as a cheap prefilter before
  * exact Jaccard (north_star: "SimHash fingerprints").
  */
object SimHash64 {

  def fingerprint(shingleHashes: Array[Long]): Long =
    fingerprint(shingleHashes, shingleHashes.length)

  /** Length-aware variant over a scratch buffer's first n entries.
    *
    * Bit-sliced: the 64 per-bit ones-counts are kept as a vertical binary
    * counter, plane p holding bit p of all 64 counts, so one word operation
    * advances every bit's count at once. Hashes are carry-save added four at
    * a time into the ones/twos planes; each block's weight-4 carry ripples
    * into planes 2 and up. The vote of bit j is 2·ones_j − n, so bit j is
    * set iff ones_j > ⌊n/2⌋ (ties stay 0), decided by a bit-sliced compare
    * of the counter against ⌊n/2⌋. Counts never exceed n, so bitLength(n)
    * planes hold them for any n. Single-threaded on 1.9 KB docs (one hash
    * per byte) this costs about 4 ns per hash; a 64-add vote per hash cost
    * 60–90. */
  def fingerprint(shingleHashes: Array[Long], n: Int): Long = {
    if (n == 0) return 0L
    val numPlanes = 32 - Integer.numberOfLeadingZeros(n)
    val planes = new Array[Long](math.max(numPlanes, 3))
    var ones = 0L
    var twos = 0L
    var i = 0
    while (i + 4 <= n) {
      // two full adders take four hashes to ones/twos plus two weight-2
      // carries; a third adds those into twos, leaving a weight-4 carry
      var a = shingleHashes(i); var b = shingleHashes(i + 1)
      var u = ones ^ a
      val twosA = (ones & a) | (u & b)
      ones = u ^ b
      a = shingleHashes(i + 2); b = shingleHashes(i + 3)
      u = ones ^ a
      val twosB = (ones & a) | (u & b)
      ones = u ^ b
      u = twos ^ twosA
      val fours = (twos & twosA) | (u & twosB)
      twos = u ^ twosB
      addAt(planes, 2, fours)
      i += 4
    }
    planes(0) = ones
    planes(1) = twos
    while (i < n) {
      addAt(planes, 0, shingleHashes(i))
      i += 1
    }
    // bit-sliced (count > t): scan planes high to low, tracking the lanes
    // still equal to t so far and the lanes already greater
    val t = n >>> 1
    var gt = 0L
    var eq = -1L
    var p = numPlanes - 1
    while (p >= 0) {
      val plane = planes(p)
      if (((t >>> p) & 1) != 0) eq &= plane
      else { gt |= eq & plane; eq &= ~plane }
      p -= 1
    }
    gt
  }

  /** Adds one to the count of every lane set in `x`, at plane `from`. */
  @inline private def addAt(planes: Array[Long], from: Int, x: Long): Unit = {
    var carry = x
    var p = from
    while (carry != 0L) {
      val c = planes(p) & carry
      planes(p) ^= carry
      carry = c
      p += 1
    }
  }

  @inline def hammingDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
