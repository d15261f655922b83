package graft.core

/** MinHash over 64-bit shingle hashes using n affine BIJECTIONS of the
  * 64-bit ring: h_i(x) = a_i·x + b_i (mod 2^64) with a_i odd. An odd
  * multiplier makes each h_i a true permutation of the 64-bit space, so
  * taking the minimum of h_i over a set selects one pseudo-random element
  * per permutation — the textbook minhash construction, with
  * E[sig agreement] = Jaccard. (An earlier revision used affine maps over
  * the Mersenne prime 2^61−1; the mod-p reductions cost ~4 ops per
  * mult where the ring version costs one fused mult+add, and the
  * signature stage is the pipeline's dominant CPU. Agreement≈Jaccard is
  * pinned by MinHasherSpec either way.)
  *
  * (a_i, b_i) are derived deterministically from the seed via murmur3
  * finalizer mixing — no RNG state, so signatures are reproducible across
  * partitions, retries, and resume (the determinism requirement the fork
  * itself adopted for KLL compaction: kll/items_sketch.go:866-867).
  */
final class MinHasher(val numHashes: Int, val seed: Long) extends Serializable {
  import MinHasher._

  private val as: Array[Long] = Array.tabulate(numHashes) { i =>
    mix64(seed + 0x9e3779b97f4a7c15L * (2L * i + 1)) | 1L // odd ⇒ bijective
  }
  private val bs: Array[Long] = Array.tabulate(numHashes) { i =>
    mix64(seed ^ mix64(0xbf58476d1ce4e5b9L * (i + 1)))
  }

  def a(i: Int): Long = as(i)
  def b(i: Int): Long = bs(i)

  /** Signature of a shingle set; length numHashes. Signed order is a
    * valid total order on each permutation's image. Empty set → all
    * EmptySig (no h_i(x) min realistically reaches it, so empty docs
    * only band-match empty docs). */
  def signature(shingles: Array[Long]): Array[Long] = signature(shingles, shingles.length)

  /** Signature of the first n entries of `hashes`. They may repeat: a
    * minimum over a multiset is the minimum over its set, so the window
    * hashes of a doc give its shingle set's signature unsorted and
    * undeduplicated. */
  def signature(hashes: Array[Long], n: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    if (n == 0) {
      java.util.Arrays.fill(sig, EmptySig)
      return sig
    }
    var i = 0
    while (i < numHashes) {
      // per-permutation inner loop keeps the running min in a register;
      // the hash buffer is L1-resident for typical docs
      val a = as(i); val b = bs(i)
      var m = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = a * hashes(j) + b
        if (h < m) m = h
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }
}

object MinHasher {
  /** Empty-set signature sentinel (signed max — unreachable in practice). */
  final val EmptySig: Long = Long.MaxValue

  /** Mersenne prime 2^61 − 1 (kept for the modular-arithmetic utilities). */
  final val P: Long = (1L << 61) - 1

  /** x mod P for any 64-bit x, treated unsigned. */
  @inline def modP(x: Long): Long = {
    var r = (x & P) + (x >>> 61)
    if (r >= P) r -= P
    r
  }

  /** (a·b) mod P for a, b in [0, P). 2^64 ≡ 8 (mod P). */
  @inline def mulModP(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // both < 2^61 ⇒ signed == unsigned
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & P)
    while (r >= P) r -= P
    r
  }

  /** murmur3 fmix64 — bijective 64-bit mixer. */
  @inline def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }
}
