package graft.core

import java.util.Arrays
import org.apache.spark.unsafe.Platform

/** k-byte shingling over UTF-8 bytes (not codepoints — the reference hashes
  * raw byte slices: hll/hll_sketch.go:284-295). Each k-byte window is hashed
  * with murmur3-x64-128(seed) and the 64-bit lo half is kept. Output is the
  * DISTINCT shingle set, sorted ascending (unsigned order irrelevant here —
  * Jaccard needs set semantics; signed sort is fine as long as both sides of
  * an intersection use the same order).
  */
object Shingles {

  /** Distinct sorted shingle hashes of `len` bytes at (base, offset). */
  def shingles(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](windowCount(len, k))
    windowsInto(base, offset, len, k, seed, out)
    sortedDistinct(out)
  }

  /** Number of window hashes `windowsInto` writes for `len` bytes. */
  def windowCount(len: Int, k: Int): Int =
    if (len == 0) 0 else math.max(1, len - k + 1)

  /** Every k-byte window's hash written into `buf` (caller guarantees
    * capacity ≥ windowCount(len, k)), in text order, repeats kept; returns
    * the count. A doc shorter than one shingle hashes whole as a single
    * window. */
  def windowsInto(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long,
                  buf: Array[Long]): Int = {
    if (len < k) {
      if (len == 0) return 0
      buf(0) = Murmur3x128.hash64(base, offset, len, seed)
      return 1
    }
    val n = len - k + 1
    var i = 0
    while (i < n) {
      buf(i) = Murmur3x128.hash64(base, offset + i, k, seed)
      i += 1
    }
    n
  }

  def shinglesOf(text: String, k: Int, seed: Long): Array[Long] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    shingles(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, k, seed)
  }

  /** In-place sort + dedup; returns a (possibly shorter) array. */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length <= 1) return a
    Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else Arrays.copyOf(a, w)
  }

  /** Shingle hashes written into `buf` (caller guarantees capacity
    * ≥ max(1, len−k+1)), then sorted-distinct IN PLACE; returns the
    * retained count. Zero-allocation variant for the pair-verification
    * hot loop — the allocating `shingles` churned ~16 KB per pair and
    * the resulting GC pressure capped the verify stage's scaling at 32
    * cores. */
  def shinglesInto(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long,
                   buf: Array[Long]): Int = {
    val n = windowsInto(base, offset, len, k, seed, buf)
    if (n <= 1) return n
    Arrays.sort(buf, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    w
  }

  /** Distinct shingle hashes inserted into `set` (caller resets it with the
    * expected window count first) — the probe-kernel counterpart of
    * `shinglesInto`: no sort, dedup happens in the hash table. */
  def shinglesIntoSet(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long,
                      set: LongHashSet): Unit = {
    if (len < k) {
      if (len == 0) return
      set.add(Murmur3x128.hash64(base, offset, len, seed))
      return
    }
    val n = len - k + 1
    var i = 0
    while (i < n) {
      set.add(Murmur3x128.hash64(base, offset + i, k, seed))
      i += 1
    }
  }

  /** Exact Jaccard of two sorted-distinct arrays via merge intersection —
    * no allocation (SURVEY §4.3: array_intersect+size allocates; this is the
    * verification hot loop). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double =
    jaccardSorted(a, a.length, b, b.length)

  /** Length-aware variant over scratch buffers' first na/nb entries. */
  def jaccardSorted(a: Array[Long], na: Int, b: Array[Long], nb: Int): Double = {
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union
  }
}
