package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LongHashSet, Shingles}

/** The two pair-verify kernels (sorted-merge intersect vs hash-set probe)
  * must be bit-identical on every input: same jaccard double, same simhash
  * distance — q09-q12's hash-exact oracles ride on this. */
class VerifyKernelSpec extends AnyFunSuite {

  private def both(a: String, b: String, k: Int = 8, seed: Long = 9001L) = {
    val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
    val m = PairVerify.computeWith(new PairVerify.Scratch(false), ua, ub, k, seed, probe = false)
    val p = PairVerify.computeWith(new PairVerify.Scratch(true), ua, ub, k, seed, probe = true)
    (VerifyKernelSpec.tuple(m), VerifyKernelSpec.tuple(p))
  }

  test("kernels agree on random near-dup and unrelated docs") {
    val rnd = new java.util.Random(7)
    def doc(len: Int): String = {
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar))
      sb.toString
    }
    (0 until 200).foreach { _ =>
      val base = doc(50 + rnd.nextInt(2000))
      val near = {
        val c = base.toCharArray
        (0 until 1 + rnd.nextInt(6)).foreach(_ => c(rnd.nextInt(c.length)) = (32 + rnd.nextInt(95)).toChar)
        new String(c)
      }
      for (other <- Seq(near, doc(50 + rnd.nextInt(500)), base)) {
        val (m, p) = both(base, other)
        assert(m._1 === p._1) // exact double equality: same inter/union ints
        assert(m._2 === p._2)
      }
    }
  }

  test("kernels agree on edge shapes: empty, 1-byte, shorter-than-k, repeated content") {
    for ((a, b) <- Seq(("", ""), ("", "xyz"), ("a", "a"), ("a", "b"),
        ("abc", "abc"), ("abc", "abd"), ("aaaaaaaaaaaaaaaa", "aaaaaaaaaaaaaaab"),
        ("ab" * 40, "ab" * 40 + "c"))) {
      val (m, p) = both(a, b)
      assert(m === p, s"mismatch on ('$a','$b')")
    }
  }

  test("kernels agree through the memo: repeated side A over a pair run") {
    val sm = new PairVerify.Scratch(false)
    val sp = new PairVerify.Scratch(true)
    val a = UTF8String.fromString("the quick brown fox jumps over the lazy dog " * 20)
    val rnd = new java.util.Random(3)
    (0 until 50).foreach { i =>
      val b = UTF8String.fromString(
        "the quick brown fox jumps over the lazy dog " * 20 + ("x" * rnd.nextInt(10)) + i)
      val m = VerifyKernelSpec.tuple(PairVerify.computeWith(sm, a, b, 8, 9001L, probe = false))
      val p = VerifyKernelSpec.tuple(PairVerify.computeWith(sp, a, b, 8, 9001L, probe = true))
      assert(m === p)
    }
  }

  test("kernels agree past RetainCap (transient path)") {
    val rnd = new java.util.Random(5)
    val big = {
      val sb = new StringBuilder
      (0 until 600000).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar)) // > 512k RetainCap
      sb.toString
    }
    val (m, p) = both(big, big.substring(0, 599000) + "zz")
    assert(m === p)
    val (m2, p2) = both(big, big)
    assert(m2 === p2 && m2._1 === 1.0)
  }

  test("a repeated pair returns the last row with no second Jaccard probe") {
    val s = new PairVerify.Scratch(true)
    def u(t: String) = UTF8String.fromString(t)
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val a = u(base); val b = u(base + "tail"); val c = u(base + "other tail")
    val first = PairVerify.computeWith(s, a, b, 8, 9001L, probe = true)
    // equal bytes in fresh objects: both memos hit, so the row is reused
    // as is; every computed row is a new object, so `eq` means no probe ran
    assert(PairVerify.computeWith(s, u(base), u(base + "tail"), 8, 9001L, probe = true) eq first)
    val ac = PairVerify.computeWith(s, a, c, 8, 9001L, probe = true)
    assert(!(ac eq first))
    assert(VerifyKernelSpec.tuple(ac) ===
      VerifyKernelSpec.tuple(PairVerify.computeWith(new PairVerify.Scratch(true), a, c, 8, 9001L, probe = true)))
    val again = PairVerify.computeWith(s, a, b, 8, 9001L, probe = true)
    assert(!(again eq first) && VerifyKernelSpec.tuple(again) === VerifyKernelSpec.tuple(first))
    // a different (k, seed) misses the memo
    val k4 = PairVerify.computeWith(s, a, b, 4, 9001L, probe = true)
    assert(!(k4 eq again))
    assert(VerifyKernelSpec.tuple(k4) ===
      VerifyKernelSpec.tuple(PairVerify.computeWith(new PairVerify.Scratch(true), a, b, 4, 9001L, probe = true)))
  }

  test("a side past RetainCap is never memoized, so its pair is recomputed") {
    val rnd = new java.util.Random(9)
    val sb = new StringBuilder
    (0 until PairVerify.RetainCap + 1000).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar))
    val big = UTF8String.fromString(sb.toString)
    val small = UTF8String.fromString(sb.substring(0, 5000))
    val s = new PairVerify.Scratch(true)
    val r1 = PairVerify.computeWith(s, big, small, 8, 9001L, probe = true)
    val r2 = PairVerify.computeWith(s, big, small, 8, 9001L, probe = true)
    assert(!(r2 eq r1) && VerifyKernelSpec.tuple(r2) === VerifyKernelSpec.tuple(r1))
  }

  test("LongHashSet: add/contains/dedup, zero element, reuse via reset") {
    val s = new LongHashSet(4)
    assert(s.add(5L) && !s.add(5L) && s.contains(5L) && !s.contains(6L))
    assert(s.add(0L) && !s.add(0L) && s.contains(0L))
    (1L to 100L).foreach(i => s.add(i * 0x9e3779b97f4a7c15L))
    assert(s.size === 102)
    s.reset(10)
    assert(s.size === 0 && !s.contains(5L) && !s.contains(0L))
    assert(s.add(5L))
  }

  test("jaccardProbe equals jaccardSorted on random long sets") {
    val rnd = new java.util.Random(11)
    (0 until 100).foreach { _ =>
      val a = Array.fill(rnd.nextInt(300))(rnd.nextInt(200).toLong + 1)
      val b = Array.fill(rnd.nextInt(300))(rnd.nextInt(200).toLong + 1)
      val sa = Shingles.sortedDistinct(a.clone())
      val sb = Shingles.sortedDistinct(b.clone())
      val ha = new LongHashSet(a.length max 1); a.foreach(ha.add)
      val hb = new LongHashSet(b.length max 1); b.foreach(hb.add)
      assert(ha.size === sa.length && hb.size === sb.length)
      assert(LongHashSet.jaccardProbe(ha, hb) === Shingles.jaccardSorted(sa, sb))
    }
  }
}

object VerifyKernelSpec {
  /** A pair_verify row as (jaccard, simhash_dist). */
  def tuple(r: InternalRow): (Double, Int) = (r.getDouble(0), r.getInt(1))
}
