package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Shingles

/** Multi-byte UTF-8 fuzz for the pair-verify kernels. The existing kernel
  * fuzz draws from printable ASCII only; transcripts are full Unicode —
  * CJK (3-byte), Cyrillic (2-byte) and emoji (4-byte, surrogate pairs in
  * the JVM string) shift shingle boundaries onto every byte alignment.
  * Both kernels must agree with each other AND with an independent
  * Set-based Jaccard over the same shingle hashes. */
class UnicodeKernelSpec extends AnyFunSuite {

  private val K = 8
  private val Seed = 9001L

  private def oracle(a: String, b: String): Double = {
    val sa = Shingles.shinglesOf(a, K, Seed).toSet
    val sb = Shingles.shinglesOf(b, K, Seed).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else (sa intersect sb).size.toDouble / (sa union sb).size
  }

  private def both(a: String, b: String) = {
    val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
    val m = PairVerify.computeWith(new PairVerify.Scratch(false), ua, ub, K, Seed, probe = false)
    val p = PairVerify.computeWith(new PairVerify.Scratch(true), ua, ub, K, Seed, probe = true)
    (VerifyKernelSpec.tuple(m), VerifyKernelSpec.tuple(p))
  }

  test("kernels agree with each other and the set oracle on multi-byte unicode") {
    val rnd = new java.util.Random(42)
    val alphabets = Array(
      ('a' to 'z').mkString,                      // 1-byte
      ('а' to 'я').mkString,                      // 2-byte Cyrillic
      (0x4e00 until 0x4e60).map(_.toChar).mkString, // 3-byte CJK
      (0 until 16).map(i => new String(Character.toChars(0x1F600 + i))).mkString) // 4-byte emoji
    def doc(chars: Int): String = {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val mixed = new StringBuilder
      (0 until chars).foreach { _ =>
        if (rnd.nextInt(8) == 0) { // cross-alphabet splice
          val other = alphabets(rnd.nextInt(alphabets.length))
          val cp = other.codePointAt(rnd.nextInt(other.length - 2))
          mixed.appendAll(Character.toChars(cp))
        } else {
          val cp = alpha.codePointAt(rnd.nextInt(alpha.length - 2))
          mixed.appendAll(Character.toChars(cp))
        }
      }
      mixed.toString
    }
    (0 until 150).foreach { _ =>
      val a = doc(5 + rnd.nextInt(400))
      val b = if (rnd.nextBoolean()) {
        // near-dup: splice a few codepoints
        val arr = a.codePoints().toArray
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          arr(rnd.nextInt(arr.length)) = 0x4e00 + rnd.nextInt(64)
        }
        new String(arr, 0, arr.length)
      } else doc(5 + rnd.nextInt(200))
      val (m, p) = both(a, b)
      assert(m._1 === p._1, s"kernel jaccard disagreement on <$a> <$b>")
      assert(m._2 === p._2, s"kernel simhash disagreement on <$a> <$b>")
      assert(m._1 === oracle(a, b), s"kernel vs set-oracle on <$a> <$b>")
    }
  }

  test("kernels handle boundary shapes: empty vs unicode, sub-shingle emoji, identical CJK") {
    for ((a, b) <- Seq(
      ("", "世界"),
      ("😀", "😀"),                 // one 4-byte emoji, < k bytes
      ("😀", "😁"),
      ("世界你好" * 40, "世界你好" * 40),
      ("п" * 3, "п" * 1000))) {
      val (m, p) = both(a, b)
      assert(m === p, s"kernel mismatch on <$a> <$b>")
      assert(m._1 === oracle(a, b), s"oracle mismatch on <$a> <$b>")
    }
  }
}
