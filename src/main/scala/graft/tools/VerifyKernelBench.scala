package graft.tools

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.DoubleAdder

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PairVerify

/** Same-sitting A/B of the pair-verify kernels, Spark-free (SURVEY r5
  * candidate #1): "merge" (sorted shingle arrays + merge intersect —
  * VerifyKernelSpec's oracle) vs "probe" (open-addressing hash set + probe
  * intersect — the production kernel). The pair stream mimics the verify stage's sort-merge
  * output: side A repeats in runs (the memo absorbs its recompute), side
  * B is fresh per pair — so the A/B weighs exactly what the stage pays
  * per pair (B's recompute: sort vs hash-insert; the intersection: merge
  * vs probe).
  *
  * Runs T worker threads each with its own Scratch over a private slice
  * of the pair list (no shared mutable state), interleaved legs
  * merge/probe/probe/merge, best-of-2 each. Checksums (Σjaccard,
  * Σhamming) must agree between kernels — the equality claim of
  * VerifyKernelSpec re-checked at bench volume.
  *
  *   args: <threads> [nDocs] [pairsPerDoc] [docLen] [k] [seed] [bReuse]
  *   bReuse: consecutive pairs sharing one B doc — 1 (default) makes every
  *   pair recompute side B (sort vs hash-insert dominated); 8+ memo-hits
  *   both sides so the legs time mostly the intersection itself (merge vs
  *   probe).
  *   prints: VERIFY_KERNEL_AB=threads:T,pairs:N,merge:<s>,probe:<s>,checksum_match:<bool>
  */
object VerifyKernelBench {

  def main(args: Array[String]): Unit = {
    val threads = if (args.length > 0) args(0).toInt else 32
    val nDocs = if (args.length > 1) args(1).toInt else 20000
    val pairsPerDoc = if (args.length > 2) args(2).toInt else 8
    val docLen = if (args.length > 3) args(3).toInt else 1500
    val k = if (args.length > 4) args(4).toInt else 8
    val seed = if (args.length > 5) args(5).toLong else 9001L
    val bReuse = if (args.length > 6) args(6).toInt else 1

    val rnd = new java.util.Random(42)
    // base docs: printable bytes; near-dups of each base by point mutations
    // (the shape verify actually sees: high-Jaccard pairs)
    def doc(len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      var i = 0
      while (i < len) { b(i) = (32 + rnd.nextInt(95)).toByte; i += 1 }
      b
    }
    def mutate(src: Array[Byte], edits: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOf(src, src.length)
      var i = 0
      while (i < edits) { b(rnd.nextInt(b.length)) = (32 + rnd.nextInt(95)).toByte; i += 1 }
      b
    }
    val as = new Array[UTF8String](nDocs)
    val bs = new Array[UTF8String](nDocs * pairsPerDoc)
    var i = 0
    while (i < nDocs) {
      val base = doc(docLen - rnd.nextInt(docLen / 2))
      as(i) = UTF8String.fromBytes(base)
      var j = 0
      while (j < pairsPerDoc) {
        bs(i * pairsPerDoc + j) = UTF8String.fromBytes(mutate(base, 1 + rnd.nextInt(8)))
        j += 1
      }
      i += 1
    }
    val nPairs = nDocs * pairsPerDoc

    val pool = Executors.newFixedThreadPool(threads)
    def leg(probe: Boolean): (Double, Double, Double) = {
      val sumJ = new DoubleAdder; val sumD = new DoubleAdder
      val latch = new CountDownLatch(threads)
      val t0 = System.nanoTime()
      var t = 0
      while (t < threads) {
        val tid = t
        pool.execute { () =>
          val s = new PairVerify.Scratch(probe)
          var lj = 0.0; var ld = 0.0
          // contiguous slice per thread keeps side-A runs intact (memo)
          val lo = (nPairs.toLong * tid / threads).toInt
          val hi = (nPairs.toLong * (tid + 1) / threads).toInt
          var p = lo
          while (p < hi) {
            val (j, d) = PairVerify.computeWith(
              s, as(p / pairsPerDoc), bs(p / bReuse * bReuse), k, seed, probe)
            lj += j; ld += d
            p += 1
          }
          sumJ.add(lj); sumD.add(ld)
          latch.countDown()
        }
        t += 1
      }
      latch.await()
      ((System.nanoTime() - t0) / 1e9, sumJ.sum(), sumD.sum())
    }

    // JIT both kernels
    leg(probe = false); leg(probe = true)
    // interleaved best-of-2: merge, probe, probe, merge
    val m1 = leg(probe = false); val p1 = leg(probe = true)
    val p2 = leg(probe = true); val m2 = leg(probe = false)
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
    val tm = math.min(m1._1, m2._1)
    val tp = math.min(p1._1, p2._1)
    val ok = math.abs(m1._2 - p1._2) < 1e-6 && m1._3 == p1._3 &&
      math.abs(m2._2 - p2._2) < 1e-6 && m2._3 == p2._3
    println(f"VERIFY_KERNEL_AB=threads:$threads,pairs:$nPairs,b_reuse:$bReuse," +
      f"merge:$tm%.3f,probe:$tp%.3f,probe_vs_merge:${tp / tm - 1.0}%.3f,checksum_match:$ok")
  }
}
