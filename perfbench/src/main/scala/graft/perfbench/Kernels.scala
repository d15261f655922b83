package graft.perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.core.{DedupConfig, Lcs}
import graft.functions.{PairVerify, TextSignatureExpr}

/** Single-threaded timings of the hot kernels over a fixed sample of a
  * workload's docs and candidate pairs. Each kernel makes `reps` passes over
  * its sample; the median pass is reported. */
object Kernels {

  final case class Result(textSignatureNsPerByte: Double, pairVerifyNsPerPair: Double,
                          lcsNsPerByte: Double)

  /** Every kernel result feeds this, so the JIT cannot drop the calls. */
  @volatile private var sink = 0L

  private def medianPassNs(reps: Int)(pass: => Unit): Double = {
    pass // the pipeline runs have compiled the kernels; one pass settles caches
    val ns = Array.fill(reps) {
      val t0 = System.nanoTime()
      pass
      (System.nanoTime() - t0).toDouble
    }
    Stats.median(ns.toSeq)
  }

  def measure(docs: Seq[String], pairs: Seq[(String, String)], reps: Int = 7): Result = {
    val cfg = DedupConfig()
    val docBytes = docs.map(UTF8String.fromString).toArray
    val pairBytes = pairs.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }.toArray

    val sigBytes = docBytes.map(_.numBytes.toLong).sum
    val sigNs = medianPassNs(reps) {
      docBytes.foreach(d => sink += TextSignatureExpr.compute(d, cfg.shingleK, cfg.numHashes, cfg.seed).numFields)
    }
    val pvNs = medianPassNs(reps) {
      pairBytes.foreach { case (a, b) => sink += PairVerify.compute(a, b, cfg.shingleK, cfg.seed).numFields }
    }
    // the verify stage's gate: a common run of min(tauLcs, shorter/2) chars
    val lcsBytes = pairs.map { case (a, b) => (a.length + b.length).toLong }.sum
    val lcsNs = medianPassNs(reps) {
      pairs.foreach { case (a, b) =>
        if (Lcs.hasCommonRun(a, b, math.min(cfg.tauLcs, math.min(a.length, b.length) / 2))) sink += 1
      }
    }
    Result(sigNs / math.max(1L, sigBytes), pvNs / math.max(1, pairs.size),
      lcsNs / math.max(1L, lcsBytes))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
