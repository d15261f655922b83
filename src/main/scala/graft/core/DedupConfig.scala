package graft.core

/** Single source of truth for the dedup pipeline's shingle/signature config.
  * Pipeline and oracle MUST share one instance (BASELINE.md: "identical
  * shingle/signature config for pipeline and oracle").
  *
  * Defaults per FIXTURES.md §2: k=8 byte shingles, n=128 hashes,
  * b=32 bands × r=4 rows, Jaccard ≥ 0.8, LCS ≥ 64 chars, murmur3 seed 9001
  * (the reference's DEFAULT_UPDATE_SEED, internal/utils.go:33).
  *
  * LSH recall sanity at these defaults: P(candidate | s) = 1-(1-s^4)^32;
  * at s = 0.8 → 1-(1-0.4096)^32 ≈ 1 - 5e-8. The 0.99 recall bar is met with
  * wide margin at the threshold; the marginal band is s ≈ 0.55.
  */
final case class DedupConfig(
    shingleK: Int = 8,
    numHashes: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    tauJaccard: Double = 0.8,
    /** LCS verification gate (north_star "suffix-array LCS checks"):
      * pairs must share a common substring of ≥ min(tauLcs, min doc len)
      * chars — applied after the Jaccard gate in DedupPipeline.verifyGate
      * (verifyPairsById and its test oracle share it); kills adversarial no-long-run pairs. */
    tauLcs: Int = 64,
    /** SimHash agreement criterion, RECORDED as verifyPairsById.simhash_ok
      * (not gated — near-threshold Jaccard pairs legitimately exceed it). */
    simhashMaxDist: Int = 8,
    seed: Long = Murmur3x128.DefaultSeed,
    /** salt modulus for hot LSH bands (SURVEY §2b P5/P9); 1 = no salting */
    bandSalt: Int = 1,
    /** band buckets larger than this are bounded (standard LSH skew guard) */
    maxBucketSize: Int = 2000) {
  require(bands * rowsPerBand == numHashes,
    s"bands($bands) * rowsPerBand($rowsPerBand) must equal numHashes($numHashes)")
}
