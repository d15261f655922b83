package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Round-2 verification-gate semantics (VERDICT items 7/8 + ADVICE):
  *  - the north-star LCS check is APPLIED in verifyPairsById (length-adaptive),
  *  - simhashNearDupPairs emits a complete pair set for Hamming dist <= 3,
  *  - bounded buckets are surfaced, not silent.
  */
class VerifyGatesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val cfg = DedupConfig()

  /** Block-shuffled adversarial pair: every block carries a shared 8-char
    * prefix P and suffix S, so byte-8-gram SETS are permutation-invariant
    * (all boundary-spanning grams live inside S+P) -> Jaccard = 1.0, while
    * the longest common run is one block plus its S/P context (~52 chars),
    * far below tauLcs=64. High set overlap, no long common run. */
  /** Two docs' one candidate pair verified by the production body:
    * the docs take withIds' ids, as the pipeline gives them. */
  private def verifyOne(a: (String, String), b: (String, String)) = {
    import spark.implicits._
    val docs = DedupPipeline.withIds(Seq(a, b).toDF("conv_id", "doc")).cache()
    val ids = docs.select(col("id")).as[Long].collect()
    DedupPipeline.verifyPairsById(Seq((ids.min, ids.max)).toDF("a", "b"), docs, cfg)
  }

  private def blockShuffledPair(): (String, String) = {
    val p = "PPPPPPPP"; val s = "SSSSSSSS"
    val rnd = new scala.util.Random(7)
    val blocks = (0 until 12).map { _ =>
      p + (1 to 20).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString + s
    }
    // permutation with no adjacency shared with the identity order
    val perm = Seq(6, 1, 8, 3, 10, 5, 0, 7, 2, 9, 4, 11)
    require(perm.sliding(2).forall { case Seq(x, y) => y != x + 1 })
    (blocks.mkString, perm.map(blocks).mkString)
  }

  test("LCS gate: high-Jaccard / low-LCS block-shuffled pair is dropped") {
    val (da, db) = blockShuffledPair()
    // sanity of the adversarial construction
    val ja = Shingles.jaccardSorted(
      Shingles.shinglesOf(da, cfg.shingleK, cfg.seed),
      Shingles.shinglesOf(db, cfg.shingleK, cfg.seed))
    assert(ja >= cfg.tauJaccard, s"construction broken: jaccard $ja below tau")
    assert(Lcs.lcsLength(da, db) < cfg.tauLcs, "construction broken: long common run")

    assert(verifyOne("x1" -> da, "x2" -> db).count() === 0L,
      "block-shuffled pair must fail the LCS gate")
  }

  test("LCS gate: near-edge edit on a short doc still passes (length-adaptive)") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank!"
    val edited = "X" + base.drop(1) // 1-char edit at the very edge
    val out = verifyOne("s1" -> base, "s2" -> edited).collect()
    assert(out.length === 1, "short-doc near-dup must survive the adaptive LCS gate")
    assert(out.head.getAs[String]("a") === "s1" && out.head.getAs[String]("b") === "s2")
    assert(out.head.getAs[Boolean]("simhash_ok"))
  }

  test("simhash pairs: complete for dist<=3, including non-adjacent pairs in a 4+ bucket") {
    import spark.implicits._
    // four fingerprints sharing band 0 (low 16 bits), pairwise dist <= 3 via
    // distinct single-bit flips in the upper bits — the ADVICE B-D case
    val base = 0x5a5a_5a5a_5a5a_0001L
    val sims = Seq(
      "A" -> base,
      "B" -> (base ^ (1L << 20)),
      "C" -> (base ^ (1L << 30)),
      "D" -> (base ^ (1L << 40)))
    val sigs = sims.toDF("conv_id", "simhash")
    val got = DedupPipeline.simhashNearDupPairs(sigs, maxDist = 3, cfg)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = (for {
      (i, si) <- sims; (j, sj) <- sims if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(want.size === 6, "all 4 choose 2 pairs are within dist 3")
    assert(got === want, "pair set must be complete, not chain+star thinned")
  }

  test("simhash pairs: random corpus matches brute force at dist<=3; oversized buckets surfaced") {
    import spark.implicits._
    val rnd = new java.util.Random(13)
    val base = (0 until 40).map(i => f"v$i%02d" -> rnd.nextLong())
    // plant near-pairs: <=3 bit flips of existing fingerprints
    val planted = (0 until 20).map { i =>
      val (_, s) = base(rnd.nextInt(base.size))
      var v = s
      (0 until 1 + rnd.nextInt(3)).foreach(_ => v = v ^ (1L << rnd.nextInt(64)))
      f"p$i%02d" -> v
    }
    val all = base ++ planted
    val sigs = all.toDF("conv_id", "simhash")
    val got = DedupPipeline.simhashNearDupPairs(sigs, maxDist = 3, cfg)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = (for {
      (i, si) <- all; (j, sj) <- all if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(got === want)
    assert(DedupPipeline.oversizedSimhashBuckets(sigs, cfg).count() === 0L)
  }

  test("embedding near-dup: bucket cap bounds pair emission and drops are countable") {
    import spark.implicits._
    // 30 identical embeddings = one hot bucket per table
    val emb = (0 until 30).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val capped = graft.ops.Ann.nearDupPairs(emb, 0.5, nPlanes = 4, nTables = 2,
      maxBucketSize = 10)
    assert(capped.count() === 0L, "hot bucket beyond cap must not emit O(m^2) pairs")
    val over = graft.ops.Ann.oversizedSrpBuckets(emb, nPlanes = 4, nTables = 2,
      maxBucketSize = 10)
    assert(over.count() > 0L, "the exclusion must be observable")
    val uncapped = graft.ops.Ann.nearDupPairs(emb, 0.5, nPlanes = 4, nTables = 2)
    assert(uncapped.count() === (30L * 29 / 2))
  }
}
