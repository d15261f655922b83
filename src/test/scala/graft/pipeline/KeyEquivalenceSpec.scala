package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig

/** The premise behind runWithDocs' collision fallback: while every
  * id = xxhash64(conv_id) is unique, the id-keyed stages give the same
  * candidates, components and verified pairs as the conv_id-keyed ones. */
class KeyEquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val docs = DedupPipeline.buildDocs(
    Transcripts.asDataFrame(spark, Transcripts.generate(200), 8)).cache()

  private def withId(df: DataFrame): DataFrame = df.withColumn("id", xxhash64(col("conv_id")))

  /** 800 rows colliding into ~120 buckets. */
  private lazy val randomBands: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (1 to 800).map(i => (f"c$i%04d", i % 7, rnd.nextInt(120).toLong))
      .toDF("conv_id", "band_idx", "band_key")
  }

  private lazy val corpusBands: DataFrame =
    DedupPipeline.bands(DedupPipeline.signatures(docs, cfg), cfg)

  /** Both band streams: conv_id-keyed and id-keyed. The corpus id bands
    * come from bandsById over id-keyed signatures, as runWithDocs makes them. */
  private def bandStreams: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("random", randomBands, withId(randomBands).select("id", "band_key")),
    ("corpus", corpusBands, DedupPipeline.bandsById(
      withId(DedupPipeline.signatures(docs, cfg)).select("id", "minhash"), cfg)))

  /** id pairs mapped back to conv_id pairs, oriented a < b. */
  private def toConvIds(idPairs: DataFrame, bands: DataFrame): DataFrame = {
    val ids = withId(bands.select("conv_id").distinct())
    assert(ids.select("id").distinct().count() === ids.count(), "ids are unique")
    idPairs
      .join(ids.select(col("id").as("a"), col("conv_id").as("ca")), Seq("a"))
      .join(ids.select(col("id").as("b"), col("conv_id").as("cb")), Seq("b"))
      .select(least(col("ca"), col("cb")).as("a"), greatest(col("ca"), col("cb")).as("b"))
  }

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("candidatePairsById mapped back to conv_id equals candidatePairs at bandSalt 1") {
    for ((name, bands, idBands) <- bandStreams) {
      val byString = pairSet(DedupPipeline.candidatePairs(bands, cfg))
      val byId = pairSet(toConvIds(DedupPipeline.candidatePairsById(idBands, cfg), bands))
      assert(byString.nonEmpty, name)
      assert(byId === byString, name)
    }
  }

  test("at bandSalt 4 both keys give the same components") {
    val salted = cfg.copy(bandSalt = 4)
    for ((name, bands, idBands) <- bandStreams) {
      val nodes = bands.select("conv_id").distinct()
      def components(edges: DataFrame): Map[String, String] =
        DedupPipeline.connectedComponents(edges, nodes).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      val byString = components(DedupPipeline.candidatePairs(bands, salted))
      val byId = components(toConvIds(DedupPipeline.candidatePairsById(idBands, salted), bands))
      assert(byString.values.toSet.size < byString.size, s"$name: no edges")
      assert(byId === byString, name)
    }
  }

  test("verifyPairsById equals verifyPairs on the same candidates") {
    val cand = DedupPipeline.candidatePairs(corpusBands, cfg)
    def rows(df: DataFrame) = df.select("a", "b", "jaccard", "simhash_dist", "simhash_ok")
      .collect().map(_.toSeq).toSet
    val byString = rows(DedupPipeline.verifyPairs(cand, docs, cfg))
    // id pairs oriented by id, as candidatePairsById emits them: id order
    // is not conv_id order, so verifyPairsById must re-orient
    val ha = xxhash64(col("a"))
    val hb = xxhash64(col("b"))
    val idCand = cand.select(least(ha, hb).as("a"), greatest(ha, hb).as("b"))
    assert(idCand.where(col("a") =!= ha).count() > 0, "some pairs flip order")
    val byId = rows(DedupPipeline.verifyPairsById(idCand, withId(docs), cfg))
    assert(byString.nonEmpty)
    assert(byId === byString)
  }
}
