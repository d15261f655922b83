package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig

/** The id-keyed stages give the same candidates, components and verified
  * pairs as the conv_id-keyed ones, because `withIds` ranks docs in the
  * order the string key sorts bucket members by. The conv_id-keyed verify
  * and cluster closure live here, as the oracles of the id bodies. */
class KeyEquivalenceSpec extends AnyFunSuite {
  import KeyEquivalenceSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val docs = DedupPipeline.buildDocs(
    Transcripts.asDataFrame(spark, Transcripts.generate(200), 8)).cache()
  lazy val docsWithId = DedupPipeline.withIds(docs).cache()

  /** 800 rows colliding into ~120 buckets. */
  private lazy val randomBands: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (1 to 800).map(i => (f"c$i%04d", i % 7, rnd.nextInt(120).toLong))
      .toDF("conv_id", "band_idx", "band_key")
  }

  private lazy val corpusBands: DataFrame =
    DedupPipeline.bands(DedupPipeline.signatures(docs, cfg), cfg)

  /** (conv_id, id) of the production ids, computed once. */
  private def idsOf(convIds: DataFrame): DataFrame =
    DedupPipeline.withIds(convIds.distinct()).select("conv_id", "id").cache()

  /** Both band streams: conv_id-keyed, id-keyed, and the ids that map one
    * to the other. The corpus id bands come from bandsById over the docs'
    * ids, as the pipeline makes them. */
  private lazy val bandStreams: Seq[(String, DataFrame, DataFrame, DataFrame)] = {
    val randomIds = idsOf(randomBands.select("conv_id"))
    Seq(
      ("random", randomBands,
        randomBands.join(randomIds, "conv_id").select("id", "band_key"), randomIds),
      ("corpus", corpusBands, DedupPipeline.bandsById(docsWithId.select(col("id"),
          graft.functions.text_minhash(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed)
            .as("minhash")), cfg),
        docsWithId.select("conv_id", "id")))
  }

  /** id pairs mapped back to conv_id pairs, oriented a < b. */
  private def toConvIds(idPairs: DataFrame, ids: DataFrame): DataFrame =
    idPairs
      .join(ids.select(col("id").as("a"), col("conv_id").as("ca")), Seq("a"))
      .join(ids.select(col("id").as("b"), col("conv_id").as("cb")), Seq("b"))
      .select(least(col("ca"), col("cb")).as("a"), greatest(col("ca"), col("cb")).as("b"))

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("withIds: distinct ids in (xxhash64(conv_id), conv_id) order, a null conv_id included") {
    import spark.implicits._
    // 100k docs: thousands of the 2^20 hash ranges hold two docs or more
    val convIds = ((1 to 100000).map(i => Option(f"c$i%06d")) :+ None).toDF("conv_id")
    def ids(docs: DataFrame) = DedupPipeline.withIds(docs)
      .select(col("id"), xxhash64(col("conv_id")).as("h"), col("conv_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    val rows = ids(convIds.repartition(6))
    assert(rows.length === 100001)
    assert(rows.map(_._1).distinct.length === rows.length, "ids are distinct")
    assert(rows.groupBy(_._1 >>> 43).exists(_._2.length > 1), "no range holds two docs")
    assert(rows.forall { case (id, h, _) => (id & 0xffff) == (h & 0xffff) },
      "the low id bits are not the hash's")
    // Spark's ascending order: nulls first
    val byKey = rows.sortWith { case ((_, ha, ca), (_, hb, cb)) =>
      if (ha != hb) ha < hb
      else (ca, cb) match {
        case (None, Some(_)) => true
        case (Some(x), Some(y)) => x < y
        case _ => false
      }
    }
    assert(rows.sortBy(_._1).toSeq === byKey.toSeq, "id order is not the string key's order")
    assert(rows.exists(_._3.isEmpty))
    // the ids are a function of the doc set, not of its partitioning
    assert(ids(convIds.repartition(1)).toSet === rows.toSet)
  }

  test("candidatePairsById mapped back to conv_id equals candidatePairs at bandSalt 1") {
    for ((name, bands, idBands, ids) <- bandStreams) {
      val byString = pairSet(DedupPipeline.candidatePairs(bands, cfg))
      val byId = pairSet(toConvIds(DedupPipeline.candidatePairsById(idBands, cfg), ids))
      assert(byString.nonEmpty, name)
      assert(byId === byString, name)
    }
  }

  test("at bandSalt 4 both keys give the same components") {
    val salted = cfg.copy(bandSalt = 4)
    for ((name, bands, idBands, ids) <- bandStreams) {
      val nodes = bands.select("conv_id").distinct()
      def components(edges: DataFrame): Map[String, String] =
        DedupPipeline.connectedComponents(edges, nodes).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      val byString = components(DedupPipeline.candidatePairs(bands, salted))
      val byId = components(toConvIds(DedupPipeline.candidatePairsById(idBands, salted), ids))
      assert(byString.values.toSet.size < byString.size, s"$name: no edges")
      assert(byId === byString, name)
    }
  }

  private def verifiedRows(df: DataFrame) =
    df.select("a", "b", "jaccard", "simhash_dist", "simhash_ok").collect().map(_.toSeq).toSet

  /** The corpus' string candidates, and the same pairs as ids oriented by
    * id, as candidatePairsById emits them: id order is not conv_id order,
    * so verifyPairsById must re-orient. The id pairs are persisted, as
    * verifyPairsById's callers pass them. */
  private lazy val corpusCandidates: (DataFrame, DataFrame) = {
    val cand = DedupPipeline.candidatePairs(corpusBands, cfg)
    val ids = docsWithId.select("conv_id", "id")
    val withIds = cand
      .join(ids.select(col("conv_id").as("a"), col("id").as("ia")), Seq("a"))
      .join(ids.select(col("conv_id").as("b"), col("id").as("ib")), Seq("b"))
    assert(withIds.where(col("ia") > col("ib")).count() > 0, "some pairs flip order")
    (cand, withIds.select(least(col("ia"), col("ib")).as("a"),
      greatest(col("ia"), col("ib")).as("b")).cache())
  }

  test("verifyPairsById equals verifyPairs on the same candidates") {
    val (cand, idCand) = corpusCandidates
    val byString = verifiedRows(verifyPairs(cand, docs, cfg))
    val byId = verifiedRows(DedupPipeline.verifyPairsById(idCand, docsWithId, cfg))
    assert(byString.nonEmpty)
    assert(byId === byString)
  }

  test("verifyPairsById with broadcast joins off (sort-merge, as at scale) gives the same rows") {
    val (cand, idCand) = corpusCandidates
    val expected = verifiedRows(DedupPipeline.verifyPairsById(idCand, docsWithId, cfg))
    val smj = spark.newSession()
    smj.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def in(df: DataFrame) = smj.createDataFrame(df.rdd, df.schema)
    val verified = DedupPipeline.verifyPairsById(in(idCand).cache(), in(docsWithId), cfg)
    assert(verified.columns.toSeq === Seq("a", "b", "jaccard", "simhash_dist", "simhash_ok"))
    val rows = verified.collect().map(_.toSeq).toSet
    // the final adaptive plan of the collect
    val plan = verified.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    assert(rows === expected)
    assert(expected === verifiedRows(verifyPairs(cand, docs, cfg)))
    DedupPipeline.unpersistIntermediates(smj)
  }

  test("the id cluster closure equals the string closure") {
    val byString = verifiedRows(completeNearDupPairs(
      verifyPairs(DedupPipeline.candidatePairs(corpusBands, cfg), docs, cfg), docs, cfg))
    val run = DedupPipeline.stages(() => docs, cfg, DedupPipeline.inMemory(cfg))
    val byId = verifiedRows(DedupPipeline.completeNearDupPairs(run.assignments, run.docs, cfg))
    assert(byString.nonEmpty)
    assert(byId === byString)
    DedupPipeline.unpersistIntermediates(spark)
  }
}

object KeyEquivalenceSpec {
  /** The conv_id-keyed verify: string candidates (a < b) joined to docs by
    * conv_id, through the production gate. */
  def verifyPairs(candPairs: DataFrame, docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val candIds = candPairs.select(col("a").as("conv_id"))
      .unionByName(candPairs.select(col("b").as("conv_id")))
      .distinct()
    val d = docs.select(col("conv_id"), col("doc")).join(candIds, Seq("conv_id"), "left_semi")
    DedupPipeline.verifyGate(candPairs
      .join(d.select(col("conv_id").as("a"), col("doc").as("doc_a")), Seq("a"))
      .join(d.select(col("conv_id").as("b"), col("doc").as("doc_b")), Seq("b"))
      .withColumn("ca", col("a")).withColumn("cb", col("b")), cfg)
  }

  /** The conv_id-keyed cluster closure: components of the verified edges,
    * then every intra-cluster pair verified by the string verify. */
  def completeNearDupPairs(verified: DataFrame, docs: DataFrame,
                           cfg: DedupConfig): DataFrame = {
    import docs.sparkSession.implicits._
    val clusters = DedupPipeline.connectedComponents(verified.select(col("a"), col("b")),
        docs.select(col("conv_id")))
      .collect().groupMap(_.getString(1))(_.getString(0)).values
    val intra = clusters.toSeq.flatMap(_.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
    verifyPairs(intra.toDF("a", "b"), docs, cfg)
  }
}
