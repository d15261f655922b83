package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig
import graft.pipeline.SparkTestSession

class SkewToolsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("kll range buckets: deterministic, balanced, value-disjoint, co-located") {
    val df = spark.range(0, 100000, 1, 8)
      .select((xxhash64(col("id")) % 1000000).cast("double").as("v"))
    val parts = 8
    // deterministic: same boundaries on repeated computation
    val b1 = SkewTools.kllBoundaries(df, "v", parts)
    val b2 = SkewTools.kllBoundaries(df, "v", parts)
    assert(b1.sameElements(b2))
    assert(b1.length === parts + 1)
    // buckets are balanced (~equal weight) and value-disjoint
    val bucketed = df.withColumn("b", SkewTools.rangeBucket(col("v"), b1))
    val stats = bucketed.groupBy("b")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .orderBy("b").collect()
    assert(stats.length === parts)
    val expected = 100000.0 / parts
    stats.foreach { r =>
      assert(math.abs(r.getLong(1) - expected) / expected < 0.15,
        s"imbalanced bucket ${r.getInt(0)}: ${r.getLong(1)}")
    }
    stats.sliding(2).foreach {
      case Array(x, y) => assert(x.getDouble(3) <= y.getDouble(2),
        s"bucket overlap: ${x.getDouble(3)} > ${y.getDouble(2)}")
      case _ =>
    }
    // after repartitioning, each bucket lives whole in exactly one partition
    val out = SkewTools.repartitionByKllRange(df, "v", parts)
    val spreadPerBucket = out
      .withColumn("b", SkewTools.rangeBucket(col("v"), b1))
      .withColumn("p", spark_partition_id())
      .groupBy("b").agg(countDistinct("p").as("np")).collect()
    assert(spreadPerBucket.forall(_.getLong(1) === 1L))
  }

  test("salt recommendation: hot buckets detected, quiet corpora untouched") {
    val cfg = DedupConfig(maxBucketSize = 100)
    // hot bucket: 5000 members on key 42; background: unique keys
    val hot = (1 to 5000).map(i => (f"h$i%05d", 0, 42L))
    val quiet = (1 to 5000).map(i => (f"q$i%05d", 0, 1000L + i))
    val bands = (hot ++ quiet).toDF("conv_id", "band_idx", "band_key")
    val advice = SkewTools.recommendSalt(bands, cfg)
    assert(advice.recommendedSalt >= 40, s"salt ${advice.recommendedSalt} too low for a 5000-member bucket")
    assert(advice.hotKeys.nonEmpty && advice.hotKeys.head._1 === "42")

    val quietOnly = quiet.toDF("conv_id", "band_idx", "band_key")
    assert(SkewTools.recommendSalt(quietOnly, cfg).recommendedSalt === 1)

    // adaptive candidates stay linear AND connected on the hot bucket
    val pairs = SkewTools.adaptiveCandidatePairs(bands, cfg)
    val hotPairs = pairs.where(col("a").startsWith("h") || col("b").startsWith("h"))
    val n = hotPairs.count()
    assert(n <= 2 * 5000 + 2 * 64, s"expected linear candidates, got $n")
    val nodes = hot.map(_._1).toDF("conv_id")
    val cc = graft.pipeline.DedupPipeline.connectedComponents(
      hotPairs.select(col("a"), col("b")), nodes)
      .select("cluster_id").distinct().count()
    assert(cc === 1L)
  }

  test("q31: the real-corpus check reads over-threshold band buckets and misses none") {
    val cfg = DedupConfig()
    val dir = java.nio.file.Files.createTempDirectory("q31").toFile
    try {
      // 2,001 identical docs: every one of their band buckets holds 2,001
      // members, one above maxBucketSize
      val n = cfg.maxBucketSize + 1L
      spark.range(n).select(col("id").as("doc_id"),
          lit("the same boilerplate text in every document of this corpus").as("text"))
        .write.parquet(s"$dir/documents.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("string").as("conv_id"), col("text").as("doc"))
      val over = graft.pipeline.DedupPipeline.bands(
          graft.pipeline.DedupPipeline.minhashes(docs, cfg), cfg)
        .groupBy(col("band_key")).count().where(col("count") > cfg.maxBucketSize).count()
      assert(over > 0, "no band bucket above maxBucketSize: the check would pass vacuously")

      val r = graft.SparkEntry.queries("q31_salt_advisor")(spark, dir.toString).collect()
      assert(r.length === 1)
      assert(r.head.getAs[Long]("n_docs") === n)
      assert(r.head.getAs[Boolean]("real_nfn_ok"), "a hot band bucket is missing from the advice")
    } finally graft.pipeline.CheckpointLineageSpec.deleteDir(dir)
  }
}
