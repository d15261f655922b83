package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** buildDocsSorted (the streaming reconstruction over the bucketed layout)
  * must be OUTPUT-IDENTICAL to buildDocs (the exchange-planned groupBy):
  * same doc bytes, n_turns, doc_len — including turn_idx tie-breaks by
  * (ts, text), null/empty text handling (concat_ws skips nulls, keeps
  * empty strings), and code-point doc_len above the BMP. */
class DocsSortedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def docsMap(df: DataFrame): Map[String, (String, Int, Long)] =
    df.collect().map(r =>
      r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap

  private def assertIdentical(a: DataFrame, b: DataFrame): Unit = {
    val (ma, mb) = (docsMap(a), docsMap(b))
    assert(ma.keySet === mb.keySet)
    ma.foreach { case (id, va) =>
      assert(va === mb(id), s"doc mismatch for $id")
    }
  }

  test("streaming reconstruction identical to buildDocs on the bucketed corpus") {
    val turns = Transcripts.generate(200)
    val tdf = Transcripts.asDataFrame(spark, turns, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-sorted").toString
    BucketedCorpus.write(tdf, dir, buckets = 8)
    assert(BucketedCorpus.singleFilePerBucket(dir))
    val streamed = BucketedCorpus.readDocs(spark, dir)
    // the engaged path really is the streaming one: no aggregate in the plan
    assert(!streamed.queryExecution.executedPlan.toString.contains("Aggregate"))
    assertIdentical(streamed, DedupPipeline.buildDocs(tdf))
  }

  test("turn_idx ties, null/empty text, non-BMP doc_len — exact parity") {
    import spark.implicits._
    def ts(ms: Long) = new Timestamp(ms)
    val rows = Seq(
      // duplicate turn_idx: order must follow ts
      ("c1", 0, "user", "b-second", "t", ts(2000L)),
      ("c1", 0, "user", "a-first", "t", ts(1000L)),
      ("c1", 1, "user", "tail", "t", ts(3000L)),
      // equal (turn_idx, ts): order must follow text (UTF-8 byte order)
      ("c2", 0, "user", "zz", "t", ts(1000L)),
      ("c2", 0, "user", "aa", "t", ts(1000L)),
      // null text is skipped by concat_ws (no separator), still counted
      ("c3", 0, "user", null, "t", ts(1000L)),
      ("c3", 1, "user", "only", "t", ts(2000L)),
      ("c3", 2, "user", null, "t", ts(3000L)),
      // empty text keeps its separator slot
      ("c4", 0, "user", "", "t", ts(1000L)),
      ("c4", 1, "user", "after-empty", "t", ts(2000L)),
      // non-BMP: doc_len counts code points, not UTF-16 units
      ("c5", 0, "user", "emoji 😀 done", "t", ts(1000L)),
      // single-turn conv
      ("c6", 7, "user", "solo", "t", ts(1000L)))
    val tdf = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-ties").toString
    BucketedCorpus.write(tdf, dir, buckets = 4)
    assertIdentical(BucketedCorpus.readDocs(spark, dir), DedupPipeline.buildDocs(tdf))
    // pin the tricky expectations directly, not just parity
    val m = docsMap(BucketedCorpus.readDocs(spark, dir))
    assert(m("c1") === (("a-first\nb-second\ntail", 3, 21L)))
    assert(m("c2") === (("aa\nzz", 2, 5L)))
    assert(m("c3") === (("only", 3, 4L)))
    assert(m("c4") === (("\nafter-empty", 2, 12L)))
    assert(m("c5")._3 === "emoji X done".length.toLong) // 12 code points
  }

  test("null conv_id is its own group, not grafted onto the next conversation") {
    import spark.implicits._
    def ts(ms: Long) = new Timestamp(ms)
    val rows = Seq(
      (null.asInstanceOf[String], 0, "user", "null-a", "t", ts(1000L)),
      (null.asInstanceOf[String], 1, "user", "null-b", "t", ts(2000L)),
      ("c1", 0, "user", "c1-a", "t", ts(1000L)),
      ("c1", 1, "user", "c1-b", "t", ts(2000L)),
      ("c2", 0, "user", "c2-solo", "t", ts(1000L)))
    val tdf = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-null").toString
    BucketedCorpus.write(tdf, dir, buckets = 2)
    val streamed = BucketedCorpus.readDocs(spark, dir)
    assert(!streamed.queryExecution.executedPlan.toString.contains("Aggregate"))
    assertIdentical(streamed, DedupPipeline.buildDocs(tdf))
    val m = docsMap(streamed)
    assert(m(null) === (("null-a\nnull-b", 2, 13L)))
    assert(m("c1") === (("c1-a\nc1-b", 2, 9L)))
    assert(m("c2") === (("c2-solo", 1, 7L)))
  }

  test("direct unaligned file scan is rejected loudly (file-split hazard)") {
    // reading the bucketed table WITHOUT readDocs' planning window: the bare
    // projection has no distribution requirement, so Spark plans a regular
    // (splittable) file scan — a conversation straddling a row-group split
    // would emit two partial docs, both internally sorted, invisible to the
    // per-row monotonicity assert. buildDocsSorted must refuse the plan.
    val turns = Transcripts.generate(100)
    val tdf = Transcripts.asDataFrame(spark, turns, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-unaligned").toString
    BucketedCorpus.write(tdf, dir, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      DedupPipeline.buildDocsSorted(BucketedCorpus.read(spark, dir))
    }
    assert(e.getMessage.contains("bucket-aligned"))
    // ...and readDocs over the same dir still takes the streaming path,
    // with the scan pinned bucket-aligned inside its planning window
    val streamed = BucketedCorpus.readDocs(spark, dir)
    assert(!streamed.queryExecution.executedPlan.toString.contains("Aggregate"))
    assertIdentical(streamed, DedupPipeline.buildDocs(tdf))
  }

  test("multi-row-group bucket files split under a bare projection; readDocs keeps them whole") {
    // a child session, so the tiny split and row-group sizes stay out of the
    // shared test session; parquet.block.size reaches the writer because
    // session confs are copied into the write's Hadoop conf, and gives each
    // bucket file several row groups
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s.conf.set("parquet.block.size", (16 * 1024).toString)
    val buckets = 8
    val tdf = Transcripts.generateDf(s, 2000, 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-rowgroups").toString
    BucketedCorpus.write(tdf, dir, buckets)
    assert(BucketedCorpus.singleFilePerBucket(dir))

    // the bare projection: Spark drops the bucketed scan and splits the
    // files between row groups, so some conversation is cut in two
    val projection = BucketedCorpus.read(s, dir)
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
    assert(projection.rdd.getNumPartitions > buckets)
    val straddling = projection.rdd
      .mapPartitions(_.map(_.getString(0)).toSet.iterator)
      .map(c => (c, 1)).reduceByKey(_ + _).filter(_._2 > 1).count()
    assert(straddling > 0, "no conversation spans two read partitions")
    val e = intercept[IllegalArgumentException](DedupPipeline.buildDocsSorted(projection))
    assert(e.getMessage.contains("bucket-aligned"))

    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val before = s.conf.getOption(key)
    val streamed = BucketedCorpus.readDocs(s, dir)
    assert(s.conf.getOption(key) === before)
    assert(!streamed.queryExecution.executedPlan.toString.contains("Aggregate"))
    assertIdentical(streamed, DedupPipeline.buildDocs(tdf))
  }

  test("unsorted partition fails loudly instead of concatenating out of order") {
    import spark.implicits._
    val bad = Seq(
      ("c1", 1, "user", "later", "t", new Timestamp(1000L)),
      ("c1", 0, "user", "earlier", "t", new Timestamp(2000L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .coalesce(1)
    val e = intercept[org.apache.spark.SparkException] {
      DedupPipeline.buildDocsSorted(bad).collect()
    }
    assert(e.getMessage.contains("not sorted") ||
      Option(e.getCause).exists(_.getMessage.contains("not sorted")))
  }

  test("runWithDocs over streamed docs produces the same cluster assignments") {
    val turns = Transcripts.generate(150)
    val tdf = Transcripts.asDataFrame(spark, turns, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-run").toString
    BucketedCorpus.write(tdf, dir, buckets = 8)
    val cfg = graft.core.DedupConfig()
    val viaRun = DedupPipeline.run(tdf, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val viaDocs = DedupPipeline.runWithDocs(
        BucketedCorpus.readDocs(spark, dir), cfg)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaRun === viaDocs)
  }
}
