package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig
import java.nio.file.Files

class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val turns = Transcripts.generate(150)
  lazy val tdf = Transcripts.asDataFrame(spark, turns, 6).cache()

  private def asgMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("full run writes all stages + per-partition metrics") {
    val root = Files.createTempDirectory("ckpt").toString
    val p = new CheckpointedDedup(new ParquetTableIO(root), cfg, "run-A")
    val asg = asgMap(p.run(tdf))
    assert(asg.nonEmpty)
    assert(p.computedStages === List("docs", "bands",
      "cand_pairs", "verified_pairs", "cluster_assignments"))
    val m = p.metrics(spark)
    val stages = m.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages === Set("docs", "bands", "cand_pairs",
      "verified_pairs", "cluster_assignments"))
    // lineage integrity: docs rows_out sums to the number of conversations
    val docsRows = m.where(col("stage") === "docs")
      .agg(sum("rows_out")).head().getLong(0)
    assert(docsRows === turns.map(_.conv_id).distinct.size)
    // metrics carry a usable HLL: union across partitions ≈ distinct convs
    val est = m.where(col("stage") === "docs")
      .agg(graft.functions.hll_estimate(graft.functions.hll_merge_agg(col("hll_sketch"), 12)))
      .head().getDouble(0)
    assert(math.abs(est - docsRows) / docsRows < 0.05)
  }

  test("resume mid-pipeline: completed stages skipped, assignments identical") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)

    // uninterrupted reference run in a separate workdir
    val ref = new CheckpointedDedup(new ParquetTableIO(
      Files.createTempDirectory("ckptref").toString), cfg, "run-B")
    val refAsg = asgMap(ref.run(tdf))

    // simulate a kill after 'bands': run the first three stages only by
    // running fully, then deleting the downstream outputs
    val first = new CheckpointedDedup(io, cfg, "run-B")
    first.run(tdf)
    for (s <- Seq("cand_pairs", "verified_pairs", "cluster_assignments")) {
      val dir = new java.io.File(s"$root/run-B/$s")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }

    // resume with the same run_id
    val resumed = new CheckpointedDedup(io, cfg, "run-B")
    val resumedAsg = asgMap(resumed.run(tdf))
    assert(resumed.computedStages === List("cand_pairs", "verified_pairs",
      "cluster_assignments"), s"got ${resumed.computedStages}")
    assert(resumedAsg === refAsg, "resumed assignments differ from uninterrupted run")
  }

  test("a run directory the six-stage runner left resumes as a full no-op") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    val a1 = asgMap(new CheckpointedDedup(io, cfg, "run-F").run(tdf))
    // what the former runner also left: a signatures table and its lineage
    io.write(DedupPipeline.signatures(io.read(spark, "run-F/docs"), cfg)
      .select("conv_id", "doc_len", "minhash", "simhash"), "run-F/signatures")
    val m0 = io.read(spark, "run-F/metrics")
    val sigLineage = m0.where(col("stage") === "docs").limit(1)
      .withColumn("stage", lit("signatures")).collect()
    io.append(spark.createDataFrame(java.util.Arrays.asList(sigLineage: _*), m0.schema),
      "run-F/metrics")
    def metricRows = io.read(spark, "run-F/metrics")
      .withColumn("hll_sketch", hex(col("hll_sketch"))).collect().map(_.toString).sorted.toSeq
    val before = metricRows
    assert(before.count(_.contains(",signatures,")) === 1)

    val p2 = new CheckpointedDedup(io, cfg, "run-F")
    val a2 = asgMap(p2.run(tdf))
    assert(p2.computedStages === Nil)
    assert(a2 === a1)
    assert(metricRows === before, "stale signatures lineage is ignored, not dropped")
    assert(io.exists(spark, "run-F/signatures"))
  }

  test("a run directory written before doc ids fails loudly on resume") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    new CheckpointedDedup(io, cfg, "run-O").run(tdf)
    // what the string-keyed runner left after a crash just after 'bands':
    // docs without ids, bands keyed by conv_id, nothing later
    def rewrite(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val rows = df.collect()
      io.write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), name)
    }
    val docs = io.read(spark, "run-O/docs")
    rewrite(io.read(spark, "run-O/bands").join(docs.select("id", "conv_id"), "id")
      .select("conv_id", "band_key"), "run-O/bands")
    rewrite(docs.drop("id"), "run-O/docs")
    rewrite(io.read(spark, "run-O/metrics").where(col("stage").isin("docs", "bands")),
      "run-O/metrics")
    for (s <- Seq("cand_pairs", "verified_pairs", "cluster_assignments"))
      CheckpointLineageSpec.deleteDir(new java.io.File(s"$root/run-O/$s"))

    val resumed = new CheckpointedDedup(io, cfg, "run-O")
    val e = intercept[org.apache.spark.sql.AnalysisException](resumed.run(tdf))
    assert(e.getMessage.contains("`id`"), e.getMessage)
    assert(!io.exists(spark, "run-O/cand_pairs"), "a stage was written from mixed keys")
  }

  test("second run with same run_id is a full no-op") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    val p1 = new CheckpointedDedup(io, cfg, "run-C")
    val a1 = asgMap(p1.run(tdf))
    val p2 = new CheckpointedDedup(io, cfg, "run-C")
    val a2 = asgMap(p2.run(tdf))
    assert(p2.computedStages === Nil)
    assert(a1 === a2)
  }

  test("a vanished table whose lineage stayed is recomputed with one lineage set") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    val p1 = new CheckpointedDedup(io, cfg, "run-D")
    val a1 = asgMap(p1.run(tdf))
    val before = p1.metrics(spark).groupBy("stage").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    CheckpointLineageSpec.deleteDir(new java.io.File(s"$root/run-D/cand_pairs"))
    val p2 = new CheckpointedDedup(io, cfg, "run-D")
    val a2 = asgMap(p2.run(tdf))
    assert(p2.computedStages === List("cand_pairs"))
    assert(a2 === a1)

    val m = p2.metrics(spark)
    val after = m.groupBy("stage").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after === before, "every stage keeps exactly one lineage set")
    val cand = m.where(col("stage") === "cand_pairs")
    // one set: a single append (one ts), one row per written partition
    assert(cand.select("ts").distinct().count() === 1L)
    val ids = cand.select("partition_id").collect().map(_.getInt(0))
    assert(ids.distinct.length === ids.length)
    assert(cand.agg(sum("rows_out")).head().getLong(0) ===
      io.read(spark, "run-D/cand_pairs").count())
  }

  test("a corpus without duplicates resumes as a full no-op") {
    val t0 = new java.sql.Timestamp(0L)
    val unrelated = Seq(
      "the quick brown fox jumps over the lazy dog beside the quiet river bank",
      "telescopes gather faint light from distant galaxies on a cold clear night",
      "a loaf of bread needs flour, water, salt, yeast and a very patient baker"
    ).zipWithIndex.map { case (text, i) =>
      Transcripts.Turn(s"conv-$i", 0, "user", text, null, t0)
    }
    val df = Transcripts.asDataFrame(spark, unrelated)
    val io = new ParquetTableIO(Files.createTempDirectory("ckpt").toString)
    val p1 = new CheckpointedDedup(io, cfg, "run-E")
    val a1 = asgMap(p1.run(df))
    assert(a1 === unrelated.map(t => t.conv_id -> t.conv_id).toMap)
    // the empty stages still leave one lineage row each
    val empty = p1.metrics(spark).where(col("stage").isin("cand_pairs", "verified_pairs"))
      .select("stage", "partition_id", "rows_out", "checksum").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(empty === Set(("cand_pairs", 0, 0L, 0L), ("verified_pairs", 0, 0L, 0L)))

    val p2 = new CheckpointedDedup(io, cfg, "run-E")
    val a2 = asgMap(p2.run(df))
    assert(p2.computedStages === Nil)
    assert(a2 === a1)
  }
}
