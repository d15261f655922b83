package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig

/** runWithDocs' commit: its stages run under adaptive execution and are
  * kept as local checkpoints, which `unpersistIntermediates` releases. */
class InMemoryCommitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val cfg = DedupConfig()

  private def docsOf(s: SparkSession, nConvs: Int): DataFrame =
    DedupPipeline.buildDocs(Transcripts.asDataFrame(s, Transcripts.generate(nConvs), 8))

  private def assignmentMap(asg: DataFrame): Map[String, String] =
    asg.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("committed frames are sized by the data, not by spark.sql.shuffle.partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "256")
    val docs = docsOf(s, 60)
    val run = DedupPipeline.stages(() => docs, cfg, DedupPipeline.inMemory(cfg))
    val parts = Seq("docs" -> run.docs, "verified_pairs" -> run.verified)
      .map { case (name, df) => name -> df.rdd.getNumPartitions }
    assert(parts.forall(_._2 < 256), parts)
    val inMemory = assignmentMap(run.assignments)
    val io = new ParquetTableIO(Files.createTempDirectory("inmem-commit").toString)
    val checkpointed = assignmentMap(new CheckpointedDedup(io, cfg, "run-p").run(docs, Some(() => docs)))
    assert(inMemory.size === 60)
    assert(inMemory.values.toSet.size < 60, "the corpus plants duplicates")
    assert(inMemory === checkpointed)
    DedupPipeline.unpersistIntermediates(s)
  }

  test("unpersistIntermediates releases every RDD a run keeps") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = docsOf(spark, 60)
    assert(DedupPipeline.runWithDocs(docs, cfg).count() === 60)
    // CC's star loop checkpoints each round; the driver union-find path
    // the run above takes keeps none
    val run = DedupPipeline.stages(() => docs, cfg, DedupPipeline.inMemory(cfg))
    val starLoop = DedupPipeline.connectedComponents(run.verified,
      run.docs.select(col("conv_id")), driverMaxEdges = 0L)
    assert(assignmentMap(starLoop) === assignmentMap(run.assignments))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "the runs keep their stages")
    DedupPipeline.unpersistIntermediates(spark)
    val kept = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(kept.isEmpty, kept.values.map(_.toDebugString).mkString("\n"))
  }
}
