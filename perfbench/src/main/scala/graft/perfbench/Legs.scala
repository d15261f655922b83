package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.DedupConfig
import graft.pipeline.{BucketedCorpus, CheckpointedDedup, DedupPipeline, ParquetTableIO, TableIO}

/** The program calls each timed leg makes. */
object Legs {

  /** Stages committed when the simulated crash hits. */
  private val BeforeCrash = Seq("docs", "signatures", "bands", "cand_pairs")
  private val AfterCrash = Seq("verified_pairs", "cluster_assignments")

  /** graft.Main's call for a bucketed input directory. */
  def checkpointed(spark: SparkSession, corpus: String, io: TableIO, runId: String): DataFrame =
    new CheckpointedDedup(io, DedupConfig(), runId).run(
      BucketedCorpus.readAuto(spark, corpus),
      Some(() => BucketedCorpus.readDocs(spark, corpus)))

  /** Leave run `runId` under `root` as a crash just after `cand_pairs`
    * committed would: the later stage tables and their metrics rows gone. */
  def crashAfterCandidates(spark: SparkSession, root: String, runId: String): Unit = {
    val io = new ParquetTableIO(root)
    val kept = io.read(spark, s"$runId/metrics").where(col("stage").isin(BeforeCrash: _*))
    val rows = kept.collect()
    val schema = kept.schema
    AfterCrash.foreach(t => Files.delete(new File(root, s"$runId/$t")))
    io.write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), s"$runId/metrics")
  }

  /** The id-keyed in-memory path (DedupPipeline.run, q10–q12, streaming). */
  def inmem(spark: SparkSession, corpus: String): DataFrame =
    DedupPipeline.runWithDocs(BucketedCorpus.readDocs(spark, corpus), DedupConfig())

  /** DedupPipeline.runWithDocs, stage by stage, each stage's output
    * persisted and counted inside its span so the stages do not fuse into
    * connectedComponents' first action. Same calls, same order, same
    * result; the extra materialization is the traced leg's overhead
    * (`trace.inmem_overhead_s`). This copies runWithDocs' default path
    * only (bandSalt 1, id keys), so it refuses to run where runWithDocs
    * would take another. Returns the assignments and each layer's output
    * row count; the persisted stages stay cached until `releaseCache`. */
  def inmemTraced(spark: SparkSession, corpus: String,
                  tracer: Tracer): (DataFrame, Map[String, Long]) = {
    val cfg = DedupConfig()
    require(cfg.bandSalt == 1, s"traced in-memory leg copies the bandSalt 1 path, not ${cfg.bandSalt}")
    require(!sys.env.contains("SPARK_GRAFT_STRING_PATH"),
      "traced in-memory leg copies the id-keyed path; SPARK_GRAFT_STRING_PATH forces the string path")
    val rows = scala.collection.mutable.Map.empty[String, Long]
    def stage(layer: String)(df: => DataFrame): DataFrame = tracer.span(layer) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      rows(layer) = p.count()
      p
    }
    val docs = stage("docs") {
      BucketedCorpus.readDocs(spark, corpus).withColumn("id", xxhash64(col("conv_id")))
    }
    val bands = stage("sigs_bands") {
      DedupPipeline.bandsById(docs.withColumn("sig",
          graft.functions.text_signature(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed))
        .select(col("id"), col("sig.minhash").as("minhash")), cfg)
    }
    val cand = stage("candidates")(DedupPipeline.candidatePairsById(bands, cfg))
    val verified = stage("verify")(DedupPipeline.verifyPairsById(cand, docs, cfg))
    val assigned = stage("cc") {
      val a = DedupPipeline.connectedComponents(verified, docs.select(col("conv_id")))
      val u = docs.agg(count(lit(1)), count_distinct(col("id"))).head()
      require(u.getLong(0) == u.getLong(1),
        "conv_id hash collision: runWithDocs would take its string-keyed fallback")
      a
    }
    (assigned, rows.toMap)
  }

  /** Release what an in-memory leg cached. */
  def releaseCache(spark: SparkSession): Unit = {
    DedupPipeline.unpersistIntermediates(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes of the data files under `f`; the hidden checksum files the local
    * file system adds are not counted. */
  def dataBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L
    else f.length()
}
