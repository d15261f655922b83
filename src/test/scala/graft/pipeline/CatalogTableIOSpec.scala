package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig

/** The Iceberg-shaped seam driven through a real catalog: the identical
  * CatalogTableIO code path runs against the built-in session catalog here
  * and against an Iceberg catalog in production (config-only swap). The
  * checkpointed pipeline must resume from CATALOG tables exactly as it
  * does from parquet paths. */
class CatalogTableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshIo(ns: String): CatalogTableIO = CatalogTableIOSpec.freshIo(spark, ns)

  test("write / overwrite / append / exists round-trip through the catalog") {
    import spark.implicits._
    val io = freshIo("graft_io_t1")
    assert(!io.exists(spark, "run-1/docs"))
    io.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "run-1/docs")
    assert(io.exists(spark, "run-1/docs"))
    assert(io.read(spark, "run-1/docs").count() === 2L)
    // overwrite replaces, append adds
    io.write(Seq((3L, "c")).toDF("id", "v"), "run-1/docs")
    assert(io.read(spark, "run-1/docs").count() === 1L)
    io.append(Seq((4L, "d")).toDF("id", "v"), "run-1/docs")
    assert(io.read(spark, "run-1/docs").count() === 2L)
    // append creates when absent (the metrics-table pattern)
    io.append(Seq((9L, "m")).toDF("id", "v"), "run-1/metrics")
    assert(io.read(spark, "run-1/metrics").count() === 1L)
  }

  test("checkpointed dedup resumes from catalog tables (config-swap Iceberg path)") {
    val io = freshIo("graft_io_t2")
    val cfg = DedupConfig()
    val turns = Transcripts.generate(120)
    val tdf = Transcripts.asDataFrame(spark, turns, 4)

    val r1 = new CheckpointedDedup(io, cfg, "runA")
    val a1 = r1.run(tdf).orderBy(col("conv_id")).collect()
    assert(r1.computedStages.nonEmpty)

    val r2 = new CheckpointedDedup(io, cfg, "runA")
    val a2 = r2.run(tdf).orderBy(col("conv_id")).collect()
    assert(r2.computedStages.isEmpty, s"resume recomputed: ${r2.computedStages}")
    assert(a1.map(_.toString).sameElements(a2.map(_.toString)))

    // lineage metrics landed as a catalog table
    val m = r2.metrics(spark)
    assert(m.where(col("stage") === "cluster_assignments").count() > 0)
  }
}

object CatalogTableIOSpec {
  /** A CatalogTableIO over an emptied namespace of the session catalog. */
  def freshIo(spark: SparkSession, ns: String): CatalogTableIO = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $ns")
    spark.sql(s"SHOW TABLES IN $ns").collect().foreach { r =>
      spark.sql(s"DROP TABLE IF EXISTS $ns.${r.getString(1)}")
    }
    // the in-memory catalog forgets tables across sessions but their
    // managed locations persist — clear them so runs are hermetic
    CheckpointLineageSpec.deleteDir(new java.io.File(s"/tmp/graft-test-warehouse/$ns.db"))
    new CatalogTableIO(ns)
  }
}
