package graft.pipeline

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.DedupConfig
import graft.sketch.HllSketch

/** Checkpointed, resumable pipeline runner (SURVEY §2b P10–P12; north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * It applies `DedupPipeline.stages`, the composition `runWithDocs` runs in
  * memory, and commits each stage as a table: docs (with their `id`) →
  * bands (id, band_key) → cand_pairs (id pairs) → verified_pairs →
  * cluster_assignments. `bands` holds the signature kernel's compact
  * product (32 band keys per doc, not 128 minhash values), so a crash
  * after it never reruns the costliest stage. The ids are fixed by the
  * docs table; a run directory whose docs table has no `id` (written
  * before ids existed) fails on resume and needs a new run id. An older
  * run's `signatures` table and lineage rows are never read.
  *
  * Every stage materializes its output table plus per-partition lineage
  * rows in a `metrics` table:
  *   (run_id, stage, partition_id, rows_in, rows_out, checksum, hll_sketch, ts)
  * A stage is complete iff its table exists AND its metrics rows are
  * present; a re-submitted run with the same run_id skips completed stages
  * and reproduces IDENTICAL final assignments (everything downstream of the
  * deterministic generator/pipeline is deterministic by construction:
  * seeded permutations, stable sort keys, deterministic compaction).
  *
  * The lineage is computed inside the stage's own write tasks
  * (`PartitionLineageAgg` observed on the written DataFrame), so
  * `partition_id` is the written partition — one row per non-empty output
  * file. A stage with no output rows gets one row instead (partition_id
  * 0, rows_out 0, checksum 0, an empty HLL), so that it too counts as
  * complete on resume. The checksum is an order-insensitive XOR of
  * xxhash64 over the stage's key columns; the HLL sketch counts distinct
  * values of the first key column per partition — both are the reference
  * sketch families doing the metrics job the north star assigns them
  * (SURVEY §2b P12).
  *
  * Job budget: a computed stage costs its own write plus the metrics
  * append; a skipped stage costs no job. A run reads the metrics table
  * once, as (stage, rows_out) rows: that decides which stages are
  * complete and chains rows_in(stage N) = Σrows_out(stage N-1). The docs
  * stage's rows_in is the turns it grouped, Σn_turns, observed in its
  * own write.
  */
final class CheckpointedDedup(
    io: TableIO,
    cfg: DedupConfig = DedupConfig(),
    runId: String = "run-0") {

  import CheckpointedDedup._

  private def metricsName = s"$runId/metrics"

  /** Stages that executed (not resumed) in the last `run` call. */
  var computedStages: List[String] = Nil

  /** Σrows_out per stage with lineage rows, as of the current `run`. */
  private val rowsOut = mutable.Map.empty[String, Long]

  /** @param docsBuilder optional replacement for the docs stage body —
    *   callers whose input layout has a cheaper correct reconstruction
    *   (BucketedCorpus.readDocs streams docs off the bucket sort) inject
    *   it here; output must be identical to buildDocs (DocsSortedSpec). */
  def run(transcripts: DataFrame,
          docsBuilder: Option[() => DataFrame] = None): DataFrame = {
    val spark = transcripts.sparkSession
    computedStages = Nil
    rowsOut.clear()
    rowsOut ++= lineageTotals(spark)
    var previous: Option[String] = None
    DedupPipeline.stages(
      () => docsBuilder.map(_.apply()).getOrElse(DedupPipeline.buildDocs(transcripts)), cfg,
      (name, keyCols) => body => {
        val out = stage(spark, name, keyCols, previous)(body)
        previous = Some(name)
        out
      }).assignments
  }

  /** Read the metrics table (for tests / the resume planner). */
  def metrics(spark: SparkSession): DataFrame = io.read(spark, metricsName)

  /** The one metrics read of a run: (stage, rows_out) rows collected and
    * summed locally — no shuffle. */
  private def lineageTotals(spark: SparkSession): Map[String, Long] =
    if (!io.exists(spark, metricsName)) Map.empty
    else metrics(spark).select(col("stage"), col("rows_out")).collect()
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)

  /** Rewrites `metrics` without `name`'s rows. The rows are collected
    * before the overwrite: a table cannot be overwritten while it is read. */
  private def dropLineage(spark: SparkSession, name: String): Unit = {
    val m = metrics(spark)
    val kept = m.where(col("stage") =!= name).collect()
    io.write(spark.createDataFrame(java.util.Arrays.asList(kept: _*), m.schema), metricsName)
  }

  /** Reads `name`'s table if it is complete, else computes, writes and
    * records it. rows_in is Σrows_out of the `previous` stage; the first
    * stage, docs, observes Σn_turns instead. */
  private def stage(spark: SparkSession, name: String, keyCols: Seq[String],
                    previous: Option[String])(compute: () => DataFrame): DataFrame = {
    val table = s"$runId/$name"
    if (rowsOut.contains(name) && io.exists(spark, table)) io.read(spark, table)
    else {
      val turns = if (previous.isEmpty) Some(col("n_turns")) else None
      val (out, observation) = observeLineage(compute(), keyCols, turns)
      io.write(out, table)
      // stage output is on disk: release any intermediates the pipeline
      // kept while computing it (verify's candidate-doc subset, CC's edges
      // and round checkpoints)
      DedupPipeline.unpersistIntermediates(spark)
      computedStages = computedStages :+ name
      val observed = Await.result(observation.future, 10.minutes)
      val rowsIn = previous.fold(observed.getLong(1))(rowsOut)
      val parts = observed.getSeq[Row](0) match {
        case Seq() => Seq(EmptyLineage)
        case rows => rows
      }
      // the table vanished while its lineage stayed: replace, not add to, it
      if (rowsOut.contains(name)) dropLineage(spark, name)
      rowsOut(name) = parts.map(_.getLong(1)).sum
      val lineage = spark.createDataFrame(java.util.Arrays.asList(parts: _*),
          PartitionLineageAgg.PartitionType)
        .select(lit(runId).as("run_id"), lit(name).as("stage"), col("partition_id"),
          lit(rowsIn).as("rows_in"), col("rows_out"), col("checksum"), col("hll_sketch"),
          current_timestamp().as("ts"))
      io.append(lineage, metricsName)
      io.read(spark, table)
    }
  }
}

object CheckpointedDedup {
  /** The lineage row of a stage that wrote no rows. */
  private val EmptyLineage: Row =
    Row(0, 0L, 0L, new HllSketch(HllSketch.DefaultLgK).serialize())

  /** `df` observed by a `PartitionLineageAgg` over `keyCols` (checksum
    * over all of them, HLL over the first) and, when given, the sum of
    * `inputRows`, plus the Observation that completes when the returned
    * DataFrame has been written. Spark delivers the observed row through
    * its listener bus shortly after the write returns; the caller's bound
    * on the wait only turns a TableIO that never executed the DataFrame it
    * was given into an error instead of a hang. */
  private def observeLineage(df: DataFrame, keyCols: Seq[String],
                             inputRows: Option[Column]): (DataFrame, Observation) = {
    val agg = PartitionLineageAgg(
      GraftBridge.expression(xxhash64(keyCols.map(col): _*)),
      GraftBridge.expression(col(keyCols.head)))
    val lineage = GraftBridge.column(agg.toAggregateExpression()).as("lineage")
    val observation = Observation()
    val sums = inputRows.map(c => coalesce(sum(c), lit(0L)).as("rows_in")).toSeq
    (df.observe(observation, lineage, sums: _*), observation)
  }
}
