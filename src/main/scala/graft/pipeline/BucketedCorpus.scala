package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** The production transcript-table layout: bucketed by conv_id.
  *
  * The 10^12-turn corpus is stored CLUSTERED BY (conv_id) SORTED BY
  * (conv_id, turn_idx) — with Iceberg this is `bucket(N, conv_id)`
  * partitioning plus a sort order; here it is Spark's native parquet
  * bucketing (same hash family). Doc reconstruction (DedupPipeline
  * .buildDocs) then runs EXCHANGE-FREE: the bucketed scan satisfies the
  * groupBy(conv_id) distribution requirement, so the one full-corpus
  * shuffle the scattered layout pays — the pipeline's worst-scaling stage,
  * BENCH/BASELINE.md — disappears. Pinned by PlanContractSpec ("bucketed
  * transcripts reconstruct docs with NO shuffle").
  *
  * The table is declared EXTERNAL over a plain directory so any session
  * (including the bench's executor-sized child JVMs, which each have their
  * own in-memory catalog) can re-declare it over the same files: Spark
  * datasource bucketing carries the bucket id in the file NAME, so the
  * declaration is metadata-only and costs nothing.
  */
object BucketedCorpus {

  val DefaultBuckets = 256

  private def marker(dir: String) = new java.io.File(dir, "_graft_buckets")

  /** Deterministic per-path table name for the session catalog. */
  private def tableName(dir: String): String =
    "graft_corpus_b" + java.lang.Long.toHexString(
      graft.core.Murmur3x128.hashBytes64(dir.getBytes("UTF-8"), 9001L) & Long.MaxValue)

  /** Write `transcripts` as a conv_id-bucketed external table at `dir`.
    * The pre-repartition uses the SAME murmur3 hash family as the bucket
    * spec, so each write task holds exactly one bucket → one file per
    * bucket (which also lets Spark trust the SORTED BY metadata). */
  def write(transcripts: DataFrame, dir: String,
            buckets: Int = DefaultBuckets): Unit = {
    val spark = transcripts.sparkSession
    val tbl = tableName(dir)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    transcripts
      .repartition(buckets, col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .write
      .bucketBy(buckets, "conv_id")
      .sortBy("conv_id", "turn_idx")
      .option("path", dir)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(tbl)
    java.nio.file.Files.writeString(marker(dir).toPath, buckets.toString)
  }

  /** True if `dir` holds a bucketed corpus written by `write`. */
  def isBucketed(dir: String): Boolean = marker(dir).isFile

  /** Declare (if needed) and read the bucketed table at `dir` in this
    * session. Metadata-only: the files are not touched. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val buckets = java.nio.file.Files.readString(marker(dir).toPath).trim.toInt
    val tbl = tableName(dir)
    if (!spark.catalog.tableExists(tbl)) {
      spark.sql(
        s"""CREATE TABLE $tbl (
           |  conv_id STRING, turn_idx INT, role STRING,
           |  text STRING, tool STRING, ts TIMESTAMP)
           |USING parquet
           |CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)
           |INTO $buckets BUCKETS
           |LOCATION '$dir'""".stripMargin)
    }
    spark.table(tbl)
  }

  /** Read `dir` through whichever layout it carries: bucketed (exchange-
    * free doc reconstruction) or scattered plain parquet. */
  def readAuto(spark: SparkSession, dir: String): DataFrame =
    if (isBucketed(dir)) read(spark, dir) else spark.read.parquet(dir)

  /** True when every bucket holds exactly ONE file — the layout `write`
    * produces, and the precondition for the streaming doc path: a
    * multi-file bucket (appends) scans its files back-to-back within one
    * task, so conv_id groups are no longer contiguous across the file
    * boundary. Spark bucketing carries the bucket id in the file name
    * (`part-...._NNNNN.`), so this is a directory listing, no file reads. */
  def singleFilePerBucket(dir: String): Boolean = {
    val files = new java.io.File(dir).listFiles()
    if (files == null) return false
    val bucketIds = files.iterator
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .flatMap { f =>
        "_(\\d{5})\\.".r.findFirstMatchIn(f.getName).map(_.group(1).toInt)
      }.toSeq
    bucketIds.nonEmpty && bucketIds.distinct.length == bucketIds.length
  }

  /** Every node of `df`'s executed plan. AdaptiveSparkPlanExec has no
    * children, so a bare collect stops at it; this recurses into its input
    * plan instead. Used by the bucket-alignment checks of readDocs and
    * DedupPipeline.buildDocsSorted. */
  private[pipeline] def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case q => Seq(q)
      }.flatten
    walk(df.queryExecution.executedPlan)
  }

  /** Reconstructed docs(conv_id, doc, n_turns, doc_len) off `dir`, by the
    * cheapest correct path the layout supports:
    *  - bucketed, one sorted file per bucket → streaming one-pass merge
    *    over the bucket sort (DedupPipeline.buildDocsSorted — no hash
    *    aggregation, O(1) state per task; output proven identical to
    *    buildDocs by DocsSortedSpec);
    *  - anything else → the exchange-planned groupBy (buildDocs).
    * With Iceberg, "one sorted file per bucket" generalizes to "each data
    * file covers disjoint conv_id ranges within its bucket", which the
    * table's sort order + compaction maintain; the fallback stays correct
    * regardless.
    * `where` (optional) filters the SCAN before reconstruction — a
    * row-level filter neither reorders a partition nor merges conv_ids
    * across partitions, so both paths stay correct (note a turn-level
    * predicate drops turns from surviving docs; conv_id predicates are
    * the intended use). */
  def readDocs(spark: SparkSession, dir: String,
               where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    def filtered(df: DataFrame) = where.map(df.filter).getOrElse(df)
    // the layout picks the path; both give identical docs (DocsSortedSpec)
    if (isBucketed(dir) && singleFilePerBucket(dir)) {
      // The streaming reconstruction is only correct when each task reads
      // WHOLE bucket files. A bare projection carries no distribution
      // requirement, so Spark's DisableUnnecessaryBucketedScan rule
      // (autoBucketedScan, on by default) re-plans the bucketed table as a
      // regular file scan — which SPLITS multi-row-group files at
      // maxPartitionBytes boundaries. A conversation straddling a
      // row-group boundary would then emit two partial docs, each still
      // internally sorted, so buildDocsSorted's in-task monotonicity
      // assert CANNOT catch it (DocsSortedSpec "multi-row-group bucket
      // files split under a bare projection; readDocs keeps them whole"
      // pins it: the projection plans bucketedScan=false and splits once
      // bucket files hold several row groups). Disable the
      // rule for the planning window (buildDocsSorted resolves its RDD
      // eagerly) and verify on the executed plan; if the scan still is
      // not bucket-aligned, fall back to the always-correct groupBy.
      // Session-conf toggle during the planning window: NOT thread-safe —
      // a concurrent query planned in this session inside the window would
      // see the rule disabled (and the finally-restore could clobber a
      // concurrent change). Single-threaded planning per session is the
      // documented assumption here.
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val projected = filtered(read(spark, dir))
          .select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
        // require at least one VISIBLE bucketed scan: an empty collect was
        // vacuously "aligned" (ADVICE r5), silently taking the streaming
        // path without the verification this branch promises
        val found = planNodes(projected).collect {
          case s: FileSourceScanExec => s.bucketedScan
        }
        val aligned = found.nonEmpty && found.forall(identity)
        if (aligned) graft.pipeline.DedupPipeline.buildDocsSorted(projected)
        else graft.pipeline.DedupPipeline.buildDocs(filtered(readAuto(spark, dir)))
      } finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } else
      graft.pipeline.DedupPipeline.buildDocs(filtered(readAuto(spark, dir)))
  }
}
