package graft

import org.apache.spark.sql.SparkSession
import graft.core.DedupConfig
import graft.pipeline.{BucketedCorpus, CatalogTableIO, CheckpointedDedup, ParquetTableIO, Transcripts}

/** spark-submit entry point: run the checkpointed dedup pipeline.
  *
  *   spark-submit --class graft.Main <jar> \
  *     --input <transcripts parquet dir | synth:N> \
  *     --workdir <checkpoint root> --run-id <id> [--resume] \
  *     [--catalog <catalog.namespace>]   # Iceberg-style catalog tables
  *                                       # instead of parquet paths
  *
  * Re-submitting with the same --run-id resumes mid-pipeline from the
  * metrics table (north rule). In this sandbox it also runs via
  * `sbt "runMain graft.Main ..."`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("input", "synth:1000")
    val workdir = opts.getOrElse("workdir", "/tmp/graft-work")
    val runId = opts.getOrElse("run-id", "run-0")

    // spark-submit injects the master; fall back to local for sbt runMain
    val builder0 = SparkSession.builder().appName("graft-dedup")
    val spark = (if (sys.props.contains("spark.master")) builder0
      else builder0.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]")))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val transcripts =
      if (input.startsWith("synth:")) {
        val n = input.stripPrefix("synth:").toInt
        Transcripts.asDataFrame(spark, Transcripts.generate(n),
          spark.sparkContext.defaultParallelism * 2)
      } else BucketedCorpus.readAuto(spark, input)

    // --catalog db / catalog.db routes every stage table through the
    // session's (e.g. Iceberg) catalog; default is parquet under --workdir
    val io = opts.get("catalog") match {
      case Some(prefix) => new CatalogTableIO(prefix)
      case None => new ParquetTableIO(workdir)
    }
    val pipeline = new CheckpointedDedup(io, DedupConfig(), runId)
    // readDocs streams bucketed dirs' docs off the bucket sort (identical
    // output, DocsSortedSpec) and falls back to buildDocs for other layouts
    val docsBuilder =
      if (input.startsWith("synth:")) None else Some(() => BucketedCorpus.readDocs(spark, input))
    val assignments = pipeline.run(transcripts, docsBuilder)

    val nClusters = assignments.select("cluster_id").distinct().count()
    val nConvs = assignments.count()
    val skipped = if (pipeline.computedStages.isEmpty) "ALL (resume no-op)"
      else s"stages computed: ${pipeline.computedStages.mkString(", ")}"
    println(s"[graft] run_id=$runId convs=$nConvs clusters=$nClusters " +
      s"dups=${nConvs - nClusters} | $skipped")
    println(s"[graft] assignments at $workdir/$runId/cluster_assignments, " +
      s"metrics at $workdir/$runId/metrics")
    spark.stop()
  }
}
