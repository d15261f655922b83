package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core.DedupConfig
import graft.pipeline.DedupPipeline

/** One dedup measurement in a dedicated JVM — the faithful "executor of
  * size N" unit for the scaling protocol (spawned by graft.Bench with
  * -XX:ActiveProcessorCount=<cores> and a cores-proportional heap, so GC
  * threads and memory scale WITH the simulated cluster size, as they would
  * across real executors).
  *
  *   args: <cores | NxC> <corpusDir> <repeats> <shufflePartitions>
  *   prints: one line "DEDUP_ONCE_SECONDS=<best>"
  *
  * `cores` of the form "4x2" selects `local-cluster[4,2,mem]` — N REAL
  * executor JVMs of C cores each (standalone master/worker in-process,
  * executors as separate processes with their own heaps, shuffle over
  * netty). This is the faithful sandbox rendition of "N executors vs 4N
  * executors": comparing 1xC against 4xC varies ONLY the executor count,
  * with per-executor cores and heap fixed — exactly what adding executors
  * to a cluster does. Per-executor memory: SPARK_GRAFT_EXEC_MEM_MB
  * (default 6144).
  */
object DedupOnce {
  private val ClusterSpec = """(\d+)x(\d+)""".r

  def main(args: Array[String]): Unit = {
    val corpusDir = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 3
    val parts = if (args.length > 3) args(3) else "128"
    val builder = SparkSession.builder()
      .appName(s"graft-dedup-once-${args(0)}")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      // the bench corpus is one ~400MB parquet dir: the default 128MB scan
      // split gives buildDocs ~4 map tasks and starves 32 cores (measured
      // 81.0s vs 72.6s for the identical 300k-conv run); 16MB restores scan
      // parallelism at both widths. Production multi-TB tables have
      // thousands of files and keep the default.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B lever passthrough: SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2" applies
    // arbitrary spark confs to this leg only (shuffle buffer sizes, fetch
    // knobs, …) so scaling-protocol levers can be measured without edits
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach {
      _.split(";").iterator.map(_.trim).filter(_.contains("=")).foreach { kv =>
        val i = kv.indexOf('=')
        builder.config(kv.substring(0, i), kv.substring(i + 1))
      }
    }
    val spark = (args(0) match {
      case ClusterSpec(n, c) =>
        // 8g matches the in-process legs' heap: the 1-executor leg must
        // hold the same persisted working set as any single local[N] JVM
        // (a smaller heap would spill only the small leg and inflate the
        // measured efficiency)
        val memMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "8192").toInt
        builder
          .master(s"local-cluster[$n,$c,$memMb]")
          .config("spark.executor.memory", s"${memMb}m")
          // executor processes are launched by the in-process worker from
          // SPARK_HOME; graft classes ride in via the driver's own -cp
          .config("spark.executor.extraClassPath",
            sys.props.getOrElse("java.class.path", ""))
          // all executors share one host: a "remote" cached-block read is a
          // loopback fetch, so waiting the default 3s for the cache-holding
          // executor to free a core (spark.locality.wait) only serializes
          // work onto it — with 1-core executors a hot cached partition
          // otherwise queues the whole wave. On a real cluster this knob is
          // tuned to the network; here 0 IS the faithful setting.
          .config("spark.locality.wait", "0")
          // each executor JVM must size GC/JIT/ForkJoin pools like a real
          // C-core container (cgroup limit → availableProcessors = C); by
          // default every executor sees all 32 host CPUs and N executors
          // spawn N×32-wide GC/compiler thread pools on one box — the same
          // distortion the in-process legs fix with -XX:ActiveProcessorCount.
          .config("spark.executor.extraJavaOptions", s"-XX:ActiveProcessorCount=$c")
      case cores =>
        builder.master(s"local[${cores.toInt}]")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = DedupConfig()
    // bucketed corpus dirs (the production conv_id-bucketed layout) read
    // through the catalog declaration — doc reconstruction is then
    // exchange-free; scattered dirs read as plain parquet
    val df = graft.pipeline.BucketedCorpus.readAuto(spark, corpusDir)
    df.count() // warm page cache
    DedupPipeline.run(df.where(col("conv_id") <= "conv-000200"), cfg).count() // JIT
    // docs path picked by layout: streaming one-pass reconstruction over
    // the bucket sort when the layout guarantees hold, else the
    // exchange-planned groupBy (identical output either way — DocsSortedSpec)
    DedupPipeline.runWithDocs(
      graft.pipeline.BucketedCorpus.readDocs(spark, corpusDir,
        where = Some(col("conv_id") <= "conv-000200")),
      cfg).count() // JIT the streaming path too
    val metrics = TaskMetricsAgg.maybeInstall(spark)
    val best = (1 to repeats).map { r =>
      // drop cached stage outputs: each repeat must do the full pipeline
      // (Spark's cache manager matches canonicalized plans across runs);
      // the committed stages are local checkpoints, outside that cache
      DedupPipeline.unpersistIntermediates(spark)
      spark.sharedState.cacheManager.clearCache()
      metrics.foreach(_.reset())
      val t0 = System.nanoTime()
      DedupPipeline.runWithDocs(
        graft.pipeline.BucketedCorpus.readDocs(spark, corpusDir), cfg).count()
      val sec = (System.nanoTime() - t0) / 1e9
      metrics.foreach { m =>
        Thread.sleep(1500) // listener events drain asynchronously; settle
        println(m.report(f"${args(0)}:rep$r:wall:$sec%.1f"))
      }
      sec
    }.min
    println(f"DEDUP_ONCE_SECONDS=$best%.3f")
    spark.stop()
  }
}
