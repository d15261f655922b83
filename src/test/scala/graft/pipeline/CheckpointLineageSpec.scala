package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DedupConfig
import graft.functions.{hll_agg, hll_estimate, hll_merge_agg}

/** CheckpointedDedup's in-write lineage against the read-back oracle, the
  * rows_in chain, and the Spark jobs a checkpointed run submits. */
class CheckpointLineageSpec extends AnyFunSuite {
  import CheckpointLineageSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val turns = Transcripts.generate(150)
  lazy val tdf = Transcripts.asDataFrame(spark, turns, 6).cache()

  /** A session in which every stage writes several partitions: AQE does
    * not coalesce shuffle partitions, and each small file is its own read
    * split (a split closes below the 4 MB per-file open cost). The default
    * session writes this corpus as one partition per stage, where the
    * per-partition checks below could not tell partitions apart. */
  lazy val splitSpark: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    s
  }
  lazy val splitTdf = Transcripts.asDataFrame(splitSpark, turns, 6)

  /** Per stage: the read-back `partitionLineage` and the in-write lineage
    * agree on Σrows_out, the XOR of the checksums and the merged-HLL
    * estimate; and there is one lineage row per non-empty written
    * partition, with that partition's own counters. Each write task
    * writes one file named after its partition, so the files are the
    * written partitions. */
  private def assertLineageMatchesReadBack(io: TableIO, runId: String): Unit = {
    val metrics = io.read(spark, s"$runId/metrics")
    for ((stage, keys) <- StageKeys) {
      val written = metrics.where(col("stage") === stage)
      val table = io.read(spark, s"$runId/$stage")
      assert(totals(written) === totals(partitionLineage(table, keys)), stage)

      val perFile = table
        .groupBy(regexp_extract(input_file_name(), "part-(\\d+)-", 1).cast("int"))
        .agg(count(lit(1)), bit_xor(xxhash64(keys.map(col): _*)))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val rows = written.select("partition_id", "rows_out", "checksum")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(_._1).distinct.length === rows.length, s"$stage: repeated partition")
      assert(rows.toSet === perFile.toSet, stage)
      if (stage == "docs") assert(rows.length > 1, "docs wrote a single partition")
    }
  }

  private def totals(lineage: DataFrame): (Long, Long, Double) = {
    val r = lineage.agg(
      coalesce(sum("rows_out"), lit(0L)),
      coalesce(bit_xor(col("checksum")), lit(0L)),
      hll_estimate(hll_merge_agg(col("hll_sketch"), 12))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** rows_in(docs) is the transcript row count and rows_in(N) equals
    * Σrows_out(N-1) on every lineage row of stage N. */
  private def assertRowsInChain(io: TableIO, runId: String): Unit = {
    val byStage = io.read(spark, s"$runId/metrics").groupBy("stage")
      .agg(min("rows_in"), max("rows_in"), sum("rows_out"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byStage("docs")._1 === turns.size.toLong)
    assert(byStage("docs")._2 === turns.size.toLong)
    for (Seq(prev, next) <- Stages.sliding(2)) {
      val (lo, hi, _) = byStage(next)
      assert(lo === byStage(prev)._3, s"rows_in($next)")
      assert(hi === byStage(prev)._3, s"rows_in($next)")
    }
  }

  test("in-write lineage matches the read-back oracle through ParquetTableIO") {
    val io = new ParquetTableIO(Files.createTempDirectory("lineage").toString)
    new CheckpointedDedup(io, cfg, "run-P").run(splitTdf)
    assertLineageMatchesReadBack(io, "run-P")
    assertRowsInChain(io, "run-P")
  }

  test("in-write lineage matches the read-back oracle through CatalogTableIO") {
    val io = CatalogTableIOSpec.freshIo(spark, "graft_lineage_t1")
    new CheckpointedDedup(io, cfg, "runL").run(splitTdf)
    assertLineageMatchesReadBack(io, "runL")
    assertRowsInChain(io, "runL")
  }

  test("rows_in chains from lineage totals after a mid-pipeline resume") {
    val root = Files.createTempDirectory("lineage").toString
    val io = new ParquetTableIO(root)
    new CheckpointedDedup(io, cfg, "run-R").run(splitTdf)
    // a crash just after 'bands': later tables and their lineage are gone
    val kept = io.read(spark, "run-R/metrics").where(col("stage").isin(Stages.take(2): _*))
    val rows = kept.collect()
    io.write(spark.createDataFrame(java.util.Arrays.asList(rows: _*), kept.schema), "run-R/metrics")
    for (s <- Stages.drop(2)) deleteDir(new java.io.File(s"$root/run-R/$s"))

    val resumed = new CheckpointedDedup(io, cfg, "run-R")
    resumed.run(splitTdf)
    assert(resumed.computedStages === Stages.drop(2))
    assertLineageMatchesReadBack(io, "run-R")
    assertRowsInChain(io, "run-R")
  }

  test("a fresh run writes the five stage tables: bands off the docs, every doc assigned") {
    val root = Files.createTempDirectory("lineage").toString
    val io = new ParquetTableIO(root)
    val p = new CheckpointedDedup(io, cfg, "run-T")
    p.run(tdf)
    assert(p.computedStages === Stages)
    assert(!io.exists(spark, "run-T/signatures"), "the signatures stage is gone")

    // bands and cand_pairs are keyed by the docs table's ids
    val convOf = io.read(spark, "run-T/docs").select("id", "conv_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val convIds = turns.map(_.conv_id).distinct.sorted
    assert(convOf.size === convIds.length, "ids are distinct")

    // bands: the public two-step path is the oracle, compared as multisets
    val bandRows = io.read(spark, "run-T/bands").select("id", "band_key").collect()
      .map(r => (convOf(r.getLong(0)), r.getLong(1))).sorted.toSeq
    val docs = DedupPipeline.buildDocs(tdf)
    val oracle = DedupPipeline.bands(DedupPipeline.signatures(docs, cfg), cfg)
      .select("conv_id", "band_key").collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(oracle.length === convIds.length * cfg.bands)
    assert(bandRows === oracle)

    // cand_pairs: the string-keyed candidatePairs is the oracle
    val cand = io.read(spark, "run-T/cand_pairs").collect()
      .map(r => (convOf(r.getLong(0)), convOf(r.getLong(1))))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
    assert(cand.distinct.length === cand.length)
    val candOracle = DedupPipeline.candidatePairs(DedupPipeline.bands(
      DedupPipeline.minhashes(docs, cfg), cfg), cfg).collect().map(r => (r.getString(0), r.getString(1)))
    assert(cand.toSet === candOracle.toSet)

    // one assignment per doc, including docs no candidate pair touches
    val assigned = io.read(spark, "run-T/cluster_assignments")
      .select("conv_id").collect().map(_.getString(0)).sorted.toSeq
    assert(assigned === convIds)
    val paired = cand.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(convIds.exists(c => !paired.contains(c)), "corpus has no singleton doc")
  }

  test("docs rows_in is the transcript row count, null conv_id and null text rows included") {
    val t0 = new java.sql.Timestamp(0L)
    val odd = Seq(
      Transcripts.Turn(null, 0, "user", "a turn of a conversation without an id", null, t0),
      Transcripts.Turn(null, 1, "assistant", null, null, t0),
      Transcripts.Turn("conv-odd", 0, "user", null, null, t0),
      Transcripts.Turn("conv-odd", 1, "user", null, null, t0))
    val df = Transcripts.asDataFrame(spark, turns ++ odd, 6)
    val io = new ParquetTableIO(Files.createTempDirectory("lineage").toString)
    new CheckpointedDedup(io, cfg, "run-N").run(df)
    val docsIn = io.read(spark, "run-N/metrics").where(col("stage") === "docs")
      .select("rows_in").distinct().collect().map(_.getLong(0)).toSeq
    assert(docsIn === Seq(df.count()))
    assert(df.count() === turns.size + 4L)
  }

  test("job budget: a fresh run counts its input turns inside the docs write") {
    tdf.count()
    val io = new ParquetTableIO(Files.createTempDirectory("lineage").toString)
    // 25 jobs on this corpus; a separate count of the transcripts for the
    // docs stage's rows_in made it 30, a persisted re-spread of the
    // cand_pairs table in verify 29
    assert(jobsOf(spark) { new CheckpointedDedup(io, cfg, "run-K").run(tdf) } === 25)
  }

  test("job budget: a resume after cand_pairs verifies the committed pairs as read") {
    val root = Files.createTempDirectory("lineage").toString
    val io = new ParquetTableIO(root)
    val expected = new CheckpointedDedup(io, cfg, "run-R").run(tdf)
      .collect().map(_.toString).sorted
    // a crash just after cand_pairs committed: the later tables and their
    // lineage rows are gone
    val later = Seq("verified_pairs", "cluster_assignments")
    val kept = io.read(spark, "run-R/metrics").where(!col("stage").isin(later: _*))
    io.write(spark.createDataFrame(java.util.Arrays.asList(kept.collect(): _*), kept.schema),
      "run-R/metrics")
    later.foreach(s => deleteDir(new java.io.File(s"$root/run-R/$s")))

    var resumed: DataFrame = null
    val p = new CheckpointedDedup(io, cfg, "run-R")
    // 16 jobs; re-spreading and caching the cand_pairs table in verify
    // made it 20
    assert(jobsOf(spark) { resumed = p.run(tdf) } === 16)
    assert(p.computedStages === later)
    assert(resumed.collect().map(_.toString).sorted === expected)
  }

  test("job budget: a no-op resume submits one job, a table read none") {
    val root = Files.createTempDirectory("lineage").toString
    val io = new ParquetTableIO(root)
    val first = new CheckpointedDedup(io, cfg, "run-J")
    val expected = first.run(tdf).collect().map(_.toString).sorted

    var resumed: DataFrame = null
    val resumeJobs = jobsOf(spark) {
      val p = new CheckpointedDedup(io, cfg, "run-J")
      resumed = p.run(tdf)
      assert(p.computedStages === Nil)
    }
    assert(resumeJobs === 1, "a no-op resume reads the metrics table once and nothing else")
    assert(resumed.collect().map(_.toString).sorted === expected)

    for (name <- Stages :+ "metrics") {
      var read: DataFrame = null
      assert(jobsOf(spark) { read = io.read(spark, s"run-J/$name"); read.schema } === 0, name)
      // the footer schema is the schema Spark's own inference finds
      assert(read.schema === spark.read.parquet(s"$root/run-J/$name").schema, name)
    }
    assert(ParquetTableIO.footerSchema(spark, s"$root/run-J/absent").isEmpty)
  }
}

object CheckpointLineageSpec {
  val Stages: List[String] = List("docs", "bands", "cand_pairs",
    "verified_pairs", "cluster_assignments")

  /** The lineage key columns CheckpointedDedup uses per stage. */
  val StageKeys: Seq[(String, Seq[String])] = Stages.zip(Seq(
    Seq("conv_id"), Seq("id", "band_key"), Seq("a", "b"),
    Seq("a", "b"), Seq("conv_id", "cluster_id")))

  /** The read-back lineage the in-write lineage replaced, kept as its
    * oracle: per-partition counters of a committed table, partitioned by
    * read split. */
  def partitionLineage(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.withColumn("partition_id", spark_partition_id())
      .groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("rows_out"),
        coalesce(bit_xor(xxhash64(keyCols.map(col): _*)), lit(0L)).as("checksum"),
        hll_agg(col(keyCols.head), 12).as("hll_sketch"))

  /** Jobs submitted while `f` runs. */
  def jobsOf(spark: SparkSession)(f: => Any): Int = {
    val sc = spark.sparkContext
    GraftTestBridge.drainListeners(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      GraftTestBridge.drainListeners(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete()
  }
}
