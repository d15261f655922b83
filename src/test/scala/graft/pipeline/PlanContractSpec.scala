package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig

/** Physical-plan contracts: the properties that make these operators
  * viable at 100 TB must hold in the EXECUTED plan, not just in intent —
  * filter pushdown into the parquet scan, column pruning, broadcast for
  * small dimensions, no cartesian products in the pipeline, and the
  * signature kernel inside WholeStageCodegen. A regression here is a
  * performance bug even while results stay correct. */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("q01: shipdate predicate pushes down to the parquet scan") {
    assume(new java.io.File(sf).isDirectory)
    val p = plan(graft.SparkEntry.queries("q01_lineitem_pricing_agg")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter in:\n${p.take(2000)}")
  }

  test("q01: scan reads only the referenced columns (pruning)") {
    assume(new java.io.File(sf).isDirectory)
    val p = plan(graft.SparkEntry.queries("q01_lineitem_pricing_agg")(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"unpruned scan: $readSchema")
  }

  test("pipeline docs view prunes the documents scan to doc_id + text") {
    assume(new java.io.File(sf).isDirectory)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("conv_id"), col("text").as("doc"),
        length(col("text")).cast("long").as("doc_len"))
    val p = plan(DedupPipeline.signatures(docs, DedupConfig()))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned scan: $readSchema")
  }

  test("q02: the customer dimension joins via broadcast, not shuffle") {
    assume(new java.io.File(sf).isDirectory)
    val p = plan(graft.SparkEntry.queries("q02_orders_customer_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n${p.take(2000)}")
  }

  test("ANN brute force broadcasts the query side (scan-once pattern)") {
    assume(new java.io.File(sf).isDirectory)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ops.Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus side must not shuffle:\n${p.take(1500)}")
  }

  test("signature computation stays inside WholeStageCodegen") {
    // non-literal source so the projection is not constant-folded away
    val docs = spark.range(100)
      .select(col("id").cast("string").as("conv_id"),
        concat(lit("doc text number "), col("id")).as("doc"),
        lit(20L).as("doc_len"))
    val p = plan(DedupPipeline.signatures(docs, DedupConfig()))
    // "*(n)" is the WholeStageCodegen marker in the plan string; the
    // text_signature projection must sit under one, not in a fallback
    val sigLine = p.linesIterator.find(_.contains("text_signature")).getOrElse("")
    assert(sigLine.contains("*("), s"signature projection not codegen'd:\n$p")
  }

  /** The executed plans of every Dataset action `f` runs. */
  private def executedPlans(f: => Any): Seq[SparkPlan] = {
    val sc = spark.sparkContext
    GraftTestBridge.drainListeners(sc)
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      GraftTestBridge.drainListeners(sc)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The checkpointed run's write of table `name`, among `plans`. */
  private def stageWrite(plans: Seq[SparkPlan], runId: String, name: String): SparkPlan = {
    val writes = plans.filter(_.toString.linesIterator.exists(l =>
      l.contains("InsertIntoHadoopFsRelationCommand") && l.contains(s"/$runId/$name,")))
    assert(writes.size === 1, plans.map(_.toString.take(300)).mkString("\n---\n"))
    writes.head
  }

  /** Every node of `p`, through adaptive plans, query stages, reused
    * exchanges and the plans of cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case o => o.children ++ o.subqueries
  }).flatMap(nodes)

  test("banding runs text_minhash, never text_signature: checkpointed bands write and runWithDocs") {
    val tdf = Transcripts.asDataFrame(spark, Transcripts.generate(60), 4)
    val root = java.nio.file.Files.createTempDirectory("plancontract").toFile
    try {
      val ckpt = executedPlans {
        new CheckpointedDedup(new ParquetTableIO(root.toString), DedupConfig(), "run-P").run(tdf)
      }
      val bandsWrite = stageWrite(ckpt, "run-P", "bands").toString
      assert(bandsWrite.contains("text_minhash("), bandsWrite)
      assert(!ckpt.exists(_.toString.contains("text_signature(")),
        "a checkpointed stage ran text_signature")
    } finally CheckpointLineageSpec.deleteDir(root)

    var asg: DataFrame = null
    val inmem = executedPlans {
      asg = DedupPipeline.runWithDocs(DedupPipeline.buildDocs(tdf), DedupConfig())
      asg.count()
    }
    val all = inmem.map(_.toString) :+ plan(asg)
    assert(all.exists(_.contains("text_minhash(")), all.mkString("\n---\n").take(4000))
    assert(!all.exists(_.contains("text_signature(")), "runWithDocs ran text_signature")
    DedupPipeline.unpersistIntermediates(spark)
  }

  test("verify reads the committed cand_pairs as they are: no re-spread, no second cache") {
    val tdf = Transcripts.asDataFrame(spark, Transcripts.generate(60), 4)
    val root = java.nio.file.Files.createTempDirectory("plancontract").toFile
    try {
      val write = stageWrite(executedPlans {
        new CheckpointedDedup(new ParquetTableIO(root.toString), DedupConfig(), "run-V").run(tdf)
      }, "run-V", "verified_pairs")
      def readsCandPairs(p: SparkPlan): Boolean = nodes(p).exists {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.endsWith("/run-V/cand_pairs"))
        case _ => false
      }
      assert(readsCandPairs(write), write.toString)
      // the distinct over the candidate ids and the joins may shuffle the
      // pairs for their own input; a repartition of them may not
      val respread = nodes(write).collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin != ENSURE_REQUIREMENTS && readsCandPairs(e) => e
      }
      assert(respread.isEmpty, respread.mkString("\n---\n"))
      // the candidate-doc subset stays cached; the pairs do not. A scan
      // names the cached columns as its reader aliased them, so each cache
      // is told apart by the plan it cached: text or none.
      def cachesText(m: InMemoryTableScanExec) =
        m.relation.cachedPlan.output.exists(_.name == "doc")
      val caches = nodes(write).collect { case m: InMemoryTableScanExec => m }
      val cachedPairs = caches.filter(m => !cachesText(m) && readsCandPairs(m.relation.cachedPlan))
      assert(cachedPairs.isEmpty, cachedPairs.mkString("\n---\n"))
      assert(caches.exists(cachesText), write.toString)
    } finally CheckpointLineageSpec.deleteDir(root)
    DedupPipeline.unpersistIntermediates(spark)
  }

  test("no cartesian product anywhere in the end-to-end dedup plan") {
    val turns = Transcripts.generate(50)
    val asg = DedupPipeline.run(Transcripts.asDataFrame(spark, turns, 4), DedupConfig())
    val p = plan(asg)
    assert(!p.contains("CartesianProduct"), s"cartesian in pipeline:\n${p.take(2000)}")
  }

  test("bucketed transcripts reconstruct docs with NO shuffle (100 TB layout)") {
    // The production 10^12-turn table is stored bucketed by conv_id —
    // Spark's bucketed scan then satisfies buildDocs' groupBy(conv_id)
    // distribution requirement and the whole P2 stage runs exchange-free
    // (the scattered-layout corpus pays exactly one shuffle; see
    // BENCH/BASELINE.md docs-stage notes). Contract: no Exchange operator
    // in the executed plan over the bucketed table; results identical to
    // the scattered path.
    val turns = Transcripts.generate(80)
    val tdf = Transcripts.asDataFrame(spark, turns, 5)
    val tbl = "graft_bucketed_transcripts"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    tdf.write.bucketBy(8, "conv_id").sortBy("conv_id", "turn_idx")
      .format("parquet").saveAsTable(tbl)
    try {
      val docs = DedupPipeline.buildDocs(spark.table(tbl))
      val p = plan(docs)
      assert(!p.contains("Exchange"),
        s"bucketed doc reconstruction must be shuffle-free:\n${p.take(2000)}")
      val viaBuckets = docs.select("conv_id", "doc").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val viaShuffle = DedupPipeline.buildDocs(tdf).select("conv_id", "doc")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(viaBuckets === viaShuffle)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
