package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DedupConfig, OracleDedup}

/** Pinned behaviour on hostile docs — empty, shorter than the shingle
  * width, null text, a null conv_id — through both runners: the in-memory
  * stages (runWithDocs' commit) and the checkpointed run. */
class HostileInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val cfg = DedupConfig()

  private val twin = "the null-keyed twin of doc x, long enough to shingle well past k"

  /** (conv_id, doc): two empty docs, two copies of a doc shorter than
    * k = 8 and a near miss of it, a null doc, and a null conv_id whose
    * text equals doc x's. */
  private val rows: Seq[(Option[String], Option[String])] = Seq(
    Some("e1") -> Some(""), Some("e2") -> Some(""),
    Some("s1") -> Some("abc"), Some("s2") -> Some("abc"), Some("s3") -> Some("abd"),
    Some("n1") -> None,
    Some("x") -> Some(twin), None -> Some(twin))

  private lazy val docs: DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "doc")
      .withColumn("n_turns", lit(1))
      .withColumn("doc_len", coalesce(length(col("doc")).cast("long"), lit(0L)))
  }

  /** Each runner's verified pairs and assignments over `docs`, collected. */
  private def runners(docs: DataFrame = docs)
      : Seq[(String, Set[(String, String, Double)], Map[Option[String], Option[String]])] = {
    def collectRun(verified: DataFrame, asg: DataFrame) = (
      verified.select("a", "b", "jaccard").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet,
      asg.collect().map(r => Option(r.getString(0)) -> Option(r.getString(1))).toMap)
    val run = DedupPipeline.stages(() => docs, cfg, DedupPipeline.inMemory(cfg))
    val (v1, a1) = collectRun(run.verified, run.assignments)
    DedupPipeline.unpersistIntermediates(spark)
    val io = new ParquetTableIO(Files.createTempDirectory("hostile").toString)
    val asg = new CheckpointedDedup(io, cfg, "run-h").run(docs, Some(() => docs))
    val (v2, a2) = collectRun(io.read(spark, "run-h/verified_pairs"), asg)
    Seq(("runWithDocs", v1, a1), ("CheckpointedDedup", v2, a2))
  }

  test("empty, shorter-than-k, null and null-keyed docs match OracleDedup through both runners") {
    val keyed = rows.collect { case (Some(c), Some(d)) => (c, d) }
    val truth = OracleDedup.run(keyed, cfg)
    assert(truth.pairs === Set(("e1", "e2"), ("s1", "s2")), "the oracle's own view")
    val expected = truth.clusters.map { case (c, r) => Option(c) -> Option(r) } ++
      Map(Some("n1") -> Some("n1"), None -> None)
    for ((name, verified, asg) <- runners()) {
      // least/greatest skip nulls: a null conv_id must not turn x's twin
      // into the self pair (x, x)
      assert(verified.forall { case (a, b, _) => a != null && b != null && a != b },
        s"$name: $verified")
      assert(verified === Set(("e1", "e2", 1.0), ("s1", "s2", 1.0)), name)
      assert(asg === expected, name)
    }
  }

  test("a one-template corpus is one cluster through both runners") {
    // every band bucket holds all 2,001 docs: the hot-key skew path
    import spark.implicits._
    val text = "Thank you for contacting support. Your ticket has been received " +
      "and an agent will reply within one business day. Reference: template."
    val n = 2001
    val same = (0 until n).map(i => (f"t$i%04d", text)).toDF("conv_id", "doc")
      .withColumn("n_turns", lit(1))
      .withColumn("doc_len", length(col("doc")).cast("long"))
    val results = runners(same)
    for ((name, _, asg) <- results) {
      assert(asg.size === n, name)
      assert(asg.values.toSet === Set(Some("t0000")), name)
    }
    assert(results.map(_._3).distinct.size === 1)
  }
}
