package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val turns = Transcripts.generate(200)
  lazy val tdf = Transcripts.asDataFrame(spark, turns, 8).cache()

  test("doc reconstruction: per-turn text equality under stable turn ordering") {
    val docs = DedupPipeline.buildDocs(tdf).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    val local = Transcripts.docsLocal(turns).toMap
    assert(docs.keySet === local.keySet)
    // exact equality for every conversation even though input rows are shuffled
    local.foreach { case (id, doc) =>
      assert(docs(id)._1 === doc, s"doc mismatch for $id")
    }
    val turnCounts = turns.groupBy(_.conv_id).map { case (k, v) => k -> v.size }
    turnCounts.foreach { case (id, n) => assert(docs(id)._2 === n) }
  }

  test("signatures: deterministic, match the local reference computation") {
    val sigs = DedupPipeline.signatures(DedupPipeline.buildDocs(tdf), cfg)
      .select("conv_id", "shingles", "minhash", "simhash")
      .collect()
    val local = Transcripts.docsLocal(turns).toMap
    val mh = new MinHasher(cfg.numHashes, cfg.seed)
    sigs.take(20).foreach { r =>
      val doc = local(r.getString(0))
      val sh = Shingles.shinglesOf(doc, cfg.shingleK, cfg.seed)
      assert(r.getSeq[Long](1).toArray.sameElements(sh))
      assert(r.getSeq[Long](2).toArray.sameElements(mh.signature(sh)))
      assert(r.getLong(3) === SimHash64.fingerprint(sh))
    }
  }

  test("end-to-end: dup-pair recall >= 0.99 vs exact oracle at identical config") {
    val docsLocal = Transcripts.docsLocal(turns)
    val truth = OracleDedup.run(docsLocal, cfg)
    assert(truth.pairs.nonEmpty, "corpus must contain planted dup pairs")

    val assignments = DedupPipeline.run(tdf, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    assert(assignments.size === docsLocal.size, "every conversation gets an assignment")
    val recall = OracleDedup.recall(truth.pairs, assignments)
    info(s"truth pairs=${truth.pairs.size}, recall=$recall")
    assert(recall >= 0.99, s"recall $recall below bar (truth=${truth.pairs.size})")
  }

  test("t2-scale: recall >= 0.99 vs exact oracle at 2000 conversations") {
    val turns2 = Transcripts.generate(2000)
    val tdf2 = Transcripts.asDataFrame(spark, turns2, 16)
    val truth = graft.core.OracleDedup.run(Transcripts.docsLocal(turns2), cfg)
    assert(truth.pairs.size > 100, s"expected a rich truth set, got ${truth.pairs.size}")
    val assignments = DedupPipeline.run(tdf2, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val recall = graft.core.OracleDedup.recall(truth.pairs, assignments)
    info(s"t2 truth pairs=${truth.pairs.size}, recall=$recall")
    assert(recall >= 0.99, s"t2 recall $recall below bar")
  }

  test("entry(): flagship query returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("clusters agree with oracle clusters exactly on this corpus (precision side)") {
    val docsLocal = Transcripts.docsLocal(turns)
    val truth = OracleDedup.run(docsLocal, cfg)
    val assignments = DedupPipeline.run(tdf, cfg).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // pipeline must not merge things the oracle keeps apart beyond transitivity:
    // every pipeline-co-clustered pair must be oracle-co-clustered
    val byCluster = assignments.groupBy(_._2).values.map(_.keys.toSeq.sorted)
    val oracleCl = truth.clusters
    byCluster.filter(_.size > 1).foreach { members =>
      val reps = members.map(oracleCl(_)).distinct
      assert(reps.size === 1,
        s"pipeline merged across oracle clusters: $members -> $reps")
    }
  }

  test("connected components handles chains and singletons (both paths)") {
    import spark.implicits._
    // path graph a-b-c-d-e plus isolated f
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("a", "b")
    val nodes = Seq("a", "b", "c", "d", "e", "f").toDF("conv_id")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a", "f" -> "f")
    val driver = DedupPipeline.connectedComponents(edges, nodes).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(driver === expect)
    // force the distributed star-contraction path
    val dist = DedupPipeline.connectedComponents(edges, nodes, driverMaxEdges = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === expect)
  }

  test("distributed star-contraction matches driver union-find on a random graph") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val n = 300
    val edges = (1 to 400).map { _ =>
      val a = f"n${rnd.nextInt(n)}%03d"; val b = f"n${rnd.nextInt(n)}%03d"
      if (a < b) (a, b) else (b, a)
    }.filter(p => p._1 != p._2).distinct
    val nodes = (0 until n).map(i => f"n$i%03d").toDF("conv_id")
    val edf = edges.toDF("a", "b")
    val d1 = DedupPipeline.connectedComponents(edf, nodes).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val d2 = DedupPipeline.connectedComponents(edf, nodes, driverMaxEdges = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d1 === d2)
  }

  test("local contraction: cross-partition chain still merges to one min-id component") {
    import spark.implicits._
    // one 400-node path graph: consecutive edges land in DIFFERENT
    // partitions (repartition by edge hash), so every task's local star
    // covers only fragments and the global rounds must stitch them —
    // the worst case for the local-contraction pre-pass
    val n = 400
    val edges = (0 until n - 1).map(i => (f"p$i%04d", f"p${i + 1}%04d"))
      .toDF("a", "b").repartition(37)
    val nodes = (0 until n).map(i => f"p$i%04d").toDF("conv_id")
    val dist = DedupPipeline.connectedComponents(edges, nodes, driverMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist.values.toSet === Set("p0000"))
    assert(dist.size === n)
    // two chains + a bridge landing in scattered partitions: distributed
    // answer still identical to driver union-find
    val edges2 = ((0 until 99).map(i => (f"x$i%03d", f"x${i + 1}%03d")) ++
      (0 until 99).map(i => (f"y$i%03d", f"y${i + 1}%03d")) :+ ("x050", "y050"))
      .toDF("a", "b").repartition(17)
    val nodes2 = ((0 until 100).map(i => f"x$i%03d") ++
      (0 until 100).map(i => f"y$i%03d")).toDF("conv_id")
    val d1 = DedupPipeline.connectedComponents(edges2, nodes2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val d2 = DedupPipeline.connectedComponents(edges2, nodes2, driverMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d1 === d2)
    assert(d2.values.toSet === Set("x000"))
  }

  test("contraction yield probe: auto, forced-on, forced-off all agree") {
    import spark.implicits._
    // clustered shape (near-cliques co-partitioned: high yield, probe
    // should pick the pre-pass) and scattered shape (chain spread across
    // partitions: yield ~1, probe should skip) — assignments must be
    // identical across all three modes either way
    val cliques = (0 until 40).flatMap { c =>
      val ms = (0 until 6).map(i => f"q$c%02d_$i")
      ms.sliding(2).map(p => (p(0), p(1))) ++ ms.tail.map(m => (ms.head, m))
    }.toDF("a", "b").repartition(4, col("a"))
    val cliqueNodes = (0 until 40).flatMap(c => (0 until 6).map(i => f"q$c%02d_$i"))
      .toDF("conv_id")
    val chain = (0 until 199).map(i => (f"s$i%03d", f"s${i + 1}%03d"))
      .toDF("a", "b").repartition(23)
    val chainNodes = (0 until 200).map(i => f"s$i%03d").toDF("conv_id")
    for ((e, ns) <- Seq((cliques, cliqueNodes), (chain, chainNodes))) {
      val res = Seq(None, Some(true), Some(false)).map { m =>
        DedupPipeline.connectedComponents(e, ns, driverMaxEdges = 0, localContraction = m)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      }
      assert(res(0) === res(1))
      assert(res(0) === res(2))
    }
  }

  test("candidate pairs stay linear in bucket size (skew guard)") {
    import spark.implicits._
    // 100 members in one hot band bucket: all-pairs would be 4950 edges;
    // chain+star must emit <= 2 per member.
    val hot = (1 to 100).map(i => (f"c$i%03d", 0, 42L)).toDF("conv_id", "band_idx", "band_key")
    val pairs = DedupPipeline.candidatePairs(hot, cfg)
    val n = pairs.count()
    assert(n <= 200, s"expected linear candidate count, got $n")
    // connectivity preserved: chain alone links the whole bucket
    val nodes = (1 to 100).map(i => f"c$i%03d").toDF("conv_id")
    val cc = DedupPipeline.connectedComponents(
      pairs.select(col("a"), col("b")), nodes).select("cluster_id").distinct().count()
    assert(cc === 1L)
  }

  test("completeNearDupPairs: cluster closure recovers pairs chain+star never tested directly") {
    import spark.implicits._
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12).trim
    val docsRows = Seq(
      ("d1", base + " one"), ("d2", base + " two"),
      ("d3", base + " three"), ("d4", base + " four"),
      ("d9", "totally unrelated tiny document about nothing at all"))
    val docs = DedupPipeline.withIds(docsRows.toDF("conv_id", "doc")).cache()
    // the clusters come from only a CHAIN of verified edges through the
    // family — the closure must emit all 6 intra-cluster pairs, and
    // nothing for d9
    val chainOnly = Seq(("d1", "d2"), ("d2", "d3"), ("d3", "d4")).toDF("a", "b")
    val clusters = DedupPipeline.connectedComponents(chainOnly, docs.select(col("conv_id")))
    val out = DedupPipeline.completeNearDupPairs(clusters, docs, cfg)
      .select("a", "b").as[(String, String)].collect().toSet
    val expected = (for {
      x <- Seq("d1", "d2", "d3", "d4"); y <- Seq("d1", "d2", "d3", "d4")
      if x < y
    } yield (x, y)).toSet
    assert(out === expected)
  }

  test("CC round fingerprint tells label swaps apart") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def fp(edges: Seq[(String, String)]): (Long, Long) =
      DedupPipeline.roundFingerprint(edges.iterator.map { case (u, v) =>
        InternalRow(UTF8String.fromString(u), UTF8String.fromString(v))
      })
    // {(a,x),(b,y)} → {(a,y),(b,x)}: same count, same labels per column
    assert(fp(Seq("a" -> "x", "b" -> "y")) !== fp(Seq("a" -> "y", "b" -> "x")))
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val Seq(a, b, x, y) = Seq.fill(4)(rnd.alphanumeric.take(6).mkString)
      val base = Seq(a -> x, b -> y, "m" -> "r")
      // order-insensitive, so the fold can run per partition
      assert(fp(base) === fp(base.reverse))
      if (a != b && x != y)
        assert(fp(base) !== fp(Seq(a -> y, b -> x, "m" -> "r")), s"$a $b $x $y")
    }
  }
}
