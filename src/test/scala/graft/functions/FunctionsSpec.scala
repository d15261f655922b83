package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.pipeline.{DedupPipeline, SparkTestSession, Transcripts}

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = DedupConfig()

  test("text_signature matches the core reference computation") {
    val docs = Seq("hello world this is a document about spark",
      "", "short", "emoji ✨ and unicode ü text").toDF("doc")
    val got = docs.select(
      text_signature(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed).as("s"))
      .select("s.shingles", "s.minhash", "s.simhash").collect()
    val mh = new MinHasher(cfg.numHashes, cfg.seed)
    docs.collect().map(_.getString(0)).zip(got).foreach { case (text, row) =>
      val sh = Shingles.shinglesOf(text, cfg.shingleK, cfg.seed)
      assert(row.getSeq[Long](0).toArray.sameElements(sh), s"shingles for '$text'")
      assert(row.getSeq[Long](1).toArray.sameElements(mh.signature(sh)))
      assert(row.getLong(2) === SimHash64.fingerprint(sh))
    }
  }

  test("simhash64 is bit-identical to text_signature(...).simhash") {
    val turns = Transcripts.generate(60)
    val docs = DedupPipeline.buildDocs(Transcripts.asDataFrame(spark, turns, 4))
      .unionByName(Seq(("extra", "emoji ✨ and unicode ü text", 1, 25L))
        .toDF("conv_id", "doc", "n_turns", "doc_len"))
      .unionByName(Seq(("empty", "", 1, 0L))
        .toDF("conv_id", "doc", "n_turns", "doc_len"))
    val full = docs.select(col("conv_id"),
        text_signature(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed)
          .getField("simhash").as("simhash"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val only = DedupPipeline.simhashSignatures(docs, cfg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full === only)
  }

  /** The signature triple as a Scala UDF over the core reference code. */
  private def signaturesUdf(docs: org.apache.spark.sql.DataFrame) = {
    val k = cfg.shingleK; val n = cfg.numHashes; val seed = cfg.seed
    val sigUdf = udf { (text: String) =>
      val sh = Shingles.shinglesOf(if (text == null) "" else text, k, seed)
      (sh, TextSignatureExpr.hasher(n, seed).signature(sh), SimHash64.fingerprint(sh))
    }
    docs.withColumn("sig", sigUdf(col("doc")))
      .select(col("conv_id"), col("sig._2").as("minhash"), col("sig._3").as("simhash"))
  }

  test("expression path == UDF path on generated docs") {
    val turns = Transcripts.generate(50)
    val docs = DedupPipeline.buildDocs(Transcripts.asDataFrame(spark, turns, 4))
    val a = DedupPipeline.signatures(docs, cfg)
      .select("conv_id", "minhash", "simhash").collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val b = signaturesUdf(docs)
      .select("conv_id", "minhash", "simhash").collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(a === b)
  }

  test("jaccard_sorted / lcs_length expressions") {
    val df = Seq(
      (Array(1L, 2L, 3L, 4L), Array(3L, 4L, 5L, 6L), "abcdef", "zcdemn"),
      (Array.empty[Long], Array.empty[Long], "", ""),
      (Array(1L), Array(2L), "aaaa", "aa")
    ).toDF("a", "b", "sa", "sb")
    val got = df.select(
      jaccard_sorted(col("a"), col("b")).as("j"),
      lcs_length(col("sa"), col("sb")).as("l")).collect()
    assert(got(0).getDouble(0) === 2.0 / 6.0); assert(got(0).getInt(1) === 3)
    assert(got(1).getDouble(0) === 1.0); assert(got(1).getInt(1) === 0)
    assert(got(2).getDouble(0) === 0.0); assert(got(2).getInt(1) === 2)
  }

  test("SQL registration works") {
    registerAll(spark)
    val r = spark.sql(
      """SELECT jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) j,
                lcs_length('hello world', 'yello word') l,
                text_signature('some text here', 8, 16, 9001L).simhash s""").head()
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-12)
    assert(r.getInt(1) === 8) // "ello wor"
    assert(r.getLong(2) === SimHash64.fingerprint(
      Shingles.shinglesOf("some text here", 8, 9001L)))
  }

  test("full SQL surface: sketch aggregates and vector functions from SQL") {
    registerAll(spark)
    spark.range(0, 10000, 1, 4)
      .selectExpr("id % 10 as g", "cast(id % 1000 as double) as v", "cast(id as string) as s")
      .createOrReplaceTempView("sqltest")
    val r = spark.sql(
      """SELECT g,
               hll_estimate(hll_agg(s, 12)) AS nd,
               kll_quantiles(kll_agg(v, 200), array(0.5D))[0] AS median,
               freq_top_items(freq_agg(g, 8), false)[0].item AS top
        FROM sqltest GROUP BY g ORDER BY g""").collect()
    assert(r.length === 10)
    assert(math.abs(r.head.getDouble(1) - 1000.0) / 1000.0 < 0.05)
    assert(math.abs(r.head.getDouble(2) - 500.0) < 60)
    val v = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) c1,
               cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) c2,
               size(word_ngrams('a b c d', 2)) n,
               size(winnow_fingerprints('some longer text for fingerprints', 8, 4, 9001L)) w,
               size(srp_keys(array(1.0D, 2.0D), 4, 2, 9001L)) k""").head()
    assert(v.getDouble(0) === 1.0 && v.getDouble(1) === 0.0)
    assert(v.getInt(2) === 3 && v.getInt(3) > 0 && v.getInt(4) === 2)
  }

  test("pair_verify on 1-byte docs (memo buffer growth floor, ADVICE r4)") {
    // need==1 used to grow the memo key to a ZERO-length array and then
    // copyMemory 1 byte past it (silent heap corruption). Exercise the
    // 1-byte path on a fresh thread-local scratch, a memo hit on the same
    // doc, then growth 1 → longer → 1 again.
    val rows = Seq(("a", "a"), ("a", "a"), ("a", "b"),
      ("a longer document to regrow the buffers", "a"), ("b", "b"))
      .toDF("da", "db")
      .coalesce(1) // one task → one scratch: the sequence above is the state machine
      .select(pair_verify(col("da"), col("db"), cfg.shingleK, cfg.seed).as("v"))
      .select("v.jaccard", "v.simhash_dist").collect()
    // identical docs (even shorter than shingleK → empty shingle sets) agree
    assert(rows(0).getDouble(0) === rows(1).getDouble(0))
    assert(rows(0).getInt(1) === 0 && rows(1).getInt(1) === 0)
    assert(rows(4).getInt(1) === 0)
    // and the interpreted path computes the same struct
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = PairVerify(
      Literal(UTF8String.fromString("a"), org.apache.spark.sql.types.StringType),
      Literal(UTF8String.fromString("a"), org.apache.spark.sql.types.StringType),
      cfg.shingleK, cfg.seed)
    val r = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(r.getDouble(0) === rows(0).getDouble(0) && r.getInt(1) === 0)
  }

  test("null inputs propagate") {
    val r = spark.sql("SELECT jaccard_sorted(NULL, array(1L)), lcs_length(NULL, 'x')").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("nullSafeEval (interpreted) path agrees with codegen path") {
    // force interpreted evaluation via expression.eval on a literal row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = TextSignatureExpr(Literal(UTF8String.fromString("interpreted check"),
      org.apache.spark.sql.types.StringType), cfg.shingleK, cfg.numHashes, cfg.seed)
    val row = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val sh = Shingles.shinglesOf("interpreted check", cfg.shingleK, cfg.seed)
    assert(row.getArray(0).toLongArray().sameElements(sh))
    assert(row.getLong(2) === SimHash64.fingerprint(sh))
  }
}
