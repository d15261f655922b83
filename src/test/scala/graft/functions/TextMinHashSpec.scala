package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DedupConfig, Shingles}
import graft.pipeline.{DedupPipeline, SparkTestSession, Transcripts}

/** text_minhash, the banding paths' kernel, must equal the struct kernel's
  * minhash field bit for bit: text_signature(...).minhash is the oracle. */
class TextMinHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = DedupConfig()

  private val edgeDocs: Seq[String] = Seq(
    null, "", "a", "abcdefg", "abcdefgh", "abcdefghi", // empty, shorter than k, exactly k
    "a" * 40, "ab" * 100, "the same line\n" * 30,      // repeated windows
    "Привет, мир! " * 5, "漢字のテキスト" * 6, "✨🎉" * 9, // 2-, 3- and 4-byte UTF-8
    "mixed ascii ü 漢 ✨ text", "\u0000\u0001 control bytes \u0000")

  private def compare(docs: DataFrame): Int = {
    val rows = docs.select(
        text_minhash(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed).as("m"),
        text_signature(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed)
          .getField("minhash").as("s"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    rows.length
  }

  test("text_minhash equals text_signature(...).minhash on edge-shaped docs") {
    assert(compare(edgeDocs.toDF("doc")) === edgeDocs.length)
  }

  test("text_minhash equals text_signature(...).minhash without codegen") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(compare(s.createDataset(edgeDocs)(org.apache.spark.sql.Encoders.STRING)
      .toDF("doc")) === edgeDocs.length)
  }

  test("minhashes equals the signatures minhash column on generated docs") {
    val docs = DedupPipeline.buildDocs(Transcripts.asDataFrame(spark, Transcripts.generate(80), 4))
    def byConv(df: DataFrame) = df.select("conv_id", "minhash").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val got = byConv(DedupPipeline.minhashes(docs, cfg))
    assert(got.size === 80)
    assert(got === byConv(DedupPipeline.signatures(docs, cfg)))
  }

  test("docs past RetainCap use a transient buffer and keep the same bits") {
    val rnd = new java.util.Random(6)
    def doc(len: Int) = new String(Array.fill(len)((32 + rnd.nextInt(95)).toChar))
    def oracle(t: String) = TextSignatureExpr.hasher(cfg.numHashes, cfg.seed)
      .signature(Shingles.shinglesOf(t, cfg.shingleK, cfg.seed)).toSeq
    def kernel(t: String) = TextMinHashExpr.compute(UTF8String.fromString(t),
      cfg.shingleK, cfg.numHashes, cfg.seed).toLongArray().toSeq
    val big = doc(PairVerify.RetainCap + 5000)
    // a mid-size doc grows the retained buffer; the outlier does not
    for (t <- Seq(doc(3000), doc(100000), big, doc(500), big.take(2000), "")) {
      assert(kernel(t) === oracle(t), s"len ${t.length}")
    }
    assert(compare(Seq(big, doc(10)).toDF("doc")) === 2)
  }
}
