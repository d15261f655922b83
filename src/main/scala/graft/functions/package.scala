package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftBridge

/** Column-level API over the custom Catalyst expressions, plus SQL
  * registration (SURVEY §4.3: expressions registered via functionRegistry /
  * Column(expr) — no custom Rule/Strategy needed for v1). */
package object functions {

  private def c(e: Expression): Column = GraftBridge.column(e)
  private def e(col: Column): Expression = GraftBridge.expression(col)

  /** (shingles array<long>, minhash array<long>, simhash long) in one pass. */
  def text_signature(text: Column, shingleK: Int, numHashes: Int, seed: Long): Column =
    c(TextSignatureExpr(e(text), shingleK, numHashes, seed))

  /** MinHash signature only — bit-identical to text_signature(...).minhash
    * without the shingle sort, SimHash or shingle array. */
  def text_minhash(text: Column, shingleK: Int, numHashes: Int, seed: Long): Column =
    c(TextMinHashExpr(e(text), shingleK, numHashes, seed))

  /** SimHash fingerprint only — bit-identical to text_signature(...).simhash
    * without computing the minhash signature. */
  def simhash64(text: Column, shingleK: Int, seed: Long): Column =
    c(SimHash64Expr(e(text), shingleK, seed))

  /** Exact Jaccard of two sorted-distinct array<long> columns. */
  def jaccard_sorted(a: Column, b: Column): Column =
    c(JaccardSortedExpr(e(a), e(b)))

  /** Longest common substring length of two strings. */
  def lcs_length(a: Column, b: Column): Column =
    c(LcsLengthExpr(e(a), e(b)))

  /** Gate form: common substring of length ≥ minRun exists (the verify
    * hot-loop variant; see Lcs.hasCommonRun). */
  def lcs_at_least(a: Column, b: Column, minRun: Column): Column =
    c(LcsAtLeastExpr(e(a), e(b), e(minRun)))

  /** Fused pair verification: struct(jaccard, simhash_dist) from raw texts. */
  def pair_verify(docA: Column, docB: Column, shingleK: Int, seed: Long): Column =
    c(PairVerify(e(docA), e(docB), shingleK, seed))

  /** Cosine similarity of two array<float|double> columns (native kernel). */
  def cosine_sim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))

  /** Winnowing fingerprint set (rolling-hash document fingerprinting). */
  def winnow_fingerprints(text: Column, k: Int = 8, w: Int = 16,
                          seed: Long = 9001L): Column =
    c(WinnowFingerprints(e(text), k, w, seed))

  /** Whitespace-tokenized word n-grams (native, one pass). */
  def word_ngrams(text: Column, n: Int): Column = c(WordNgrams(e(text), n))

  /** Sign-random-projection LSH bucket keys, one per table. */
  def srp_keys(emb: Column, nPlanes: Int, nTables: Int, seed: Long = 9001L): Column =
    c(SrpKeys(e(emb), nPlanes, nTables, seed))

  // ---- sketch aggregates (SURVEY §2a families as Catalyst aggregates) ----
  import graft.sketch._

  def hll_agg(col: Column, lgK: Int = HllSketch.DefaultLgK): Column =
    c(HllSketchAgg(e(col), lgK).toAggregateExpression())

  def hll_merge_agg(col: Column, lgK: Int = HllSketch.DefaultLgK): Column =
    c(HllUnionAgg(e(col), lgK).toAggregateExpression())

  def hll_estimate(col: Column): Column = c(HllEstimate(e(col)))

  def hll_bounds(col: Column, numStdDev: Int): Column =
    c(HllBounds(e(col), e(org.apache.spark.sql.functions.lit(numStdDev))))

  /** Convenience: approximate distinct count as a long. */
  def hll_count_distinct(col: Column, lgK: Int = HllSketch.DefaultLgK): Column =
    org.apache.spark.sql.functions.round(hll_estimate(hll_agg(col, lgK)))
      .cast("long")

  def kll_sketch_agg(col: Column, k: Int = KllSketch.DefaultK): Column =
    c(KllSketchAgg(e(col), k).toAggregateExpression())

  /** K2 generic-items KLL: string instantiation. */
  def kll_string_agg(col: Column, k: Int = KllSketch.DefaultK): Column =
    c(KllStringAgg(e(col), k).toAggregateExpression())

  def kll_string_quantiles(sketch: Column, ranks: Column): Column =
    c(KllStringQuantiles(e(sketch), e(ranks)))

  def kll_quantiles(sketch: Column, ranks: Column): Column =
    c(KllQuantiles(e(sketch), e(ranks)))

  def kll_rank(sketch: Column, value: Column): Column =
    c(KllRank(e(sketch), e(value)))

  def kll_cdf(sketch: Column, splits: Column): Column =
    c(KllCdf(e(sketch), e(splits)))

  def kll_partition_boundaries(sketch: Column, numParts: Int): Column =
    c(KllPartitionBoundaries(e(sketch), e(org.apache.spark.sql.functions.lit(numParts))))

  /** Estimate of an external Apache DataSketches HLL image (cross-language
    * read-side interop; see graft.sketch.interop). */
  def ds_hll_estimate(col: Column): Column = c(DsHllEstimate(e(col)))

  /** Convert an external DataSketches HLL image into an engine sketch
    * image (feed into hll_merge_agg / hll_estimate / hll_bounds). */
  def hll_from_ds(col: Column): Column = c(HllFromDs(e(col)))

  /** Export an engine KLL doubles image as an Apache DataSketches
    * KllDoublesSketch compact image (write-side doubles interop). */
  def kll_to_ds(col: Column): Column = c(KllToDs(e(col)))

  /** Import a DataSketches KllDoublesSketch compact image into the
    * engine's image (feed into kll_quantiles / kll_rank / kll_cdf). */
  def kll_from_ds(col: Column): Column = c(KllFromDs(e(col)))

  def freq_sketch_agg(col: Column, lgMaxMapSize: Int = FreqSketch.DefaultLgMaxMapSize): Column =
    c(FreqSketchAgg(e(col), lgMaxMapSize).toAggregateExpression())

  def freq_top_items(sketch: Column, noFalsePositives: Boolean = false): Column =
    c(FreqTopItems(e(sketch), e(org.apache.spark.sql.functions.lit(noFalsePositives))))

  /** Register the whole function surface for SQL use. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    def longArg(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

    reg.createOrReplaceTempFunction("jaccard_sorted",
      exprs => JaccardSortedExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("lcs_length",
      exprs => LcsLengthExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("text_signature",
      exprs => TextSignatureExpr(exprs(0), intArg(exprs(1)), intArg(exprs(2)),
        longArg(exprs(3))), "built-in")
    reg.createOrReplaceTempFunction("cosine_sim",
      exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("srp_keys",
      exprs => SrpKeys(exprs(0), intArg(exprs(1)), intArg(exprs(2)),
        longArg(exprs(3))), "built-in")
    reg.createOrReplaceTempFunction("word_ngrams",
      exprs => WordNgrams(exprs(0), intArg(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction("winnow_fingerprints",
      exprs => WinnowFingerprints(exprs(0), intArg(exprs(1)), intArg(exprs(2)),
        longArg(exprs(3))), "built-in")
    reg.createOrReplaceTempFunction("hll_agg",
      exprs => HllSketchAgg(exprs(0), intArg(exprs(1))).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("hll_merge_agg",
      exprs => HllUnionAgg(exprs(0), intArg(exprs(1))).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("hll_estimate",
      exprs => HllEstimate(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("hll_bounds",
      exprs => HllBounds(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("kll_agg",
      exprs => KllSketchAgg(exprs(0), intArg(exprs(1))).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("kll_string_agg",
      exprs => KllStringAgg(exprs(0), intArg(exprs(1))).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("kll_string_quantiles",
      exprs => KllStringQuantiles(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("kll_quantiles",
      exprs => KllQuantiles(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("kll_rank",
      exprs => KllRank(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("kll_cdf",
      exprs => KllCdf(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("kll_partition_boundaries",
      exprs => KllPartitionBoundaries(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("freq_agg",
      exprs => FreqSketchAgg(exprs(0), intArg(exprs(1))).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("freq_top_items",
      exprs => FreqTopItems(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("ds_hll_estimate",
      exprs => DsHllEstimate(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("hll_from_ds",
      exprs => HllFromDs(exprs(0)), "built-in")
  }
}
