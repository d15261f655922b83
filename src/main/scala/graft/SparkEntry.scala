package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.DedupConfig
import graft.ops.{Ann, TextOps}
import graft.pipeline.{CheckpointedDedup, DedupPipeline, ParquetTableIO, Transcripts}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Oracle discipline (every query here aims for a green row in the driver's
  * DuckDB compare):
  *  - SQL-replayable computations (aggregates, joins, exact text/vector
  *    math) are written so Spark and DuckDB produce bit-identical values:
  *    double aggregates go through decimal casts, computed columns are
  *    aliased identically on both sides, string-vs-int orderings match.
  *  - Near-dup queries (q09-q12) are checked against EXACT ground truth:
  *    DuckDB computes all-pairs Jaccard over distinct byte-8-grams (equal
  *    to the pipeline's hashed-shingle Jaccard modulo 64-bit collisions)
  *    and min-label connected components via a recursive CTE. The LSH miss
  *    probability at the configured bands (~5e-8 at tau) makes exact match
  *    the expected outcome, so the recall bar is driver-verified.
  *  - ANN queries plant a deterministic near-neighbor clone that DuckDB
  *    can reconstruct in SQL; the approximate index must find it (miss
  *    probability < 1e-8), making recall an exact-match oracle.
  *  - Sketch queries emit the exact inputs DuckDB can check (counts,
  *    distinct counts) plus booleans asserting the sketch's published
  *    error contract against Spark-computed exact statistics.
  *  - Spark-only values that DuckDB cannot recompute (murmur3-based
  *    fingerprints) are verified by comparing two independent Spark paths
  *    (banded vs brute force) and emitting the equality as a boolean.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship: the full near-dup detection + clustering pipeline on a
    * deterministic synthetic transcripts corpus (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val turns = Transcripts.generate(200)
    DedupPipeline.run(Transcripts.asDataFrame(spark, turns, 8), DedupConfig())
  }

  /** q09's dataflow: winnow candidates over the docs' ids, verified by
    * the shipped verify body. Bench's warm-up runs it too. Template-family
    * buckets carrying true pairs (up to ~250 members at sf0.1) fall under
    * the fixed 256-member bucket cap, so the exact-oracle match is
    * structural; larger buckets are stop-fingerprints and add no
    * candidates. */
  private[graft] def winnowNearDup(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    // committed as runWithDocs commits docs and candidates (tracked, so
    // unpersistIntermediates releases them): verifyPairsById scans its
    // candidates three times
    val docsWithId = DedupPipeline.trackCheckpoint(DedupPipeline.withIds(docs))
    val cand = DedupPipeline.trackCheckpoint(
      DedupPipeline.winnowCandidatePairs(docsWithId))
    DedupPipeline.verifyPairsById(cand, docsWithId, cfg)
  }

  /** documents as (conv_id, doc, doc_len) — the near-dup pipeline's view. */
  private def docsView(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("string").as("conv_id"), col("text").as("doc"),
        length(col("text")).cast("long").as("doc_len"))

  /** documents exploded into multi-turn transcripts: 10-word chunks become
    * turns, input row order deliberately scrambled so P2 reconstruction
    * must re-establish (turn_idx, ts) ordering. DuckDB replays the exact
    * same chunking (q12 oracle), so the e2e pipeline including doc
    * reconstruction is checkable against exact ground truth. */
  private[graft] def docTranscripts(s: SparkSession, dir: String): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    t(s, dir, "documents")
      .select(col("doc_id").cast("string").as("conv_id"), words.as("w"))
      .select(col("conv_id"),
        posexplode(transform(
          sequence(lit(0), greatest(ceil(size(col("w")) / 10.0).cast("int"), lit(1)) - 1),
          i => concat_ws(" ", slice(col("w"), i * 10 + 1, lit(10))))).as(Seq("turn_idx", "text")))
      .select(col("conv_id"), col("turn_idx"),
        timestamp_seconds(lit(1700000000L) + col("turn_idx")).as("ts"), col("text"))
      // the scramble only needs a deterministic non-sorted order; 64
      // partitions keep the chunking + reconstruction map work wide enough
      // for 32 cores (13 capped the stage at 13 tasks — r2 bench artifact)
      .repartition(64, xxhash64(col("conv_id"), col("turn_idx")))
  }

  /** The transcripts corpus materialized ONCE per (tmp, sf dir) and shared
    * by every consumer: q12/q24/q28/q30 each used to re-derive
    * `docTranscripts` (and two re-wrote it to /tmp) — four computations of
    * the same chunking, ~5-8 s of bench total (VERDICT r3 #3). The written
    * corpus also carries the far-future `__sentinel__` row q28's streaming
    * session-window assembly needs to close its sessions (availableNow
    * processes all files in one batch, so in-dir placement is safe); batch
    * consumers filter it out — a pushed-down predicate on the scan. */
  private val sentinelTs = new java.sql.Timestamp(3000000000000L)

  private[graft] def sharedTranscriptsDir(s: SparkSession, dir: String): String = {
    val base = s"/tmp/graft-transcripts-${Integer.toHexString(dir.hashCode)}"
    SparkEntry.synchronized {
      if (!new java.io.File(s"$base/_SUCCESS").exists()) {
        import s.implicits._
        docTranscripts(s, dir)
          .unionByName(Seq(("__sentinel__", 0, sentinelTs, "x"))
            .toDF("conv_id", "turn_idx", "ts", "text"))
          .write.mode("overwrite").parquet(base)
      }
    }
    base
  }

  /** Batch view of the shared corpus (sentinel filtered out). */
  private[graft] def docTranscriptsCached(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedTranscriptsDir(s, dir))
      .where(col("conv_id") =!= "__sentinel__")

  /** embeddings cast to array<double> (both engines compute in double). */
  private def embView(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  /** Deterministic near-neighbor clones: vec_id + 10000, first coordinate
    * shifted by +0.01 (cosine to the original ~0.999+; max unrelated
    * cosine in the corpus ~0.51). DuckDB reconstructs the same clones in
    * SQL, so ANN recall is an exact-match oracle, not a threshold claim. */
  private def withClones(emb: DataFrame, onlyIdsBelow: Option[Long]): DataFrame = {
    val src = onlyIdsBelow.map(n => emb.where(col("vec_id") < n)).getOrElse(emb)
    val clones = src.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + 0.01).otherwise(x))
        .as("embedding"))
    emb.unionByName(clones)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / SQL-checkable --------------------------------------
    "q01_lineitem_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1995-12-31 23:59:59")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_orders_customer_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    "q03_events_heavy_hitters" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("n").desc, col("event_type"))
        .limit(5)
    }),

    "q04_events_first_per_user" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .orderBy(col("user_id"))
    }),

    "q05_docs_exact_dedup" -> ((s, dir) => {
      // md5 key (not xxhash64) so DuckDB can replay it; the scale path uses
      // TextOps.exactDedup's 8-byte fingerprint instead.
      t(s, dir, "documents")
        .select(col("doc_id"), md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("h"))
    }),

    "q06_docs_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.subwordCount(col("text")).cast("long").as("n_subwords"),
          length(col("text")).cast("long").as("len"))
        .orderBy(col("doc_id"))
    }),

    "q07_docs_quality" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      val safeLen = greatest(len, lit(1.0))
      t(s, dir, "documents")
        .select(col("doc_id"),
          ((len - length(regexp_replace(col("text"), "[.,;:!?]", ""))) / safeLen).as("punct_ratio"),
          ((len - length(regexp_replace(col("text"), "[0-9]", ""))) / safeLen).as("digit_ratio"))
        .orderBy(col("doc_id"))
    }),

    // word-trigram Jaccard between consecutive doc ids — n-gram Jaccard as
    // an exact, SQL-checkable operator (the all-pairs variant rides LSH)
    "q08_docs_ngram_jaccard" -> ((s, dir) => {
      val t0 = t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.word_ngrams(col("text"), 3).as("tri"))
      val l = t0.select(col("doc_id").as("a"), col("tri").as("ta"))
      val r = t0.select(col("doc_id").as("b"), col("tri").as("tb"))
      l.join(r, col("b") === col("a") + 1)
        .where(size(col("ta")) > 0 && size(col("tb")) > 0)
        .select(col("a"), col("b"),
          (size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb")))).as("ngram_jaccard"))
        .orderBy(col("a"))
    }),

    // winnowing-fingerprint near-dup: frequency-capped fingerprints bucket
    // candidates (all-pairs within rare buckets), exact Jaccard + LCS
    // verify — checked against DuckDB's exact all-pairs ground truth, the
    // same oracle as q10 reached through an independent candidate modality
    "q09_docs_winnow_neardup" -> ((s, dir) => {
      winnowNearDup(docsView(s, dir), DedupConfig())
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // ---- dedup pipeline on the documents table ---------------------------
    "q10_docs_lsh_neardup_pairs" -> ((s, dir) => {
      val cfg = DedupConfig()
      val run = DedupPipeline.stages(() => docsView(s, dir), cfg, DedupPipeline.inMemory(cfg))
      // cluster closure makes the pair listing STRUCTURALLY complete
      // (direct chain+star pairs cover a 4+-member bucket only
      // probabilistically — one sf0.1 pair fell through under a minhash
      // reseed; see completeNearDupPairs doc)
      DedupPipeline.completeNearDupPairs(run.assignments, run.docs, cfg)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    "q11_docs_lsh_clusters" -> ((s, dir) => {
      DedupPipeline.runWithDocs(docsView(s, dir), DedupConfig())
        .orderBy(col("conv_id"))
    }),

    // end-to-end: multi-turn transcripts (scrambled row order) -> doc
    // reconstruction -> signatures -> LSH -> verify -> clusters; DuckDB
    // replays the reconstruction and exact clustering
    "q12_transcripts_dedup_e2e" -> ((s, dir) => {
      DedupPipeline.run(docTranscripts(s, dir), DedupConfig())
        .orderBy(col("conv_id"))
    }),

    "q13_docs_signature_stats" -> ((s, dir) => {
      val cfg = DedupConfig()
      DedupPipeline.signatures(docsView(s, dir), cfg)
        .select(col("conv_id"), size(col("shingles")).cast("long").as("n_shingles"),
          col("doc_len").as("len"))
        .orderBy(col("conv_id"))
    }),

    // ---- similarity search over embeddings --------------------------------
    "q14_embeddings_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      Ann.bruteForceTopK(emb, queries, 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SRP-LSH must find each query's planted near-neighbor clone as top-1
    // (miss probability ~3e-9 at these cosines) — exact-match recall oracle
    "q15_embeddings_ann_lsh" -> ((s, dir) => {
      val emb = embView(s, dir)
      val corpus = withClones(emb, onlyIdsBelow = Some(10L))
      val queries = emb.where(col("vec_id") < 10)
      Ann.lshTopK(corpus, queries, 1, nPlanes = 6, nTables = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"))
    }),

    "q23_embeddings_ann_ivf" -> ((s, dir) => {
      import graft.ops.Ivf
      val emb = embView(s, dir)
      val corpus = withClones(emb, onlyIdsBelow = Some(10L))
      val queries = emb.where(col("vec_id") < 10)
      val model = Ivf.fit(corpus, k = 16, iters = 5)
      Ivf.topK(corpus, queries, model, 1, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"))
    }),

    // embedding-cosine near-dup over corpus + planted clones: the LSH
    // bucket path must recover exactly the planted pairs (DuckDB computes
    // exact all-pairs cosine over the same union)
    "q16_embeddings_neardup" -> ((s, dir) => {
      val corpus = withClones(embView(s, dir), onlyIdsBelow = None)
      Ann.nearDupPairs(corpus, 0.95, nPlanes = 8, nTables = 8)
        .orderBy(col("a"), col("b"))
    }),

    // ---- text analysis ----------------------------------------------------
    "q17_docs_langid" -> ((s, dir) => {
      TextOps.langId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"), col("lang_score"))
        .orderBy(col("doc_id"))
    }),

    // murmur3-based simhash values are not SQL-replayable; instead verify
    // the banded path against an independent Spark brute-force path and
    // emit the equality (complete-for-dist<=3 contract, VerifyGatesSpec
    // proves the same property on adversarial corpora)
    "q18_docs_simhash_neardup" -> ((s, dir) => {
      val cfg = DedupConfig()
      val docs = docsView(s, dir)
      // simhash-only signature pass: skips the minhash loop this query
      // never reads; values bit-identical (FunctionsSpec)
      val sigs = DedupPipeline.simhashSignatures(docs, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = DedupPipeline.simhashNearDupPairs(sigs, maxDist = 3, cfg)
        .select(col("a"), col("b")).withColumn("in_band", lit(1))
      val brute = sigs.as("l").join(sigs.as("r"), col("l.conv_id") < col("r.conv_id"))
        .where(bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= 3)
        .select(col("l.conv_id").as("a"), col("r.conv_id").as("b"))
        .withColumn("in_brute", lit(1))
      val cmp = banded.join(brute, Seq("a", "b"), "full_outer")
        .agg(coalesce(bool_and(col("in_band").isNotNull && col("in_brute").isNotNull),
          lit(true)).as("banded_equals_bruteforce"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(cmp)
    }),

    // multimodal plumbing round-trip: decode/resize/frame-sample outputs
    // checked against each other per row; per-kind counts are
    // DuckDB-checkable (kind = id % 3 over range(2000))
    "q19_media_stats" -> ((s, _) => {
      import graft.ops.Multimodal
      // persisted (r6): decode, resize and frameSample each consumed the
      // generator lazily — the seeded PNG/WAV/GIF ENCODING of all 2000
      // payloads ran three times (deterministic, so results never changed;
      // only the repeated encode work goes away)
      val media = Multimodal.syntheticMedia(s, 2000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val meta = Multimodal.decode(media).toDF()
      val resized = Multimodal.decode(Multimodal.resize(media, 0.5)).toDF()
        .select(col("media_id"), col("width").as("rw"), col("height").as("rh"))
      val frames = Multimodal.frameSample(media, 2).toDF()
        .groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
      meta.join(resized, Seq("media_id"))
        .join(frames, Seq("media_id"), "left")
        .select(col("kind"), col("valid"),
          // the payloads are REAL formats (PNG/WAV/GIF built and parsed by
          // MediaCodec): the sniffed format must match the planted kind and
          // the decoded fields must land in the generator's planted ranges
          (col("format") === when(col("kind") === "image", "png")
            .when(col("kind") === "audio", "wav").otherwise("gif"))
            .as("fmt_ok_row"),
          when(col("kind") === "audio",
            col("width") === 0 &&
              col("sample_rate").isin(8000, 16000, 22050, 44100))
            .otherwise(col("width").between(64, 127) &&
              col("height").between(64, 127)).as("dims_ok_row"),
          when(col("kind") === "image",
            col("rw") === greatest(lit(1), floor(col("width") * 0.5).cast("int")) &&
              col("rh") === greatest(lit(1), floor(col("height") * 0.5).cast("int")))
            .otherwise(col("rw") === col("width") && col("rh") === col("height"))
            .as("resize_ok_row"),
          when(col("kind") === "video",
            coalesce(col("nf"), lit(0L)) === ceil(col("n_frames") / lit(2.0)).cast("long"))
            .otherwise(col("nf").isNull).as("frames_ok_row"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("valid"), 0L).otherwise(1L)).as("n_corrupt"),
          bool_and(col("fmt_ok_row")).as("fmt_ok"),
          bool_and(col("dims_ok_row")).as("dims_ok"),
          bool_and(col("resize_ok_row")).as("resize_ok"),
          bool_and(col("frames_ok_row")).as("frames_ok"))
        .orderBy(col("kind"))
    }),

    // ---- sketch aggregates (SURVEY §2a families) --------------------------
    // exact distinct counts are the DuckDB-checkable anchor; booleans assert
    // the HLL error contract (lgK=12 RSE 1.04%/sqrt-free ~1.3%; 4% = ~3 sd)
    "q20_sketch_hll_distinct" -> ((s, dir) => {
      import graft.functions._
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(hll_agg(col("l_partkey"), 12).as("skp"),
          hll_agg(col("l_orderkey"), 12).as("sko"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          hll_estimate(col("skp")).as("est_p"),
          hll_bounds(col("skp"), 3).as("bp"),
          hll_estimate(col("sko")).as("est_o"),
          hll_bounds(col("sko"), 3).as("bo"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("est_p") / col("exact_parts") - 1.0) <= 0.04).as("parts_ok"),
          (abs(col("est_o") / col("exact_orders") - 1.0) <= 0.04).as("orders_ok"),
          // H14: the 3-sd interval must contain the exact count
          (col("bp.lb") <= col("exact_parts") && col("exact_parts") <= col("bp.ub") &&
            col("bo.lb") <= col("exact_orders") && col("exact_orders") <= col("bo.ub"))
            .as("bounds_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // KLL quantile ranks checked against Spark-computed exact ranks within
    // the sketch's published normalized rank error (k=200 -> ~1.65%);
    // group counts are the DuckDB-checkable anchor
    "q21_sketch_kll_quantiles" -> ((s, dir) => {
      import graft.functions._
      val eps = 0.0165
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kll_sketch_agg(col("v"), 200).as("sk"))
        .select(col("l_returnflag"),
          kll_quantiles(col("sk"), array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"),
          kll_rank(col("sk"), lit(30000.0)).as("r30"),
          kll_cdf(col("sk"), array(lit(20000.0), lit(40000.0))).as("cdf"),
          kll_partition_boundaries(col("sk"), 8).as("pb"))
      def exactRankLe(v: Column): Column =
        sum(when(col("v") <= v, 1L).otherwise(0L)).cast("double") / count(lit(1))
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          // qs is constant within each group (broadcast-joined), so the
          // per-row element_at does not nest aggregates
          exactRankLe(element_at(col("qs"), 1)).as("er25"),
          exactRankLe(element_at(col("qs"), 2)).as("er50"),
          exactRankLe(element_at(col("qs"), 3)).as("er75"),
          exactRankLe(element_at(col("qs"), 4)).as("er95"),
          exactRankLe(lit(30000.0)).as("er30k"),
          exactRankLe(lit(20000.0)).as("er20k"),
          exactRankLe(lit(40000.0)).as("er40k"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"),
          first(col("r30")).as("r30"), first(col("cdf")).as("cdf"),
          first(col("pb")).as("pb"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("er25") - 0.25) <= eps).as("ok_q25"),
          (abs(col("er50") - 0.50) <= eps).as("ok_q50"),
          (abs(col("er75") - 0.75) <= eps).as("ok_q75"),
          (abs(col("er95") - 0.95) <= eps).as("ok_q95"),
          (abs(col("r30") - col("er30k")) <= eps).as("ok_rank30k"),
          // K8: CDF at split points within rank error, trailing element 1.0
          (abs(element_at(col("cdf"), 1) - col("er20k")) <= eps &&
            abs(element_at(col("cdf"), 2) - col("er40k")) <= eps &&
            element_at(col("cdf"), 3) === 1.0).as("ok_cdf"),
          (col("pb") === array_sort(col("pb")) &&
            element_at(col("pb"), 1) === col("vmin") &&
            element_at(col("pb"), -1) === col("vmax")).as("ok_bounds"))
        .orderBy(col("l_returnflag"))
    }),

    // event_type cardinality << sketch capacity ⇒ offset stays 0 ⇒ the
    // sketch is EXACT here, so this one is SQL-checkable vs DuckDB.
    "q22_sketch_freq_heavy" -> ((s, dir) => {
      import graft.functions._
      t(s, dir, "events")
        .agg(freq_top_items(freq_sketch_agg(col("event_type"), 10), false).as("t"))
        .select(explode(col("t")).as("r"))
        .select(col("r.item").as("item"), col("r.estimate").as("estimate"))
        .orderBy(col("estimate").desc, col("item"))
    }),

    // checkpoint/resume (P10): run the checkpointed pipeline once, then
    //  (a) re-run with the same run_id — must skip EVERY stage
    //      (stages_computed_resume = 0), and
    //  (b) delete the final stage's table + metrics and resume again —
    //      a MID-pipeline resume that recomputes only the missing CC stage
    //      from the checkpointed verified_pairs; its freshly-computed
    //      assignments must equal the full-resume read-back.
    // (b) replaces the r2 third full direct run (same evidence, one
    // pipeline execution + one CC stage instead of three executions).
    "q24_dedup_resume" -> ((s, dir) => {
      val cfg = DedupConfig()
      val base = s"/tmp/graft-q24-${Integer.toHexString(dir.hashCode)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(basePath)) fs.delete(basePath, true)
      val io = new ParquetTableIO(base)
      val turnsDf = docTranscriptsCached(s, dir)
      new CheckpointedDedup(io, cfg, "q24").run(turnsDf).count()
      val resumed = new CheckpointedDedup(io, cfg, "q24")
      val a2 = resumed.run(turnsDf)
        .select(col("conv_id"), col("cluster_id").as("c_resumed"))
        .localCheckpoint(true) // pin before the table underneath is deleted
      val stages2 = resumed.computedStages.size.toLong
      // drop the last stage (table + its metrics rows) and resume mid-pipeline
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/q24/cluster_assignments"), true)
      val keptMetrics = io.read(s, "q24/metrics")
        .where(col("stage") =!= "cluster_assignments")
        .localCheckpoint(true)
      io.write(keptMetrics, "q24/metrics")
      val mid = new CheckpointedDedup(io, cfg, "q24")
      val a3 = mid.run(turnsDf)
      val midRecomputedOnlyCc = mid.computedStages == List("cluster_assignments")
      val cmp = a2
        .join(a3.select(col("conv_id"), col("cluster_id").as("c_direct")),
          Seq("conv_id"), "full_outer")
        .agg(count(lit(1)).as("n_assignments"),
          coalesce(bool_and(col("c_resumed") === col("c_direct")), lit(false))
            .as("resume_matches_direct"))
      cmp.select(col("n_assignments"),
        (col("resume_matches_direct") && lit(midRecomputedOnlyCc)).as("resume_matches_direct"),
        lit(stages2).as("stages_computed_resume"))
    }),

    // K2 generic-items KLL under the driver: string quantiles over the
    // event_type stream; each returned quantile's EXACT rank (computed in
    // Spark) must sit within the sketch's published normalized rank error
    // of the requested rank — plus a LE-quantile minimality check (the
    // string strictly below the quantile must rank below r).
    "q25_sketch_kll_string" -> ((s, dir) => {
      import graft.functions._
      val eps = 0.0165 // k=200 rank error (K10)
      val ev = t(s, dir, "events").select(col("event_type").as("v"))
      val sk = ev.agg(kll_string_agg(col("v"), 200).as("sk"))
        .select(kll_string_quantiles(col("sk"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
      def exactRankLe(q: Column): Column =
        sum(when(col("v") <= q, 1L).otherwise(0L)).cast("double") / count(lit(1))
      ev.crossJoin(sk)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("v")).as("n_types"),
          exactRankLe(element_at(col("qs"), 1)).as("er25"),
          exactRankLe(element_at(col("qs"), 2)).as("er50"),
          exactRankLe(element_at(col("qs"), 3)).as("er75"),
          first(col("qs")).as("qs"))
        .select(col("n"), col("n_types"),
          (col("er25") >= 0.25 - eps).as("ok_q25"),
          (col("er50") >= 0.5 - eps).as("ok_q50"),
          (col("er75") >= 0.75 - eps).as("ok_q75"),
          (element_at(col("qs"), 1) <= element_at(col("qs"), 2) &&
            element_at(col("qs"), 2) <= element_at(col("qs"), 3)).as("ok_sorted"))
    }),

    // Cross-language DataSketches interop under the driver: every golden
    // Java/C++ HLL fixture (3 encodings x 8 cardinalities) must (a)
    // estimate within the reference's own 2% via ds_hll_estimate, (b)
    // import via hll_from_ds with the same estimate, (c) survive an
    // engine export round-trip in its ORIGINAL encoding (write-side
    // HLL4/6/8), and (d) merge across all 6 same-n images via
    // hll_merge_agg to within composite-estimator error (the fixtures of
    // one n share one stream, so the union is the same set).
    "q26_sketch_ds_interop" -> ((s, _) => {
      import graft.functions._
      import graft.sketch.HllSketch
      import graft.sketch.interop.DataSketchesHll
      val root = "/root/reference/serialization_test_data"
      val rows = for {
        (lang, sub) <- Seq("java" -> "java_generated_files", "cpp" -> "cpp_generated_files")
        enc <- Seq(4, 6, 8)
        n <- Seq(0L, 1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)
      } yield {
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, sub, s"hll${enc}_n${n}_$lang.sk"))
        val tgt = enc match { case 4 => 0; case 6 => 1; case _ => 2 }
        // engine import -> write-side export in the fixture's own encoding
        // -> reference-format re-read (driver-side, 48 tiny files)
        val rt = DataSketchesHll.read(
          HllSketch.fromDataSketchesImage(bytes).toDataSketchesImage(tgt)).estimate
        (lang, enc, n, bytes, rt)
      }
      import s.implicits._
      def ok(est: Column, tol: Double): Column =
        when(col("n") === 0, est === 0.0)
          .otherwise(abs(est / col("n") - 1.0) <= tol)
      rows.toDF("lang", "enc", "n", "bytes", "est_export_rt")
        .withColumn("est_direct", ds_hll_estimate(col("bytes")))
        .withColumn("est_import", hll_estimate(hll_from_ds(col("bytes"))))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_images"),
          bool_and(ok(col("est_direct"), 0.02)).as("ok_direct"),
          bool_and(ok(col("est_import"), 0.02)).as("ok_import"),
          bool_and(ok(col("est_export_rt"), 0.02)).as("ok_export"),
          hll_estimate(hll_merge_agg(hll_from_ds(col("bytes")), 12)).as("est_merged"))
        .select(col("n"), col("n_images"), col("ok_direct"), col("ok_import"),
          col("ok_export"), ok(col("est_merged"), 0.04).as("ok_merged"))
        .orderBy(col("n"))
    }),

    // K9 deterministic range partitioning under the driver: two
    // repartitionByKllRange runs over the same input must land every row
    // in the same partition (per-partition counts + order-insensitive
    // checksums identical) — the property Spark's repartitionByRange
    // (per-run sampling) does NOT give a resumed job.
    "q27_kll_range_partition" -> ((s, dir) => {
      import graft.ops.SkewTools
      // persisted (r6): the two layout() runs, the boundary probe and the
      // bucket-count check are six scans of the same two columns — the
      // operator under test (repartitionByKllRange) still computes its own
      // boundaries per run off this cache, so the determinism contract is
      // exercised unchanged
      val ev = t(s, dir, "events").select(col("event_id"), col("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def layout(): Array[(Int, Long, Long)] = {
        SkewTools.repartitionByKllRange(ev, "value", 8)
          .withColumn("pid", spark_partition_id())
          .groupBy(col("pid"))
          .agg(count(lit(1)).as("cnt"),
            coalesce(bit_xor(xxhash64(col("event_id"))), lit(0L)).as("chk"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
      }
      val a = layout(); val b = layout()
      val n = a.map(_._2).sum
      // bucket count is the checkable constant (hash placement can fold
      // several of the 8 contiguous value-range buckets into one partition)
      val bounds = SkewTools.kllBoundaries(ev, "value", 8)
      val nBuckets = ev
        .select(SkewTools.rangeBucket(col("value"), bounds).as("b"))
        .distinct().count()
      import s.implicits._
      Seq((n, nBuckets, a.sameElements(b)))
        .toDF("n_rows", "n_buckets", "runs_identical")
    }),

    // Structured Streaming under the driver: the transcripts flow through
    // session-window doc assembly (event-time watermark, availableNow
    // micro-batches) and must reproduce the batch buildDocs output
    // byte-for-byte. A far-future sentinel closes the sessions.
    "q28_streaming_docs" -> ((s, dir) => {
      import graft.streaming.StreamingDedup
      import org.apache.spark.sql.streaming.Trigger
      val base = s"/tmp/graft-q28-${Integer.toHexString(dir.hashCode)}"
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(basePath)) fs.delete(basePath, true)
      // state-store partition count is fixed at the stream's FIRST batch
      // from the session shuffle-partition conf: at the bench's 256 the
      // per-partition HDFS state commits dominate the query (measured
      // 36+93 summed commit-seconds for 5001 sessions — 85 s wall under
      // post-bench I/O pressure, 13 s of it streaming work); r5 cut the
      // commit fan-out 8x with 32 state partitions, and the r6 interleaved
      // A/B (2 rounds each of 8/16/32 state partitions) reads 8 fastest
      // for this state volume (5.2 s vs 5.5-6.2 stream wall — both batches
      // commit every partition's state files, so fan-out is paid twice).
      // Production streams size this to their state volume, not to the
      // batch shuffle width. The stream runs in a child session with its
      // own conf (SQL conf, temp views), so the caller's session is never
      // touched; the child shares the SparkContext and the cache, and the
      // memory-sink table is a temp view of the child.
      val child = s.newSession()
      child.conf.set("spark.sql.shuffle.partitions", "8")
      // the shared corpus already carries the far-future sentinel row that
      // closes the session windows (availableNow = one batch, so in-dir
      // placement is safe); only the stream checkpoint is per-run state
      val in = child.readStream
        .schema("conv_id STRING, turn_idx INT, ts TIMESTAMP, text STRING")
        .parquet(sharedTranscriptsDir(s, dir))
      val name = "q28docs_" + java.lang.Long.toHexString(System.nanoTime())
      val q = StreamingDedup.sessionDocs(in, watermark = "1 minute", gap = "5 minutes")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = child.table(name).where(col("conv_id") =!= "__sentinel__")
        .select(col("conv_id"), col("doc").as("doc_stream"))
      val batch = DedupPipeline.buildDocs(docTranscriptsCached(s, dir))
        .select(col("conv_id"), col("doc").as("doc_batch"))
      streamed.join(batch, Seq("conv_id"), "full_outer")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(bool_and(col("doc_stream") === col("doc_batch")), lit(false))
            .as("streaming_equals_batch"))
    }),

    // Frequencies PURGE regime under the driver (q22 covers only the
    // exact regime): (user, event_type) keys through a capacity-48 sketch
    // force purges (offset > 0) at EVERY scale factor (~75 distinct keys
    // at sf0.001, ~750 at sf0.01 — plain user_id has only 15 at sf0.001
    // and never purged), and the NFN error contract must hold against
    // Spark-computed exact counts — no item with true count > maxError
    // missing, every reported bound containing the exact count.
    "q29_sketch_freq_purge" -> ((s, dir) => {
      import graft.functions._
      val ev = t(s, dir, "events").select(
        concat(col("user_id").cast("string"), lit("-"), col("event_type")).as("u"))
      val top = ev.agg(freq_top_items(
          freq_sketch_agg(col("u"), 6), false).as("t"))
        .select(explode(col("t")).as("r"))
        .select(col("r.item").as("u"), col("r.estimate").as("est"),
          col("r.lb").as("lb"), col("r.ub").as("ub"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxErr = top.agg(max(col("ub") - col("lb"))).head().getLong(0)
      val exact = ev.groupBy(col("u")).agg(count(lit(1)).as("exact"))
      exact.join(top, Seq("u"), "full_outer")
        .agg(countDistinct(col("u")).as("n_users"),
          lit(maxErr > 0).as("purged"),
          coalesce(bool_and(when(col("exact") > maxErr, col("est").isNotNull)
            .otherwise(lit(true))), lit(false)).as("nfn_ok"),
          coalesce(bool_and(when(col("est").isNotNull && col("exact").isNotNull,
            col("lb") <= col("exact") && col("exact") <= col("ub"))
            .otherwise(lit(true))), lit(false)).as("bounds_ok"))
    }),

    // P1/P11 catalog seam under the driver: the full pipeline checkpointed
    // through CatalogTableIO (DataFrameWriterV2 / spark.table — the
    // config-swap Iceberg path), assignments read BACK FROM THE CATALOG and
    // matched row-for-row against DuckDB's exact recursive-CTE clustering;
    // a second runner must resume with 0 stages computed, and the appended
    // metrics table must carry every stage (catalog_ok folds both).
    "q30_catalog_tableio" -> ((s, dir) => {
      import graft.pipeline.CatalogTableIO
      val cfg = DedupConfig()
      val ns = "graft_q30"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $ns")
      s.sql(s"SHOW TABLES IN $ns").collect()
        .foreach(r => s.sql(s"DROP TABLE IF EXISTS $ns.${r.getString(1)}"))
      // the in-memory catalog forgets tables across sessions but their
      // managed warehouse locations persist — remove them for hermetic runs
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"$ns.db")
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.delete(wh, true)
      val io = new CatalogTableIO(ns)
      val turnsDf = docTranscriptsCached(s, dir)
      // the docs stage runs the PRODUCTION path: streaming reconstruction
      // off a bucketed copy of the same corpus (BucketedCorpus.readDocs →
      // buildDocsSorted) — the row-for-row assignment match against
      // DuckDB's recursive-CTE clustering below is then driver-green
      // evidence for the streaming path, not just for buildDocs
      val bdir = sharedTranscriptsDir(s, dir) + "-bucketed"
      SparkEntry.synchronized {
        if (!graft.pipeline.BucketedCorpus.isBucketed(bdir))
          graft.pipeline.BucketedCorpus.write(turnsDf, bdir, buckets = 16)
      }
      val docsBuilder = Some(() => graft.pipeline.BucketedCorpus.readDocs(s, bdir))
      new CheckpointedDedup(io, cfg, "q30").run(turnsDf, docsBuilder).count()
      val again = new CheckpointedDedup(io, cfg, "q30")
      again.run(turnsDf, docsBuilder).count()
      val resumeZero = again.computedStages.isEmpty
      val metricsStages = io.read(s, "q30/metrics")
        .select(col("stage")).distinct().count()
      // all 5 pipeline stages must have lineage rows (P12) and tables (P11)
      val ok = resumeZero && metricsStages == 5 && io.exists(s, "q30/docs")
      io.read(s, "q30/cluster_assignments")
        .select(col("conv_id"), col("cluster_id"), lit(ok).as("catalog_ok"))
        .orderBy(col("conv_id"))
    }),

    // F5→P9 salt advisor under the driver: the one-pass mergeable
    // frequency sketch over band keys must flag a planted hot bucket
    // (no-false-negatives contract) and recommend a salt factor that
    // bounds it at maxBucketSize; on the real corpus every TRUE
    // over-threshold bucket must appear in the advice (vacuous or not,
    // it is the exact NFN check). n_docs anchors the row in DuckDB.
    "q31_salt_advisor" -> ((s, dir) => {
      import graft.ops.SkewTools
      val cfg = DedupConfig()
      // planted skew: one key with exactly 5000 occurrences among 2000
      // singletons — forces purges at lgMaxMapSize=10 (2001 distinct keys)
      val planted = s.range(5000).select(lit("HOT").as("band_key"))
        .unionByName(s.range(2000)
          .select(concat(lit("key_"), col("id")).as("band_key")))
      val adv = SkewTools.recommendSalt(planted, cfg, lgMaxMapSize = 10)
      val plantedFound = adv.hotKeys.exists(_._1 == "HOT")
      val saltBoundsHot =
        adv.recommendedSalt.toLong * cfg.maxBucketSize >= 5000L
      // real corpus: exact bucket sizes vs the advice's hot list.
      // bands persisted (r6): BOTH the advisor's sketch agg and the exact
      // bucket-size check below consume it — unpersisted, the signature
      // kernel (the dominant cost) ran twice
      val docs = docsView(s, dir)
      val bands = DedupPipeline.bands(DedupPipeline.minhashes(docs, cfg), cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val realAdv = SkewTools.recommendSalt(bands, cfg)
      val realHot = realAdv.hotKeys.map(_._1).toSet
      // band_key is a long; the advisor's items are its decimal string
      val missedHot = bands.groupBy(col("band_key"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > cfg.maxBucketSize)
        .collect().map(_.getLong(0).toString).count(k => !realHot.contains(k))
      docs.agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"),
          lit(plantedFound).as("planted_hot_found"),
          lit(saltBoundsHot).as("planted_salt_ok"),
          lit(missedHot == 0).as("real_nfn_ok"))
    }),

    // K13/K14 write-side KLL-doubles interop under the driver (q26's
    // pattern for HLL): per-group engine sketches exported to the
    // Apache DataSketches compact layout (kll_to_ds), re-imported
    // (kll_from_ds), quantiles must survive the round trip EXACTLY
    // (state-preserving transfer, no replay) and sit within the
    // published rank error of Spark-computed exact ranks; wire_ok
    // asserts the reference reader's offset convention on the actual
    // exported bytes (levels[0] = capacity - retained,
    // items_sketch_validate.go:116).
    "q32_sketch_kll_doubles_interop" -> ((s, dir) => {
      import graft.functions._
      val eps = 0.0165 // k=200 normalized rank error (K10)
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
      val ranks = array(lit(0.25), lit(0.5), lit(0.75))
      val sks = li.groupBy(col("l_returnflag"))
        .agg(kll_sketch_agg(col("v"), 200).as("sk"), count(lit(1)).as("n"))
        .withColumn("ds", kll_to_ds(col("sk")))
        .withColumn("qs", kll_quantiles(col("sk"), ranks))
        .withColumn("qrt", kll_quantiles(kll_from_ds(col("ds")), ranks))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // wire invariant over the actual exported images (3 groups)
      val wireOk = sks.select(col("ds")).collect().forall { r =>
        val img = r.getAs[Array[Byte]](0)
        val d = graft.sketch.interop.DataSketchesKll.readDoubles(img)
        val lvl0 = java.nio.ByteBuffer.wrap(img, 20, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        img(2) == 15 && d.n > d.k &&
          lvl0 == graft.sketch.KllSketch.totalCapacity(d.k, d.numLevels) - d.items.length &&
          lvl0 > 0
      }
      def okRank(q: Column, r: Double): Column =
        (sum(when(col("v") <= q, 1L).otherwise(0L)).cast("double") / count(lit(1))
          >= r - eps)
      li.join(sks.select(col("l_returnflag"), col("n"), col("qs"), col("qrt")),
          Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("n")).as("n"),
          coalesce(bool_and(col("qs") === col("qrt")), lit(false)).as("roundtrip_exact"),
          okRank(element_at(col("qrt"), 1), 0.25).as("ok_q25"),
          okRank(element_at(col("qrt"), 2), 0.5).as("ok_q50"),
          okRank(element_at(col("qrt"), 3), 0.75).as("ok_q75"))
        .select(col("l_returnflag"), col("n"), col("roundtrip_exact"),
          lit(wireOk).as("wire_ok"), col("ok_q25"), col("ok_q50"), col("ok_q75"))
        .orderBy(col("l_returnflag"))
    }),

    // F10/F12 + K13 write-side export under the driver: engine-built
    // Frequencies (strings) and KLL-string sketches exported in the
    // reference layouts and re-read through the golden-fixture readers —
    // estimates/quantiles must survive exactly; the Frequencies exact
    // regime must reproduce Spark-computed exact counts; the KLL-string
    // wire offsets must satisfy the reference's capacity convention; and
    // writeString(readString(x)) over the Java golden fixture must be
    // BYTE-identical (nonzero levels[0] included — the ADVICE r3 defect).
    "q33_sketch_write_side_export" -> ((s, dir) => {
      import graft.functions._
      import graft.sketch.{FreqSketch, HllSketch, KllItemsSketch, KllSketch}
      import graft.sketch.interop.{DataSketchesFreq, DataSketchesKll}
      val ev = t(s, dir, "events")
        .select(col("event_type").as("v"), col("user_id").as("uid"))
      val row = ev.agg(
        freq_sketch_agg(col("v"), 10).as("fsk"),
        kll_string_agg(col("v"), 200).as("ksk"),
        count(lit(1)).as("n"),
        hll_agg(col("v")).as("hs"),   // few distinct values: stays sparse
        hll_agg(col("uid"), 4).as("hd")). // k=16 over ~150 users: dense
        head()
      val n = row.getLong(2)
      val freq = FreqSketch.deserialize(row.getAs[Array[Byte]](0), FreqSketch.StringSerde)
      val kll = KllItemsSketch.deserialize[String](row.getAs[Array[Byte]](1))
      // Frequencies: export -> golden reader; exact regime (5 event types
      // in a 2^10 map: offset 0) must reproduce exact counts
      val fimg = freq.toDataSketchesImage(FreqSketch.DsStringWriter, FreqSketch.DsStringSize)
      val fre = DataSketchesFreq.readStrings(fimg)
      val exact = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val freqExportOk = fre.streamWeight == n && !fre.empty &&
        exact.keys.forall(k2 => fre.estimate(k2) == freq.estimate(k2))
      val freqExact = fre.offset == 0 && exact.forall { case (k2, c) => fre.estimate(k2) == c }
      // KLL-string: export -> golden reader; quantiles preserved exactly
      val kimg = kll.toDataSketchesImage
      val kre = DataSketchesKll.readString(kimg)
      val kllExportOk = kre.n == n &&
        Seq(0.25, 0.5, 0.75).forall(r => kre.quantile(r) == kll.quantile(r))
      val lvl0 = java.nio.ByteBuffer.wrap(kimg, 20, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val wireOk = kimg(2) == 15 &&
        lvl0 == KllSketch.totalCapacity(kre.k, kre.numLevels) - kre.items.length
      // byte-level oracle: the reference's own Java image re-exports
      // byte-identically through the engine's writer
      val golden = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "/root/reference/serialization_test_data/java_generated_files/kll_string_n1000_java.sk"))
      val goldenOk = java.util.Arrays.equals(
        DataSketchesKll.writeString(DataSketchesKll.readString(golden)), golden)
      // empty Frequencies image carries both historical empty bits (flags=5)
      val emptyImg = new FreqSketch[String](10)
        .toDataSketchesImage(FreqSketch.DsStringWriter, FreqSketch.DsStringSize)
      val emptyOk = (emptyImg(5) & 0xff) == 5 && DataSketchesFreq.readStrings(emptyImg).empty
      // F11: CSV string serde on the same stream's exact counts — the
      // reference LongsSketch ToString/FromString pair
      // (frequencies/longs_sketch.go:468-485, 180-255)
      val fLong = new FreqSketch[Long](10)
      val keyed = exact.toSeq.sortBy(_._1).zipWithIndex
        .map { case ((_, c), i) => i.toLong -> c }
      keyed.foreach { case (k2, c) => fLong.update(k2, c) }
      val fCsv = FreqSketch.fromCsvString(fLong.toCsvString())
      val freqCsvOk =
        fLong.toCsvString().startsWith(s"1,10,10,0,$n,0,${keyed.size},") &&
        fCsv.streamWeight == n && fCsv.offset == 0 &&
        fCsv.numActive == keyed.size &&
        keyed.forall { case (k2, c) => fCsv.estimate(k2) == c }
      // H21: pair iteration over both representations of the aggregated
      // sketches (hll/pair_iterator.go:20-95, hll_pair_iterator.go:20-52)
      val hs = HllSketch.deserialize(row.getAs[Array[Byte]](3))
      val hd = HllSketch.deserialize(row.getAs[Array[Byte]](4))
      val sparsePairs = hs.pairIterator().toVector
      val sparseOk = !hs.isDense && sparsePairs.nonEmpty &&
        sparsePairs.size <= exact.size &&
        sparsePairs.forall(p =>
          p.slot == (p.key & (hs.k - 1)) && p.value >= 1 && p.value <= 63 &&
          (p.packed & HllSketch.SlotMask26) == p.key) &&
        HllSketch.deserialize(hs.serialize()).pairIterator()
          .map(_.packed).toVector.sorted == sparsePairs.map(_.packed).sorted
      val allPairs = hd.pairIterator(validOnly = false).toVector
      val denseOk = hd.isDense && allPairs.size == hd.k &&
        hd.pairIterator().toVector == allPairs.filter(_.value != 0) &&
        allPairs.map(_.slot) == (0 until hd.k).toVector
      val hllPairsOk = sparseOk && denseOk
      import s.implicits._
      Seq((n, freqExportOk, freqExact, kllExportOk, wireOk, goldenOk, emptyOk,
          freqCsvOk, hllPairsOk))
        .toDF("n", "freq_export_ok", "freq_exact", "kll_export_ok",
          "kll_wire_ok", "golden_byte_identical", "empty_flags_ok",
          "freq_csv_ok", "hll_pairs_ok")
    })
  )

  /** Shared DuckDB fragments for the near-dup oracles.
    *
    * DOCUMENTED DIVERGENCE (ADVICE r2): the pipeline's verification
    * applies gates the SQL oracle does not model —
    *  - the length-adaptive LCS gate (verifyPairsById drops high-Jaccard /
    *    low-LCS pairs like VerifyGatesSpec's block-shuffled construction),
    *  - q09's fingerprint-overlap prefilter (kept-fingerprint containment
    *    >= 0.6).
    * The oracle is pure 8-gram Jaccard >= 0.8. The compare is exact on the
    * driver corpora because (measured, rechecked each round)
    *  - every true pair there is a near-verbatim duplicate: LCS >>
    *    min(tauLcs, len/2) and winnow containment exactly 1.0, so neither
    *    gate fires on an oracle pair;
    *  - both gates only REMOVE pairs, so they can never add a row the
    *    oracle lacks.
    * On adversarial corpora (block-shuffled dups) the pipeline's answer
    * deviates from the plain-Jaccard oracle BY DESIGN — the north star
    * mandates the suffix-array LCS check; VerifyGatesSpec pins that
    * behavior. */
  private val gramPairsOver: String => String = docsExpr =>
    s"""WITH RECURSIVE d0 AS ($docsExpr),
       g AS (
         SELECT id, unnest(list_distinct(list_transform(range(length(doc)-7),
                i -> substr(doc, i+1, 8)))) AS gram
         FROM d0 WHERE length(doc) >= 8),
       sizes AS (SELECT id, count(*) AS n FROM g GROUP BY id),
       inter AS (
         SELECT a.id AS ia, b.id AS ib, count(*) AS i
         FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id
         GROUP BY 1, 2),
       pairs AS (
         SELECT ia AS a, ib AS b,
                round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)"""

  private val rawDocs =
    "SELECT CAST(doc_id AS VARCHAR) AS id, text AS doc FROM documents"

  /** 10-word-chunk reconstruction — must mirror docTranscripts + P2 concat. */
  private val rebuiltDocs =
    """SELECT CAST(doc_id AS VARCHAR) AS id,
       array_to_string(list_transform(
         range(CAST(ceil(len(w) / 10.0) AS BIGINT)),
         i -> array_to_string(w[i*10+1 : i*10+10], ' ')), chr(10)) AS doc
       FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
             FROM documents)"""

  private def clustersSql(docsExpr: String): String =
    gramPairsOver(docsExpr) +
      """,
       edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
       cc(node, lbl) AS (
         SELECT id, id FROM d0
         UNION
         SELECT e.v, cc.lbl FROM cc JOIN edges e ON cc.node = e.u)
       SELECT node AS conv_id, min(lbl) AS cluster_id FROM cc GROUP BY node
       ORDER BY conv_id"""

  private def pairsSql(docsExpr: String): String =
    gramPairsOver(docsExpr) +
      "\nSELECT a, b, jaccard FROM pairs ORDER BY a, b"

  /** Clone-augmented embedding corpus in DuckDB (mirrors withClones). */
  private def embUnion(cloneFilter: String): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       c AS (SELECT vec_id + 10000 AS vec_id,
                    list_prepend(emb[1] + 0.01, emb[2:]) AS emb
             FROM e $cloneFilter),
       u AS (SELECT * FROM e UNION ALL SELECT * FROM c)"""

  def oracleSql: Map[String, String] = Map(
    "q01_lineitem_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1995-12-31 23:59:59'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_orders_customer_join" ->
      """SELECT c_mktsegment,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(DISTINCT o_custkey) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q03_events_heavy_hitters" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type
         ORDER BY n DESC, event_type LIMIT 5""",
    "q04_events_first_per_user" ->
      """SELECT user_id, event_id, event_type, ts FROM (
           SELECT user_id, event_id, event_type, ts,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q05_docs_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS h,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY h""",
    "q06_docs_token_stats" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                   w -> GREATEST(1, CAST(CEIL(length(w) / 4.0) AS INT)))) AS BIGINT) END AS n_subwords,
         length(text) AS len
         FROM documents ORDER BY doc_id""",
    "q07_docs_quality" ->
      """SELECT doc_id,
         (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
           / GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           / GREATEST(CAST(length(text) AS DOUBLE), 1.0) AS digit_ratio
         FROM documents ORDER BY doc_id""",
    "q08_docs_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 3
                       THEN list_transform(range(len(w)-2),
                            i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
                       ELSE [] END AS tri
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents))
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_distinct(list_intersect(a.tri, b.tri))) AS DOUBLE)
                  / len(list_distinct(a.tri || b.tri)) AS ngram_jaccard
         FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         WHERE len(a.tri) > 0 AND len(b.tri) > 0
         ORDER BY a""",
    "q09_docs_winnow_neardup" -> pairsSql(rawDocs),
    "q10_docs_lsh_neardup_pairs" -> pairsSql(rawDocs),
    "q11_docs_lsh_clusters" -> clustersSql(rawDocs),
    "q12_transcripts_dedup_e2e" -> clustersSql(rebuiltDocs),
    "q13_docs_signature_stats" ->
      """SELECT CAST(doc_id AS VARCHAR) AS conv_id,
         CASE WHEN length(text) >= 8
              THEN len(list_distinct(list_transform(range(length(text)-7),
                   i -> substr(text, i+1, 8))))
              ELSE 0 END AS n_shingles,
         length(text) AS len
         FROM documents ORDER BY conv_id""",
    "q14_embeddings_ann_bruteforce" ->
      """WITH s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[])) AS score
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         r AS (
           SELECT query_id, neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, neighbor_id, rank, round(score, 6) AS score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q15_embeddings_ann_lsh" ->
      s"""WITH ${embUnion("WHERE vec_id < 10")},
         s AS (
           SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                  list_cosine_similarity(q.emb, x.emb) AS score
           FROM e q JOIN u x ON x.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         r AS (
           SELECT query_id, neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rk
           FROM s)
         SELECT query_id, neighbor_id, round(score, 6) AS score
         FROM r WHERE rk = 1 ORDER BY query_id""",
    "q23_embeddings_ann_ivf" ->
      s"""WITH ${embUnion("WHERE vec_id < 10")},
         s AS (
           SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                  list_cosine_similarity(q.emb, x.emb) AS score
           FROM e q JOIN u x ON x.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         r AS (
           SELECT query_id, neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rk
           FROM s)
         SELECT query_id, neighbor_id, round(score, 6) AS score
         FROM r WHERE rk = 1 ORDER BY query_id""",
    "q16_embeddings_neardup" ->
      s"""WITH ${embUnion("")},
         p AS (
           SELECT a.vec_id AS a, b.vec_id AS b,
                  list_cosine_similarity(a.emb, b.emb) AS score
           FROM u a JOIN u b ON a.vec_id < b.vec_id)
         SELECT a, b, round(score, 6) AS score FROM p
         WHERE score >= 0.95 ORDER BY a, b""",
    "q17_docs_langid" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, w -> w IN ('the','a','and','of','to','in','is','it','that','for'))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_en,
             CAST(len(list_filter(toks, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_de,
             CAST(len(list_filter(toks, w -> w IN ('le','la','les','et','est','un','une','dans','pour','que'))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_fr,
             CAST(len(list_filter(toks, w -> w IN ('el','la','los','y','es','un','una','en','por','que'))) AS DOUBLE) / GREATEST(len(toks), 1) AS s_es
           FROM t),
         uni AS (
           SELECT doc_id, s_en AS sc, 'en' AS l FROM s UNION ALL
           SELECT doc_id, s_de, 'de' FROM s UNION ALL
           SELECT doc_id, s_fr, 'fr' FROM s UNION ALL
           SELECT doc_id, s_es, 'es' FROM s),
         b AS (
           SELECT doc_id, max(struct_pack(s := sc, l := l)) AS best
           FROM uni GROUP BY doc_id)
         SELECT doc_id,
                CASE WHEN best.s >= 0.02 THEN best.l ELSE 'und' END AS lang_pred,
                round(best.s, 4) AS lang_score
         FROM b ORDER BY doc_id""",
    "q18_docs_simhash_neardup" ->
      "SELECT COUNT(*) AS n_docs, TRUE AS banded_equals_bruteforce FROM documents",
    "q19_media_stats" ->
      """SELECT CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
         COUNT(*) AS n, CAST(0 AS BIGINT) AS n_corrupt,
         TRUE AS fmt_ok, TRUE AS dims_ok,
         TRUE AS resize_ok, TRUE AS frames_ok
         FROM range(2000) t(i) GROUP BY 1 ORDER BY kind""",
    "q20_sketch_hll_distinct" ->
      """SELECT l_returnflag,
         COUNT(DISTINCT l_partkey) AS exact_parts,
         COUNT(DISTINCT l_orderkey) AS exact_orders,
         TRUE AS parts_ok, TRUE AS orders_ok, TRUE AS bounds_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q21_sketch_kll_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
         TRUE AS ok_q25, TRUE AS ok_q50, TRUE AS ok_q75, TRUE AS ok_q95,
         TRUE AS ok_rank30k, TRUE AS ok_cdf, TRUE AS ok_bounds
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_sketch_freq_heavy" ->
      """SELECT event_type AS item, COUNT(*) AS estimate
         FROM events GROUP BY 1 ORDER BY estimate DESC, item""",
    "q24_dedup_resume" ->
      """SELECT COUNT(*) AS n_assignments, TRUE AS resume_matches_direct,
         CAST(0 AS BIGINT) AS stages_computed_resume
         FROM documents""",
    "q25_sketch_kll_string" ->
      """SELECT COUNT(*) AS n, COUNT(DISTINCT event_type) AS n_types,
         TRUE AS ok_q25, TRUE AS ok_q50, TRUE AS ok_q75, TRUE AS ok_sorted
         FROM events""",
    // the fixture inventory is a fixed constant of the reference repo:
    // 6 images (java+cpp x hll4/6/8) per cardinality
    "q26_sketch_ds_interop" ->
      """SELECT n, CAST(6 AS BIGINT) AS n_images, TRUE AS ok_direct,
         TRUE AS ok_import, TRUE AS ok_export, TRUE AS ok_merged
         FROM (VALUES (CAST(0 AS BIGINT)), (1), (10), (100), (1000),
                      (10000), (100000), (1000000)) t(n)
         ORDER BY n""",
    "q27_kll_range_partition" ->
      """SELECT COUNT(*) AS n_rows, CAST(8 AS BIGINT) AS n_buckets,
         TRUE AS runs_identical FROM events""",
    "q28_streaming_docs" ->
      "SELECT COUNT(*) AS n_docs, TRUE AS streaming_equals_batch FROM documents",
    "q29_sketch_freq_purge" ->
      """SELECT COUNT(DISTINCT user_id || '-' || event_type) AS n_users,
         TRUE AS purged, TRUE AS nfn_ok, TRUE AS bounds_ok FROM events""",
    // assignments READ BACK FROM THE CATALOG must equal the exact
    // recursive-CTE clustering over the reconstructed docs (same ground
    // truth as q12); catalog_ok folds resume-zero-stages + 6-stage lineage
    "q30_catalog_tableio" ->
      (gramPairsOver(rebuiltDocs) +
        """,
       edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
       cc(node, lbl) AS (
         SELECT id, id FROM d0
         UNION
         SELECT e.v, cc.lbl FROM cc JOIN edges e ON cc.node = e.u)
       SELECT node AS conv_id, min(lbl) AS cluster_id, TRUE AS catalog_ok
       FROM cc GROUP BY node ORDER BY conv_id"""),
    "q31_salt_advisor" ->
      """SELECT COUNT(*) AS n_docs, TRUE AS planted_hot_found,
         TRUE AS planted_salt_ok, TRUE AS real_nfn_ok FROM documents""",
    "q32_sketch_kll_doubles_interop" ->
      """SELECT l_returnflag, COUNT(*) AS n, TRUE AS roundtrip_exact,
         TRUE AS wire_ok, TRUE AS ok_q25, TRUE AS ok_q50, TRUE AS ok_q75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q33_sketch_write_side_export" ->
      """SELECT COUNT(*) AS n, TRUE AS freq_export_ok, TRUE AS freq_exact,
         TRUE AS kll_export_ok, TRUE AS kll_wire_ok,
         TRUE AS golden_byte_identical, TRUE AS empty_flags_ok,
         TRUE AS freq_csv_ok, TRUE AS hll_pairs_ok FROM events"""
  )
}
