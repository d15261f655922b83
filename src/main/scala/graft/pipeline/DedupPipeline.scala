package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._

/** The Spark-native near-duplicate detection + clustering pipeline
  * (BASELINE.json north_star; stage numbering per SURVEY.md §2b).
  *
  * Scale design notes (100 TB / 10^12 turns):
  *  - P2 doc reconstruction: ONE shuffle on conv_id; stable (turn_idx, ts)
  *    ordering done with array_sort inside the aggregate, not a window
  *    (windows would shuffle + sort the full turn stream twice).
  *  - Keys: `withIds` gives each doc an id ordered as (xxhash64(conv_id),
  *    conv_id), so every stage between docs and CC joins and sorts on one
  *    8-byte key that cannot collide. `stages` is the one composition both
  *    runners apply.
  *  - P3/P4 signatures: map-side only, no shuffle. Banding reads
  *    text_minhash, fused into the band explode; verification recomputes
  *    shingle sets and the SimHash pair-locally (pair_verify).
  *  - P5 banding: map-side explode; band keys are codegen'd built-ins
  *    (xxhash64 over signature slices).
  *  - P6 candidates: groupBy-free "chain + star" within each band bucket
  *    using window functions — emits ≤ 2 edges per bucket member instead of
  *    the O(m²) all-pairs self-join. Connectivity within a bucket is
  *    preserved (star to the bucket min + chain between sort-adjacent
  *    members), so cluster-level dup-pair recall is unaffected while hot
  *    boilerplate buckets (the skew driver) stay LINEAR. This is the
  *    structural skew guard; AQE skew-join splitting covers the residual
  *    joins (P9).
  *  - P7 verification: one body, `verifyPairsById`, for the shipped run
  *    and the oracle queries. Pairs carry raw text (not 8x-bigger shingle
  *    arrays); a fused expression computes exact Jaccard + SimHash
  *    distance pair-locally, Jaccard gates FIRST, suffix-automaton LCS
  *    runs only on survivors. The candidate pairs are joined as
  *    committed; the join's own partitioning places the kernel.
  *  - P8 clustering: alternating large-star/small-star contraction
  *    (O(log n) rounds), window-min based — no collect_list, no RDDs;
  *    lineage cut per round with localCheckpoint.
  */
object DedupPipeline {

  /** connectedComponents' path, probe and round decisions, at INFO. */
  private val ccLog = org.slf4j.LoggerFactory.getLogger("graft.pipeline.DedupPipeline")

  /** Intermediates persisted or locally checkpointed by pipeline stages
    * (verify's candidate-doc subset, the closure's intra-cluster pairs,
    * the winnow bucket/vocabulary tables, q09's docs and candidates, and
    * runWithDocs' committed stages), tracked per session so long-lived
    * callers can release them: Spark never auto-unpersists, and repeated
    * library calls in one session would otherwise accumulate cached
    * blocks (ADVICE r3). Call it after materializing stage output
    * (CheckpointedDedup does, per stage): a persisted frame recomputes
    * when read again, a released checkpoint cannot be read again. A
    * local checkpoint is not in the cache manager, so callers that
    * clearCache() between runs call this too. */
  private val trackedReleases =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[() => Unit]]()

  private def track(spark: SparkSession, release: () => Unit): Unit =
    trackedReleases
      .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]())
      .add(release)

  private def trackPersist(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(df.sparkSession, () => df.unpersist(false))
    df
  }

  /** `df` run now under the session's adaptive execution and kept as a
    * local checkpoint (MEMORY_AND_DISK) whose blocks `unpersistIntermediates`
    * releases. Unlike a cached plan, whose output keeps every
    * spark.sql.shuffle.partitions partition and loses AQE's final-stage
    * coalescing and skew split, the checkpoint holds the partitions AQE
    * chose, and later stages read it as a LogicalRDD that keeps the
    * plan's output partitioning and size estimate. Blocks are lost with
    * their executor: nothing recomputes them. */
  private[graft] def trackCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    c.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        track(c.sparkSession, () => r.rdd.unpersist(false))
      case _ =>
    }
    c
  }

  /** Release every intermediate this pipeline persisted or checkpointed
    * in `spark`. */
  def unpersistIntermediates(spark: SparkSession): Unit = {
    val q = trackedReleases.remove(spark)
    if (q != null) {
      val it = q.iterator()
      while (it.hasNext) {
        try it.next()()
        catch { case _: Throwable => }
      }
    }
  }

  /** One conversation's doc, as an aggregate over its turn rows: the
    * turns' text joined by "\n" in stable turn order. array_sort over
    * struct(turn_idx, ts, text) sorts lexicographically by field order —
    * deterministic tie-break per input_hint ("per-turn text equality under
    * stable turn ordering"). buildDocs and StreamingDedup.sessionDocs both
    * assemble docs with it; q28 checks that they agree. */
  private[graft] def stableDoc: Column =
    concat_ws("\n",
      transform(
        array_sort(collect_list(struct(col("turn_idx"), col("ts"), col("text")))),
        s => s.getField("text")))

  /** P2: transcripts → docs(conv_id, doc, n_turns, doc_len), turns in
    * `stableDoc` order.
    *
    * Layout note for the 10^12-turn table: store it BUCKETED by conv_id
    * (bucketBy + sortBy at write time) and this stage's groupBy runs
    * exchange-free — Spark's bucketed scan satisfies the aggregation's
    * distribution requirement, so the one shuffle this stage pays on a
    * scattered layout disappears entirely (pinned by PlanContractSpec
    * "bucketed transcripts reconstruct docs with NO shuffle"). */
  def buildDocs(transcripts: DataFrame): DataFrame =
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
      .groupBy(col("conv_id"))
      .agg(stableDoc.as("doc"), count(lit(1)).cast("int").as("n_turns"))
      .withColumn("doc_len", length(col("doc")).cast("long"))

  private val docsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("conv_id",
      org.apache.spark.sql.types.StringType, nullable = true), // null is a legal group key
    org.apache.spark.sql.types.StructField("doc",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_turns",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("doc_len",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** P2 over the PRODUCTION layout: streaming doc reconstruction for
    * inputs whose partitions are (a) conv_id-disjoint and (b) sorted by
    * (conv_id, turn_idx) within each partition — exactly what
    * BucketedCorpus.write lays down (one sorted file per bucket; with
    * Iceberg: `bucket(N, conv_id)` partitioning + a (conv_id, turn_idx)
    * sort order). Output is IDENTICAL to buildDocs (DocsSortedSpec pins
    * byte-equality incl. turn_idx tie-breaks and null text): one forward
    * pass per partition, O(1) state per in-flight conversation — no hash
    * table of every group in the task and no per-group array_sort. At
    * 10^12 turns this is the difference between an ObjectHashAggregate
    * buffering a task's entire bucket and a constant-memory merge; on the
    * 1M-conv bench corpus it is also ~1.7-2x faster wall at both widths
    * (DocsProbe: persist 5.99 -> 2.99 s at 8 cores, 2.55 -> 1.51 s at 32).
    *
    * Rows with equal (conv_id, turn_idx) — which the file sort leaves in
    * arbitrary relative order — are buffered per run and ordered by
    * (ts, text) with nulls first, matching buildDocs' array_sort struct
    * semantics; text comparison is by unsigned UTF-8 bytes (UTF8String
    * order), not String.compareTo (UTF-16 order differs above the BMP).
    * turn_idx monotonicity inside a partition is ASSERTED per row, so a
    * caller handing this a non-conforming layout fails loudly instead of
    * silently concatenating out of order. Use BucketedCorpus.readDocs,
    * which engages this path only when the layout guarantees hold. */
  def buildDocsSorted(transcripts: DataFrame): DataFrame = {
    val spark = transcripts.sparkSession
    val projected =
      transcripts.select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
    // Loud guard against the one layout violation the per-row monotonicity
    // assert CANNOT catch: a direct file scan whose partitions are byte
    // ranges rather than whole bucket files (Spark splits multi-row-group
    // files at maxPartitionBytes when the scan is not bucket-aligned) — a
    // conversation straddling a split emits two partial docs, each still
    // sorted. A plan WITH an exchange re-establishes its own partitioning
    // (the caller's repartition + sortWithinPartitions contract, exercised
    // by the specs), so only the direct-scan shape is rejected. Production
    // callers go through BucketedCorpus.readDocs, which pins
    // bucketedScan=true before calling here.
    // BucketedCorpus.planNodes looks through AQE's AdaptiveSparkPlanExec:
    // otherwise an unaligned split scan under an adaptive wrapper passed
    // the guard unverified, and the mere PRESENCE of the wrapper counted
    // as "repartitioned" (ADVICE r5: only a real ShuffleExchange
    // re-establishes partitioning).
    val nodes = BucketedCorpus.planNodes(projected)
    val unalignedScans = nodes.exists {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => !s.bucketedScan
      case _ => false
    }
    val repartitioned =
      nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    require(!unalignedScans || repartitioned,
      "buildDocsSorted: input is a direct file scan without bucket-aligned " +
        "partitions (bucketedScan=false) — file splitting would silently " +
        "break conversations across tasks; use BucketedCorpus.readDocs, or " +
        "repartition+sortWithinPartitions by (conv_id, turn_idx) explicitly")
    // InternalRow path (r6): the old external-Row form decoded every turn's
    // text to a java.lang.String, built docs in a StringBuilder, then paid
    // createDataFrame's Row→InternalRow re-encode of every doc — at 1M
    // convs the docs stage spent 46 of its 196 core-seconds in GC
    // (BenchStages r6 baseline). This form reads the scan's UTF8Strings
    // zero-copy, buffers turn bytes in REUSED scratch arrays (zero per-turn
    // allocation), and emits InternalRows directly — identical output
    // (DocsSortedSpec byte-equality incl. ties, nulls, non-BMP lengths).
    val rdd = projected.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        import org.apache.spark.unsafe.Platform
        import org.apache.spark.unsafe.types.UTF8String
        // `started` (not cur == null) marks the no-open-conversation
        // state: a null conv_id is a legal GROUP BY key in buildDocs, so
        // the stream path must emit it as its own group too, not silently
        // graft its turns onto the next conversation
        private var started = false
        private var cur: UTF8String = null      // cloned (scan rows are reused)
        private var nTurns = 0
        private var anyText = false             // concat_ws skips null elems
        private var lastIdx = 0
        private var lastIdxNull = false
        private var idxSeen = false
        // doc assembly buffer (reused across conversations)
        private var doc = new Array[Byte](1 << 14)
        private var docLen = 0
        // tie run: rows sharing (conv_id, turn_idx), ordered on flush by
        // (ts NULLS FIRST, text-bytes NULLS FIRST) — buildDocs' array_sort
        // struct semantics. Turn text bytes are copied into one reused
        // scratch buffer; parallel arrays carry per-entry offsets/ts.
        private var scratch = new Array[Byte](1 << 14)
        private var scratchLen = 0
        private var runN = 0
        private var runEnd = new Array[Int](8)   // end offset in scratch
        private var runNullText = new Array[Boolean](8)
        private var runTs = new Array[Long](8)
        private var runTsNull = new Array[Boolean](8)
        private var pending: org.apache.spark.sql.catalyst.InternalRow = null
        private var done = false

        private def growDoc(need: Int): Unit =
          if (docLen + need > doc.length)
            doc = java.util.Arrays.copyOf(doc, math.max(doc.length * 2, docLen + need))
        private def growScratch(need: Int): Unit =
          if (scratchLen + need > scratch.length)
            scratch = java.util.Arrays.copyOf(scratch, math.max(scratch.length * 2, scratchLen + need))
        private def growRun(): Unit = if (runN == runEnd.length) {
          runEnd = java.util.Arrays.copyOf(runEnd, runN * 2)
          runNullText = java.util.Arrays.copyOf(runNullText, runN * 2)
          runTs = java.util.Arrays.copyOf(runTs, runN * 2)
          runTsNull = java.util.Arrays.copyOf(runTsNull, runN * 2)
        }

        /** unsigned byte compare of scratch slices [sa,ea) vs [sb,eb) */
        private def cmpSlice(sa: Int, ea: Int, sb: Int, eb: Int): Int = {
          val n = math.min(ea - sa, eb - sb)
          var i = 0
          while (i < n) {
            val d = (scratch(sa + i) & 0xff) - (scratch(sb + i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          (ea - sa) - (eb - sb)
        }
        /** run order: ts nulls first, then ts, then text (nulls first, bytes) */
        private def runLt(a: Int, b: Int): Boolean = {
          if (runTsNull(a) != runTsNull(b)) return runTsNull(a)
          if (!runTsNull(a) && runTs(a) != runTs(b)) return runTs(a) < runTs(b)
          if (runNullText(a) != runNullText(b)) return runNullText(a)
          if (runNullText(a)) return false
          cmpSlice(if (a == 0) 0 else runEnd(a - 1), runEnd(a),
            if (b == 0) 0 else runEnd(b - 1), runEnd(b)) < 0
        }
        private def appendEntry(i: Int): Unit = {
          nTurns += 1
          if (!runNullText(i)) {
            val s = if (i == 0) 0 else runEnd(i - 1)
            val n = runEnd(i) - s
            growDoc(n + 1)
            if (anyText) { doc(docLen) = '\n'; docLen += 1 }
            System.arraycopy(scratch, s, doc, docLen, n)
            docLen += n
            anyText = true
          }
        }
        private def flushRun(): Unit = {
          if (runN == 1) appendEntry(0)
          else if (runN > 0) {
            // insertion sort of entry indices (runs are tiny: tie groups)
            val idx = new Array[Int](runN)
            var i = 0
            while (i < runN) { idx(i) = i; i += 1 }
            i = 1
            while (i < runN) {
              val v = idx(i)
              var j = i - 1
              while (j >= 0 && runLt(v, idx(j))) { idx(j + 1) = idx(j); j -= 1 }
              idx(j + 1) = v
              i += 1
            }
            i = 0
            while (i < runN) { appendEntry(idx(i)); i += 1 }
          }
          runN = 0
          scratchLen = 0
        }
        private def emit(): org.apache.spark.sql.catalyst.InternalRow = {
          flushRun()
          val docStr = UTF8String.fromBytes(java.util.Arrays.copyOf(doc, docLen))
          val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](cur, docStr, nTurns, docStr.numChars().toLong))
          docLen = 0; nTurns = 0; anyText = false
          lastIdxNull = false; idxSeen = false
          r
        }

        override def hasNext: Boolean = {
          if (pending != null) return true
          if (done) return false
          while (it.hasNext) {
            val r = it.next()
            val id = if (r.isNullAt(0)) null else r.getUTF8String(0)
            val idxNull = r.isNullAt(1)
            val idx = if (idxNull) 0 else r.getInt(1)
            val sameConv = started &&
              (if (cur == null) id == null else id != null && cur.equals(id))
            val out =
              if (started && !sameConv) { pending = emit(); true } else false
            if (!sameConv) { cur = if (id == null) null else id.clone(); started = true }
            if (idxSeen && (idxNull != lastIdxNull || (!idxNull && idx != lastIdx))) {
              // null turn_idx sorts first (struct-field NullsFirst), so a
              // null AFTER a non-null — or any decrease — is a violation
              require(lastIdxNull || (!idxNull && idx >= lastIdx),
                s"buildDocsSorted: partition not sorted by (conv_id, turn_idx) " +
                  s"at conv_id=$id turn_idx=${if (idxNull) "null" else idx} " +
                  s"after ${if (lastIdxNull) "null" else lastIdx}")
              flushRun()
            }
            lastIdx = idx; lastIdxNull = idxNull; idxSeen = true
            growRun()
            if (r.isNullAt(2)) { runTsNull(runN) = true; runTs(runN) = 0L }
            else { runTsNull(runN) = false; runTs(runN) = r.getLong(2) }
            if (r.isNullAt(3)) runNullText(runN) = true
            else {
              runNullText(runN) = false
              val t = r.getUTF8String(3)
              val n = t.numBytes()
              growScratch(n)
              Platform.copyMemory(t.getBaseObject, t.getBaseOffset,
                scratch, Platform.BYTE_ARRAY_OFFSET + scratchLen, n)
              scratchLen += n
            }
            runEnd(runN) = scratchLen
            runN += 1
            if (out) return true
          }
          done = true
          if (started) { pending = emit(); started = false; return true }
          false
        }
        override def next(): org.apache.spark.sql.catalyst.InternalRow = {
          val r = pending; pending = null; r
        }
      }
    }
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark, rdd, docsSchema)
  }

  /** P3+P4: docs → signatures(conv_id, doc_len, shingles, minhash, simhash).
    * Catalyst expression path (graft.functions.text_signature): one pass
    * over the UTF-8 bytes, zero-copy, stays inside WholeStageCodegen.
    * Deliberately does NOT carry the doc text: signatures flow through the
    * banding/verification joins, and shuffling the raw corpus alongside
    * them would multiply shuffle volume (the doc is re-joined only for the
    * few pairs that survive the Jaccard gate). */
  def signatures(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs.withColumn("sig",
        graft.functions.text_signature(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed))
      .select(col("conv_id"), col("doc_len"),
        col("sig.shingles").as("shingles"),
        col("sig.minhash").as("minhash"),
        col("sig.simhash").as("simhash"))

  /** P4-only projection: (conv_id, simhash) for consumers that read ONLY
    * the simhash — same shingle pass and fingerprint as `signatures` (the
    * values are bit-identical, FunctionsSpec) without the minhash loop.
    * Measured single-threaded on 1.9 KB docs, the struct kernel's parts
    * cost about 80 ns/B for shingle hashing and sort, 60–90 for the
    * minhash loop, and 4 for the SimHash. */
  def simhashSignatures(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs.select(col("conv_id"),
      graft.functions.simhash64(col("doc"), cfg.shingleK, cfg.seed).as("simhash"))

  /** P3, band input: docs → (conv_id, minhash), the only signature field
    * banding reads (text_minhash: no shingle sort, SimHash or shingle
    * array; bit-identical to `signatures`' minhash column). */
  def minhashes(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs.select(col("conv_id"), minhash(cfg))

  private def minhash(cfg: DedupConfig): Column =
    graft.functions.text_minhash(col("doc"), cfg.shingleK, cfg.numHashes, cfg.seed).as("minhash")

  /** P5: signatures → bands(conv_id, band_key).
    * band_key folds the band index in, so one global shuffle key space
    * serves all bands. Map-side only. */
  def bands(signatures: DataFrame, cfg: DedupConfig): DataFrame =
    bandsOf(signatures, "conv_id", cfg)

  /** The banding body both key types share: (key, band_key) rows, one per
    * band, off a frame carrying `key` and `minhash`. */
  private def bandsOf(sigs: DataFrame, key: String, cfg: DedupConfig): DataFrame = {
    val r = cfg.rowsPerBand
    val keys = transform(
      sequence(lit(0), lit(cfg.bands - 1)),
      i => xxhash64(i, slice(col("minhash"), i * lit(r) + lit(1), lit(r))))
    sigs.select(col(key), explode(keys).as("band_key"))
  }


  /** P6: bands → cand_pairs(a, b) with a < b.
    * Chain + star per band bucket via window functions (see scale notes).
    * Bucket membership is sorted by (xxhash64(conv_id), conv_id) — a
    * deterministic total order with 8-byte primary sort keys (see
    * chainStar below for the measurement); output pairs are re-oriented
    * a < b lexicographically.
    *
    * Connectivity assumption (probabilistic, NOT structural): every bucket
    * member gets a direct edge to the bucket's first member under the
    * order, so two true dups sharing a bucket stay connected through it —
    * unless that member is a false-positive band collision that then fails
    * the Jaccard gate AND the chain intermediates between them fail it
    * too. A missed link therefore needs a false positive ordered below
    * both dups in EVERY one of the cfg.bands=32 independent bands that
    * catch the pair; with per-band FP rates ≪ 1 the joint miss
    * probability is negligible (measured: recall 1.0 at 200 and 2000
    * convs vs the exact oracle, under both orderings). The alternative —
    * all-pairs per bucket — is the O(m²) skew hazard this design exists
    * to avoid; simhashNearDupPairs shows the bounded all-pairs variant
    * where a pair-level contract is required.
    *
    * Salted band keys (P5/P9): with cfg.bandSalt = S > 1 each bucket is
    * split into S deterministic sub-buckets — the per-window sort for a hot
    * boilerplate bucket is bounded at bucket/S — and connectivity across
    * sub-buckets is restored by chaining the S sub-bucket minima in a
    * second, tiny window pass (≤ S rows per band key). */
  def candidatePairs(bands: DataFrame, cfg: DedupConfig): DataFrame =
    chainStarPairs(bands, "conv_id", Some(xxhash64(col("conv_id"))), cfg)

  /** The chain+star candidate body both key types share. Bucket members
    * are ordered by (keyHash, key), or by key alone when `keyHash` is None
    * — ids from `withIds` are ordered as (xxhash64(conv_id), conv_id) is,
    * so both keys see the same total order. The salt is pmod(keyHash, S)
    * (the id itself for the id key); each sub-bucket enters the across
    * pass through its min(key). Returns (a, b) keys, a < b. */
  private def chainStarPairs(bands: DataFrame, key: String, keyHash: Option[Column],
                             cfg: DedupConfig): DataFrame = {
    val k = col(key)
    // Members are ordered by a 64-bit hash first, not by conv_id:
    // chain+star connectivity holds under ANY deterministic total order,
    // and the window sort — this stage's dominant cost — compares one
    // 8-byte long (ties broken by the string) instead of UTF8 strings.
    // Measured on the 1M-conv band stream: 13.8 → 11.1 s at 32 cores,
    // 19.6 → 18.9 s at 8; stage 8→32 ratio 0.36 → 0.43.
    val order = if (keyHash.isDefined) Seq(col("h"), k) else Seq(k)

    def chainStar(df: DataFrame, parts: Seq[String]): DataFrame = {
      val pcols = parts.map(col)
      val w = Window.partitionBy(pcols: _*).orderBy(order: _*)
      val wAll = Window.partitionBy(pcols: _*)
        .orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ONE pass over the window output: both edge kinds are emitted from
      // the same row via a 2-element explode (a union of two filters over
      // the window subtree would shuffle + sort the band stream TWICE —
      // Spark has no automatic subtree reuse without an explicit persist).
      // chain edge: (prev, key) when prev exists; star edge:
      // (bucket_first, key) when it adds information beyond the chain
      // (null `when` arms drop out in the filter below).
      //
      // The repartition is EXPLICIT: left to AQE, the window's exchange
      // coalesces to ~cores (35 partitions at 32 cores, 14 at 8 on the
      // 1M band stream) and this stage's uniform sort-heavy tasks then
      // run in two waves with a mostly-idle second wave — measured 7.6 s
      // of the 14.7 s stage wall at 32 cores (id key: 34 tasks, median
      // 1.88 s, ~1.8 s of idle width). An explicit partition count is
      // honored by AQE, keeps tasks ~1/8 the size (cache-friendlier
      // sorts), and satisfies the window's required distribution so no
      // second exchange appears.
      val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
      val spread = df.repartition(nParts, pcols: _*)
      keyHash.fold(spread)(h => spread.withColumn("h", h))
        .withColumn("prev", lag(k, 1).over(w))
        .withColumn("bmin", first(k).over(wAll))
        .select(explode(array(
          struct(col("prev").as("a"), k.as("b")),
          struct(when(col("bmin") =!= k && col("bmin") =!= col("prev"),
            col("bmin")).as("a"), k.as("b")))).as("e"))
        .where(col("e.a").isNotNull)
        // orient a < b explicitly (hash order is not conv_id order); self
        // edges (band_key hash collisions within one conv) drop here
        .where(col("e.a") =!= col("e.b"))
        .select(least(col("e.a"), col("e.b")).as("a"),
          greatest(col("e.a"), col("e.b")).as("b"))
    }

    if (cfg.bandSalt > 1) {
      val salted = bands.withColumn("salt", pmod(keyHash.getOrElse(k), lit(cfg.bandSalt.toLong)))
      val within = chainStar(salted.select(col("band_key"), col("salt"), k),
        Seq("band_key", "salt"))
      // sub-bucket minima, then link them per band key (tiny: ≤ S rows/key)
      val minima = salted.groupBy(col("band_key"), col("salt"))
        .agg(min(k).as(key))
      val across = chainStar(minima.select(col("band_key"), k), Seq("band_key"))
      within.unionByName(across)
        .distinct()
    } else {
      chainStar(bands.select(col("band_key"), k), Seq("band_key"))
        .distinct()
    }
  }

  /** Complete near-dup PAIR listing: cluster assignments → exhaustive
    * intra-cluster verification. Chain+star keeps candidate generation
    * linear per bucket, so a true pair inside a 4+-member bucket may never
    * be DIRECTLY tested (coverage of direct pairs is probabilistic —
    * candidatePairs doc); cluster connectivity, however, is near-certain
    * (a J ≥ τ pair shares ~13 of 32 band buckets in expectation, each
    * bucket a chain of verified family edges). This operator turns that
    * into a STRUCTURAL pair-level contract: group the members of each
    * cluster of `assignments` (conv_id, cluster_id) by their ids in
    * `docsWithId` and re-verify all intra-cluster pairs with the exact
    * Jaccard + LCS gates (verifyPairsById). The output is inherently
    * quadratic in family size — that is the ask ("list every near-dup
    * pair"); dedup itself consumes clusters (run/CheckpointedDedup), not
    * this listing. */
  def completeNearDupPairs(assignments: DataFrame, docsWithId: DataFrame,
                           cfg: DedupConfig): DataFrame = {
    // persisted: verifyPairsById scans its candidates three times
    val intra = trackPersist(assignments
      .join(docsWithId.select(col("conv_id"), col("id")), Seq("conv_id"))
      .groupBy(col("cluster_id"))
      .agg(sort_array(collect_list(col("id"))).as("ms"))
      .where(size(col("ms")) >= 2)
      .select(explode(arrayCombos(col("ms"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")))
    verifyPairsById(intra, docsWithId, cfg)
  }

  /** SimHash near-dup pairs via pigeonhole banding: split the 64-bit
    * fingerprint into 4×16-bit bands; any pair within Hamming distance 3
    * agrees on at least one band (pigeonhole), and this operator emits ALL
    * pairs within each band bucket — so the returned PAIR SET is complete
    * for dist ≤ 3 among docs whose buckets fit cfg.maxBucketSize. Pairs at
    * distance 4..maxDist are found with high probability only. Buckets
    * larger than cfg.maxBucketSize (boilerplate pile-ups) are excluded from
    * pair emission — the standard LSH skew guard; count them with
    * `oversizedBuckets` rather than silently assuming zero.
    *
    * Unlike the MinHash path this does NOT use chain+star thinning: the
    * contract here is pair-level (dist ≤ 3 ⇒ pair emitted), and thinning
    * inside a 4+-member bucket would drop non-adjacent non-min pairs. The
    * all-pairs join stays cheap because 16-bit band keys spread docs across
    * 65k buckets; the cap bounds the worst case. */
  def simhashNearDupPairs(signatures: DataFrame, maxDist: Int, cfg: DedupConfig): DataFrame = {
    val bands = simhashBands(signatures)
    val sized = bands.withColumn("bucket_n",
      count(lit(1)).over(Window.partitionBy(col("band_key"))))
    val kept = sized.where(col("bucket_n") <= cfg.maxBucketSize)
    kept.as("l").join(kept.as("r"),
        col("l.band_key") === col("r.band_key") && col("l.conv_id") < col("r.conv_id"))
      .select(col("l.conv_id").as("a"), col("r.conv_id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("simhash_dist"))
      .where(col("simhash_dist") <= maxDist)
      .distinct()
  }

  /** All ordered pairs (a < b) of a SORTED members array, generated
    * map-side: flatten(x_i × tail_i). No join, no shuffle. */
  private def arrayCombos(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), size(ms)), y =>
        struct(x.as("a"), y.as("b")))))

  // Winnow parameters of q09, the one caller: shingle length, window.
  private val WinnowK = 8
  private val WinnowW = 16
  /** Fingerprint buckets above this many members are stop-fingerprints. A
    * FIXED absolute cap, not corpus-proportional: a cap that grows with n
    * re-creates the O((n/c)²) hot-bucket hazard. Template-family buckets
    * carrying true pairs (up to ~250 members at sf0.1) fall under it. */
  private val WinnowBucketCap = 256
  /** Minimum containment: shared kept fingerprints over the smaller doc's
    * kept-fingerprint count. Measured true pairs sit at ratio exactly 1.0
    * at sf0.01 AND sf0.1 (winnow fingerprints min-sample the duplicated
    * runs), template cousins at <= 0.9 — 0.6 sits below the true-pair band
    * with a wide margin and cuts pair_verify work ~5x against 0.4. */
  private val WinnowMinFpOverlap = 0.6

  /** Internal: the candidate-pair stream (a, b), one row per shared kept
    * fingerprint, BEFORE per-pair aggregation — exposed for the scale
    * tests. Two chained explodes instead of one explode over a nested
    * combo array: arrayCombos materializes C(m,2) two-field structs per
    * bucket row before the Generate can stream them (32k InternalRows for
    * a 256-member bucket); posexplode + slice keeps everything in
    * primitive long arrays and streams pairs through both Generates
    * pipelined. */
  private[graft] def winnowPairStream(buckets: DataFrame): DataFrame =
    buckets.select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))

  /** Winnowing-fingerprint candidate pairs (third candidate modality next
    * to MinHash and SimHash banding): docs sharing DISCRIMINATIVE
    * fingerprints become candidates.
    *  - bucket of 2 to WinnowBucketCap members: exact all-pairs, generated
    *    map-side from the bucket's sorted member array (one groupBy
    *    shuffle, no self-join);
    *  - larger bucket: a stop-fingerprint (boilerplate; the standard
    *    winnowing/MOSS frequency cap) — no near-dup signal, dropped by
    *    winnowBuckets, and counted in no doc's kept fingerprints.
    * The prefilter keeps pairs whose shared kept-fingerprint count is
    * ≥ WinnowMinFpOverlap of the smaller doc's kept-fingerprint count: an
    * exact containment measure. True near-dup pairs at tau-level
    * similarity have near-total containment, so they reach pair_verify
    * while hot-family buckets stop costing O(family²) verifications.
    *
    * Over docs carrying withIds' `id` and `doc`; returns (a, b) ids,
    * a < b. Keyed by id, as the minhash path is: the pair stream is
    * quadratic in template-family size — 6.4M instances from 5k docs at
    * sf0.1 — and keyed by conv_id every explode/shuffle/groupBy row
    * carried two strings; keyed by id those rows are fixed longs. */
  def winnowCandidatePairs(docsWithId: DataFrame): DataFrame = {
    val buckets = trackPersist(winnowBuckets(docsWithId))
    // kept-fingerprint count per doc (the prefilter denominator), over
    // post-cap buckets only: a templated doc's raw fingerprint count is
    // dominated by stop-fingerprints, which would deflate the ratio for
    // exactly the pairs the cap exists to preserve
    val nFp = trackPersist(buckets.select(explode(col("ms")).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("nf")))
    // exact early drop: any kept pair needs shared >= WinnowMinFpOverlap *
    // min(nf over the WHOLE corpus), so pairs below that global floor (the
    // vast cousin tail — most candidate pairs co-occur exactly once) never
    // reach the per-doc joins. The floor is one tiny driver-side row.
    val minNf = nFp.agg(coalesce(min(col("nf")), lit(1L))).head().getLong(0)
    val early = math.max(1L, math.ceil(WinnowMinFpOverlap * minNf).toLong)
    winnowPairStream(buckets)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= early)
      // no broadcast hint: nFp is per-doc (10^9 rows at corpus scale) —
      // AQE broadcasts it when the actual size is small
      .join(nFp.select(col("id").as("a"), col("nf").as("nfa")), Seq("a"))
      .join(nFp.select(col("id").as("b"), col("nf").as("nfb")), Seq("b"))
      .where(col("shared") >= least(col("nfa"), col("nfb")) * WinnowMinFpOverlap)
      .select(col("a"), col("b"))
  }

  /** Fingerprint buckets with 2 to WinnowBucketCap members as (band_key,
    * ms sorted member `id`s); larger buckets are stop-fingerprints.
    * Bucket sizes FIRST, member arrays only for kept buckets: a
    * stop-fingerprint bucket — a template fingerprint shared by up to the
    * whole corpus — would otherwise pay a full sort_array(collect_list)
    * only to be dropped (VERDICT r4 #4). One Exchange total: the count
    * comes from a window over the band_key-partitioned stream and the
    * groupBy reuses that partitioning (no second shuffle). */
  private[graft] def winnowBuckets(docs: DataFrame): DataFrame =
    docs.select(col("id"),
        explode(graft.functions.winnow_fingerprints(col("doc"), WinnowK, WinnowW)).as("band_key"))
      .withColumn("m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))))
      .where(col("m").between(2, WinnowBucketCap))
      .groupBy(col("band_key"))
      .agg(sort_array(collect_list(col("id"))).as("ms"))

  private def simhashBands(signatures: DataFrame): DataFrame = {
    val bandKeys = array((0 until 4).map { b =>
      // fold band index into the key: (band, 16-bit slice)
      xxhash64(lit(b), shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)))
    }: _*)
    signatures.select(col("conv_id"), col("simhash"),
      posexplode(bandKeys).as(Seq("band_idx", "band_key")))
  }

  /** Band buckets over cfg.maxBucketSize that simhashNearDupPairs excluded
    * — surface these as a metric (no silent caps). */
  def oversizedSimhashBuckets(signatures: DataFrame, cfg: DedupConfig): DataFrame =
    simhashBands(signatures)
      .groupBy(col("band_key")).agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > cfg.maxBucketSize)

  /** P8: connected components over verified pair edges.
    * Returns cluster_assignments(conv_id, cluster_id) for every node in
    * `allNodes`; singletons get their own id; cluster_id = min member id.
    *
    * Adaptive strategy: dup-pair edge sets are a small fraction of the
    * corpus (dup rate × n, NOT n²), so up to `driverMaxEdges` the exact
    * union-find runs on the driver — one collect, zero iterative shuffles.
    * Above the threshold (10^12-turn corpora with high dup rates) it
    * switches to alternating large-star/small-star contraction (Kiveris et
    * al., MR-CC) expressed with window mins only — no collect_list, no
    * GraphX/RDD — converging in O(log n) rounds with per-round
    * localCheckpoint lineage cuts. Both paths produce IDENTICAL
    * assignments (min-id representative), so the switch is invisible to
    * resume/recall.
    *
    * `localContraction`: None (default) probes the edge stream's locality
    * and runs the per-partition contraction pre-pass only when it would
    * pay (see localContract); Some(b) forces it on/off. */
  def connectedComponents(edges0: DataFrame, allNodes: DataFrame,
                          maxIter: Int = 50,
                          driverMaxEdges: Long = 2000000L,
                          localContraction: Option[Boolean] = None): DataFrame = {
    val spark = edges0.sparkSession

    // materialize the edge set ONCE: the size probe and whichever CC path
    // follows both consume it. Both runners pass committed pairs (a table
    // read or a local checkpoint), so this caches a scan of them; uncached,
    // perfbench `families` measured slower (resume_s 2.12 -> 2.50 s median,
    // 6 pairs, 4 cores)
    val edges1 = edges0.select(col("a").as("u"), col("b").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edges1.count()
    if (edgeCount <= driverMaxEdges) {
      ccLog.info(s"cc: $edgeCount edges, driver union-find")
      import spark.implicits._
      val uf = new UnionFind[String]()
      // coalesce before collect: narrow over the cached partitions, so
      // the collect job launches ~32 tasks instead of one per shuffle
      // partition (256 near-empty result fetches were measurable fixed
      // cost on a stage that is serial everywhere else)
      edges1.coalesce(32).collect().foreach { r =>
        uf.union(r.getString(0), r.getString(1))
      }
      edges1.unpersist(false)
      // no .sorted: the join is order-insensitive and sorting ~1M driver
      // tuples was the stage's single-threaded tail at scale. parallelize
      // (not toDF): the driver-side Catalyst row conversion of ~2·edges
      // tuples was the NEXT single-threaded tail (measured 1.55 s of the
      // 2.2 s stage at 395k edges) — parallelize ships raw string pairs
      // and runs the conversion executor-side, 32-way. Non-identity rows
      // only: the left-join's coalesce already maps absent nodes to
      // themselves, so root/singleton identity entries (~40% of the map
      // at 357k edges) were dead broadcast weight.
      val asg = spark.sparkContext
        .parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          uf.nonIdentityAssignments()), 32)
        .toDF("conv_id", "root")
      // broadcast the assignment map when it is certainly small (≤ 500k
      // edges ⇒ ≤ 1M entries, tens of MB) — skips shuffling allNodes;
      // near the 2M-edge cap the map can reach hundreds of MB, so there
      // AQE still picks from actual size
      val asgMaybeBc = if (edgeCount <= 500000L) broadcast(asg) else asg
      return allNodes.select(col("conv_id"))
        .join(asgMaybeBc, Seq("conv_id"), "left")
        .select(col("conv_id"), coalesce(col("root"), col("conv_id")).as("cluster_id"))
    }

    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val w = Window.partitionBy(col("u"))
      bidir
        .withColumn("m", least(col("u"), min(col("v")).over(w)))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val w = Window.partitionBy(col("u"))
      // single pass over the window output (see chainStar note)
      directed.withColumn("m", min(col("v")).over(w))
        .select(explode(array(
          when(col("v") =!= col("m"), struct(col("v").as("u"), col("m").as("v"))),
          struct(col("u"), col("m").as("v")))).as("e"))
        .where(col("e").isNotNull)
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct()
    }

    // Local-contraction pre-pass: each task replaces its partition's edge
    // set with the star (member → local-component min) via an in-task
    // union-find. Connectivity-equivalent on the union — every local
    // component stays connected through its star, and nodes shared across
    // partitions still join them — and min-id assignments are unchanged
    // because every original node still appears in some star edge.
    // WHEN IT PAYS (measured — CcAb/CcScale): the win is per-round
    // shuffle volume, and it requires the edge stream to arrive with
    // locality. Verified dup pairs do — they leave the verify sort-merge
    // clustered by key and components are near-cliques (2 global rounds
    // at 1M convs) — and the pre-pass cut the 32-core star wall 15-20%
    // on the 357k-edge bench set. On adversarial input (long chains
    // hash-scattered across partitions: CcScale's 3.36M-edge chain+cross
    // graph) local stitching finds nothing — same 10 rounds, +19% wall
    // for the extra pass — hence the default yield probe that skips this
    // pass when the stream has no locality. Per-task memory is O(nodes in
    // partition),
    // bounded by partition sizing; a safety cap passes overflow edges
    // through uncontracted (connectivity never drops).
    def localContract(e: DataFrame): DataFrame = {
      import spark.implicits._
      val cap = 4000000
      e.select(col("u"), col("v")).as[(String, String)]
        .mapPartitions { it =>
          val uf = new graft.core.UnionFind[String]()
          val overflow = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          var n = 0
          it.foreach { case p @ (a, b) =>
            if (n < cap) { uf.union(a, b); n += 1 } else overflow += p
          }
          uf.nonIdentityAssignments().iterator ++
            overflow.iterator
        }
        .toDF("u", "v")
    }

    // Star-round partition sizing, MEASURED and rejected (r6): deriving
    // the round exchanges' width from the edge count (357k edges → 32
    // partitions at 32 cores) read consistently SLOWER than the session's
    // 256 in an interleaved A/B (star_on 3.1-3.2 s vs 2.4-2.5 s; 64
    // partitions likewise) — the star wall at this size is the sequential
    // job barriers per run, not per-task launch overhead, and 256 small
    // tasks overlap stragglers/GC pauses better than 32 larger sorts. So
    // the round exchanges keep the session's shuffle-partition count.
    //
    // Round-latency audit (r6): at 357k edges the star wall is the chain
    // of sequential job barriers, not shuffle bytes — so the up-front
    // distinct+checkpoint pass is GONE (every production edge stream —
    // verified pairs, the CC A/B parquet — is already distinct;
    // largeStar's v>u filter drops self loops and its own distinct dedups
    // the round output, so duplicates in a non-distinct caller stream
    // cost only round-1 window width, never correctness), and each round
    // below runs ONE job instead of two (fingerprint folded into the
    // checkpoint-materializing job).
    ccLog.info(s"cc: $edgeCount edges, star loop")
    val doContract = localContraction.getOrElse {
      // Locality probe: in-task union-find over two partitions of the
      // materialized edge set. yield = starEdges/inEdges = 1 (to the
      // probe's precision) means local stitching finds NOTHING — every
      // in-partition component is a single edge (hash-scattered chains:
      // CcScale reads exactly 1.000) and the pre-pass would only add a
      // pass + checkpoint (+17-19% wall measured). Any real stitch
      // (pipeline dup pairs leave the verify sort-merge grouped by key;
      // CcAb's 357k-edge set reads 0.93) marks the clustered shape whose
      // pre-pass cuts the star wall 15-20% — the win comes from the
      // canonical (member, min) star form feeding round 1, not from the
      // raw edge-count reduction, so the cut sits near 1, not at the
      // break-even of edge counts. Probe cost: a scan of 2/P of the
      // already-persisted edge cache.
      val rdd = edges1.select(col("u"), col("v")).rdd
      val p = rdd.getNumPartitions
      if (p == 0) false
      else {
        val probeParts = (if (p == 1) Seq(0) else Seq(0, p / 2)).distinct
        val counts = spark.sparkContext.runJob(
          rdd,
          (it: Iterator[org.apache.spark.sql.Row]) => {
            val uf = new UnionFind[String]()
            var n = 0L
            it.foreach { r => uf.union(r.getString(0), r.getString(1)); n += 1 }
            (n, uf.assignments().count { case (m, root) => m != root }.toLong)
          },
          probeParts)
        val n = counts.map(_._1).sum
        val stars = counts.map(_._2).sum
        ccLog.info(f"cc: contraction probe edges=$n stars=$stars yield=${
          if (n == 0) 1.0 else stars.toDouble / n}%.3f")
        n > 0 && stars.toDouble / n <= 0.98
      }
    }
    var edges =
      if (doContract) {
        val c = trackCheckpoint(localContract(edges1))
        edges1.unpersist(false)
        c
      } else edges1.where(col("u") =!= col("v"))

    // One JOB per round: checkpoint the round's RDD and compute the
    // convergence fingerprint (roundFingerprint: count + xor of a mixed
    // per-row 64-bit hash) INSIDE the materializing runJob, then wrap the
    // checkpointed RDD back as a flat-plan DataFrame. The old form paid a
    // second agg job per round just to read back what the materialization
    // had already streamed past. The fingerprint is 64 bits, so a
    // collision can still end the loop one round early; nothing
    // certifies convergence yet.
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType, nullable = true)))
    var converged = false
    var iter = 0
    var prevFp: (Long, Long) = (-1L, -1L)
    while (!converged && iter < maxIter) {
      val nextDf = smallStar(largeStar(edges))
      // rows are reused by the scan/exchange — copy before caching
      val rdd = nextDf.queryExecution.toRdd.map(_.copy()).localCheckpoint()
      track(spark, () => rdd.unpersist(false))
      val partFps = spark.sparkContext.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => roundFingerprint(it))
      val fp = (partFps.map(_._1).sum, partFps.map(_._2).foldLeft(0L)(_ ^ _))
      converged = fp == prevFp
      prevFp = fp
      edges = org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
        spark, rdd, edgeSchema)
      if (iter == 0) edges1.unpersist(false)
      iter += 1
    }
    ccLog.info(s"cc: $iter global rounds")

    // After convergence every edge is (member, root) with root = component min.
    val roots = edges.groupBy(col("u")).agg(min(col("v")).as("root"))
    allNodes.select(col("conv_id"))
      .join(roots.select(col("u").as("conv_id"), col("root")), Seq("conv_id"), "left")
      .select(col("conv_id"),
        coalesce(col("root"), col("conv_id")).as("cluster_id"))
  }

  /** A CC round's convergence fingerprint over one partition of (u, v)
    * string edge rows: (row count, XOR of one 64-bit hash per row). Each
    * row packs hashCode(u) and hashCode(v) into one long and mixes it
    * with fmix64 BEFORE the fold, so the fold couples u with its own v: a
    * round that only re-pairs labels ({(a,x),(b,y)} → {(a,y),(b,x)})
    * changes the XOR. Folding the unmixed halves XORs each column on its
    * own, and such a swap cancels out. */
  private[pipeline] def roundFingerprint(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): (Long, Long) = {
    var c = 0L
    var x = 0L
    while (it.hasNext) {
      val r = it.next()
      val hu = if (r.isNullAt(0)) 0 else r.getUTF8String(0).hashCode
      val hv = if (r.isNullAt(1)) 0 else r.getUTF8String(1).hashCode
      c += 1
      x ^= MinHasher.mix64((hu.toLong << 32) | (hv.toLong & 0xffffffffL))
    }
    (c, x)
  }

  /** docs plus `id`, ordered as (xxhash64(conv_id), conv_id) is. The top
    * 20 bits of the hash, in signed order, pick one of 2^20 contiguous
    * hash ranges (id bits 43-62); the doc's position inside its range
    * under that order fills bits 16-42; bits 0-15 repeat the hash's low
    * bits.
    *  - Distinct while no range holds 2^27 docs (a range is 2^-20 of the
    *    hash space), a null conv_id included: no uniqueness audit, no
    *    fallback key.
    *  - Id order is the order candidatePairs sorts string bucket members
    *    by, so chain+star emits the same candidates on either key
    *    (KeyEquivalenceSpec).
    *  - A function of the doc set alone, not of its partitioning: a
    *    recomputation gives the same ids.
    *  - The low bits vary. Spark's fast aggregate hash map folds a long
    *    key to (v ^ v >>> 32); with constant low bits most keys share a
    *    few buckets, and the id-keyed distincts held four more 16 MB
    *    memory pages at a time (perfbench `mixed` on 4 cores:
    *    heap_peak_mb +28%).
    *  - The cost is one window shuffle and sort of the docs, and no sample
    *    job: a range-partitioned sort runs its child once more for the
    *    bounds.
    * Callers keep the result (the checkpointed docs table, runWithDocs'
    * persisted docs), so the shuffle runs once. */
  private[graft] def withIds(docs: DataFrame): DataFrame = {
    val h = xxhash64(col("conv_id"))
    val range = shiftrightunsigned(h.bitwiseXOR(lit(Long.MinValue)), 64 - IdRangeBits)
    val pos = row_number().over(Window.partitionBy(range).orderBy(h, col("conv_id"))) - 1
    docs.withColumn("id", shiftleft(range, 63 - IdRangeBits) +
      shiftleft(pos.cast("long"), IdLowBits) + h.bitwiseAND(lit((1L << IdLowBits) - 1)))
  }

  private val IdRangeBits = 20
  private val IdLowBits = 16

  /** P5, id form: bands(id, band_key). Same band keys as `bands`. */
  private[graft] def bandsById(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    bandsOf(sigs, "id", cfg)

  /** P6, id form: chain+star per band bucket ordered by id — the same
    * total order as the string key when ids come from `withIds`, minus the
    * string payload in the window sort. Returns (a, b) ids, a < b. */
  private[graft] def candidatePairsById(bands: DataFrame, cfg: DedupConfig): DataFrame =
    chainStarPairs(bands, "id", None, cfg)

  /** P7: candidate (a, b) id pairs verified against docs carrying
    * (id, conv_id, doc) with exact Jaccard (the oracle-parity gate) then
    * the LCS check on survivors (north_star: "exact Jaccard plus
    * suffix-array longest-common-substring checks" — applied in decision
    * form, see Lcs.hasCommonRun; Lcs.lcsLength keeps the exact automaton).
    * Returns verified_pairs(a, b, jaccard, simhash_dist, simhash_ok) with
    * a < b lexicographically by conv_id: the strings re-enter via the doc
    * join, not a separate mapping. Docs with a null conv_id take part in
    * no pair (they keep their own null cluster).
    *
    * Gate semantics:
    *  - Jaccard ≥ cfg.tauJaccard gates FIRST (identical criterion to the
    *    recall oracle — OracleDedup — so pipeline recall is measured
    *    against exactly this bar).
    *  - The LCS gate is length-adaptive: lcs_len ≥ min(cfg.tauLcs,
    *    min(|doc_a|, |doc_b|) / 2). A genuine near-dup at J ≥ 0.8 keeps a
    *    common run ≥ roughly L/(e+1) with e edits, and J ≥ 0.8 bounds e to
    *    ~(L-k)/(4k·...) — in practice runs ≫ tauLcs for long docs, while
    *    docs shorter than 2·tauLcs only need half their length (so a
    *    near-edge edit on a short doc never drops a legit dup). A
    *    block-shuffled adversarial pair (high set overlap, no long common
    *    run) on long docs fails the 64-char bar.
    *  - cfg.simhashMaxDist is RECORDED (simhash_ok column), not gated:
    *    at J near tau the Hamming distance legitimately exceeds small
    *    thresholds, so gating on it would cut recall below the oracle bar.
    *
    * Shuffle discipline at scale:
    *  1. the candidate pairs are joined as they come, so the join places
    *     pair_verify: under broadcast on the candidate-doc side (one task
    *     per doc partition), under sort-merge in the b-side join's shuffle
    *     partitions, sized by the doc text it moves, not by the pairs
    *     (KeyEquivalenceSpec checks the sort-merge form gives equal rows);
    *  2. docs are semi-joined down to ids that appear in a pair before
    *     joining (candidates are a small fraction of the corpus);
    *  3. the join carries RAW TEXT, not precomputed shingle arrays (the
    *     shingle set is ~8x the text size); pair_verify recomputes both
    *     shingle sets pair-locally in one fused expression (Jaccard +
    *     SimHash distance), and the O(n) rolling-hash LCS decision runs
    *     only on Jaccard-gate survivors.
    *
    * Scans `candPairs` three times, unspread and uncached: callers pass
    * candidates cheap to rescan, a table read or a persisted frame. */
  private[graft] def verifyPairsById(candPairs: DataFrame, docsWithId: DataFrame,
                                        cfg: DedupConfig): DataFrame = {
    val candIds = candPairs.select(col("a").as("id"))
      .unionByName(candPairs.select(col("b").as("id")))
      .distinct()
    // d, the candidate-doc subset, feeds BOTH side joins. Unpersisted,
    // each join re-scans the full docs cache through its own semi-join;
    // persisted, docs are scanned once (VerifyProbe, warm legs at 32
    // cores: 8.9–13.6 s against 12.6–24.1 s; about even at 8 cores).
    // Null conv_ids stay out: least/greatest skip nulls, so a pair with
    // one would come out as the self pair (x, x).
    val d = trackPersist(docsWithId.where(col("conv_id").isNotNull)
      .select(col("id"), col("conv_id"), col("doc"))
      .join(candIds, Seq("id"), "left_semi"))
    verifyGate(candPairs
      .join(d.select(col("id").as("a"), col("conv_id").as("ca"), col("doc").as("doc_a")), Seq("a"))
      .join(d.select(col("id").as("b"), col("conv_id").as("cb"), col("doc").as("doc_b")), Seq("b")),
      cfg)
  }

  /** The verify gate — the recall contract — over joined candidate rows
    * carrying the pair's conv_ids `ca`, `cb` and texts `doc_a`, `doc_b`:
    * pair_verify, Jaccard ≥ cfg.tauJaccard, then the length-adaptive LCS
    * check. Returns verified_pairs(a, b, jaccard, simhash_dist,
    * simhash_ok), the conv_ids oriented with least/greatest (id order is
    * not conv_id order). */
  private[pipeline] def verifyGate(joined: DataFrame, cfg: DedupConfig): DataFrame =
    joined
      .withColumn("pv",
        graft.functions.pair_verify(col("doc_a"), col("doc_b"), cfg.shingleK, cfg.seed))
      .withColumn("jaccard", col("pv.jaccard"))
      .where(col("jaccard") >= lit(cfg.tauJaccard)) // the oracle-parity gate
      // north-star LCS check, length-adaptive: common run ≥ min(tauLcs,
      // minLen/2) must exist. Decision form (Lcs.hasCommonRun) — the exact
      // automaton cost ~7ms/pair and its allocation churn made verify the
      // worst-scaling stage at 32 cores (GC contention).
      .where(graft.functions.lcs_at_least(col("doc_a"), col("doc_b"),
        least(lit(cfg.tauLcs),
          (least(length(col("doc_a")), length(col("doc_b"))) / 2).cast("int"))))
      .select(least(col("ca"), col("cb")).as("a"), greatest(col("ca"), col("cb")).as("b"),
        col("jaccard"),
        col("pv.simhash_dist").as("simhash_dist"),
        (col("pv.simhash_dist") <= lit(cfg.simhashMaxDist)).as("simhash_ok"))

  /** Full pipeline: transcripts → cluster_assignments(conv_id, cluster_id). */
  def run(transcripts: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    runWithDocs(buildDocs(transcripts), cfg)

  /** Full pipeline over pre-reconstructed docs (conv_id, doc, n_turns,
    * doc_len) — the entry for layouts with their own reconstruction path
    * (BucketedCorpus.readDocs streams docs off the bucket sort). `stages`
    * under the `inMemory` commit. */
  def runWithDocs(docs: DataFrame,
                  cfg: DedupConfig = DedupConfig()): DataFrame =
    stages(() => docs, cfg, inMemory(cfg)).assignments

  /** runWithDocs' commit: stages in memory, where what a later stage
    * reads more than once is a local checkpoint (`trackCheckpoint`), not
    * a persisted plan. A persisted plan keeps all
    * spark.sql.shuffle.partitions partitions (256 tiny tasks per later
    * stage in Bench's session) and runs without AQE's final-stage
    * coalescing and skew split; the checkpoint runs the stage under AQE.
    * Like CC's rounds, the committed stages do not survive executor
    * loss; CheckpointedDedup is the resumable run. */
  private[graft] def inMemory(cfg: DedupConfig): Commit = (name, _) => body => name match {
    // docs feed banding, verify and CC's node list, and hold the ids
    case "docs" => trackCheckpoint(body())
    // a lazy window plan that verify scans three times
    case "cand_pairs" => trackCheckpoint(body())
    // CC persists its edges and probes them: committed, that cache holds
    // a scan of the pairs, not the verify joins
    case "verified_pairs" => trackCheckpoint(body())
    // salted banding reads bands twice (within + across minima). At
    // bandSalt 1 they have one consumer: committing them would cost a
    // write plus a re-read, while uncommitted text_minhash fuses into the
    // band explode + exchange in one codegen pass over the docs.
    case "bands" if cfg.bandSalt > 1 => trackCheckpoint(body())
    case _ => body()
  }

  /** How a runner materializes one stage: given the stage's table name and
    * its lineage key columns, it turns the stage's body into the frame
    * later stages read. */
  private[graft] type Commit = (String, Seq[String]) => (() => DataFrame) => DataFrame

  /** The committed frames of `stages` that callers read: the docs with
    * their ids, the verified pairs and the cluster assignments. */
  private[graft] final case class Committed(docs: DataFrame, verified: DataFrame,
                                            assignments: DataFrame)

  /** The dedup stages, in order, each handed to `commit`: docs (with
    * `withIds`) → bands → cand_pairs → verified_pairs →
    * cluster_assignments. bands and cand_pairs are keyed by id; conv_id
    * strings re-enter through verify's doc join. `inMemory` and
    * CheckpointedDedup.run are the two commits. */
  private[graft] def stages(docs: () => DataFrame, cfg: DedupConfig,
                            commit: Commit): Committed = {
    val docsWithId = commit("docs", Seq("conv_id"))(() => withIds(docs()))
    val bands = commit("bands", Seq("id", "band_key"))(() =>
      bandsById(docsWithId.select(col("id"), minhash(cfg)), cfg))
    val cand = commit("cand_pairs", Seq("a", "b"))(() => candidatePairsById(bands, cfg))
    val verified = commit("verified_pairs", Seq("a", "b"))(() =>
      verifyPairsById(cand, docsWithId, cfg))
    Committed(docsWithId, verified,
      commit("cluster_assignments", Seq("conv_id", "cluster_id"))(() =>
        connectedComponents(verified, docsWithId.select(col("conv_id")))))
  }
}
