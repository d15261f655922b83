package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Lcs

/** Exact Jaccard over two SORTED DISTINCT long arrays — merge intersection
  * directly on `ArrayData` (no array materialization, no allocation; this is
  * the verification hot loop, SURVEY §4.3: array_intersect+size allocates). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSortedExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSortedExpr.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedExpr =
    copy(left = l, right = r)
}

object JaccardSortedExpr {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    var x = a.getLong(0); var y = b.getLong(0)
    while (i < na && j < nb) {
      if (x == y) {
        inter += 1; i += 1; j += 1
        if (i < na) x = a.getLong(i)
        if (j < nb) y = b.getLong(j)
      } else if (x < y) {
        i += 1; if (i < na) x = a.getLong(i)
      } else {
        j += 1; if (j < nb) y = b.getLong(j)
      }
    }
    inter.toDouble / (na + nb - inter)
  }
}

/** pair_verify(doc_a, doc_b, k, seed) → struct(jaccard double,
  * simhash_dist int): shingles BOTH texts once, exact Jaccard via merge
  * intersect, SimHash fingerprints from the same shingle sets.
  *
  * Rationale (scale): a doc's k-byte shingle set is ~8× the size of the
  * doc itself; shuffling precomputed shingle arrays to the pair made the
  * verification shuffle the heaviest in the job. Recomputing shingles
  * pair-locally costs ~µs of CPU per pair and lets the join carry only the
  * raw text. */
case class PairVerify(left: Expression, right: Expression, shingleK: Int, seed: Long)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("jaccard", DoubleType, nullable = false),
    StructField("simhash_dist", IntegerType, nullable = false)))

  override def prettyName: String = "pair_verify"

  override def nullSafeEval(a: Any, b: Any): Any =
    PairVerify.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], shingleK, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PairVerify.compute($a, $b, $shingleK, ${seed}L)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PairVerify =
    copy(left = l, right = r)
}

object PairVerify {
  /** Per-thread scratch buffers: the kernel runs ~100k times per task
    * wave and the former per-pair shingle-array allocations (~16 KB/pair)
    * made GC the verify stage's scaling bottleneck at 32 cores. Buffers
    * grow to the longest TYPICAL doc seen by the thread and are reused;
    * docs beyond RetainCap entries (≈ 4 MB of Long per side) use a
    * transient allocation instead so one multi-MB outlier cannot pin
    * tens of MB per executor thread for the application lifetime. */
  private[functions] final val RetainCap = 1 << 19 // 512k shingles ≈ 4 MB per buffer

  /** One side's reusable state: the shingle buffer plus a LAST-SEEN memo.
    * The verify stream arrives from a sort-merge join, so consecutive rows
    * repeat one side's doc (a doc in p pairs is shingled once, not p
    * times); the memo is gated by an exact byte compare (memcmp ≪ the
    * rolling-hash shingling + sort it skips), keyed with (k, seed) so a
    * config change in the same session can never serve stale shingles. */
  private[graft] final class Side(probe: Boolean) {
    private var buf: Array[Long] = new Array[Long](2048) // retained, ≤ RetainCap
    var res: Array[Long] = buf // the array holding the CURRENT row's shingles
    private val pset: graft.core.LongHashSet =
      if (probe) new graft.core.LongHashSet(2048) else null
    var set: graft.core.LongHashSet = pset // the CURRENT row's shingle set (probe kernel)
    var key: Array[Byte] = new Array[Byte](0) // copied bytes of the memoized doc
    var keyLen: Int = -1
    var n: Int = 0 // shingle count of the memoized doc
    var fp: Long = 0L // its SimHash fingerprint
    private var k: Int = -1
    private var seed: Long = 0L

    /** Memo valid for `d`? On a hit `res`/`n`/`fp` already describe it
      * (only recompute writes buf, and it updates the memo key with it). */
    def hit(d: UTF8String, kk: Int, sd: Long): Boolean =
      keyLen == d.numBytes && k == kk && seed == sd &&
        org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
          key, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          d.getBaseObject, d.getBaseOffset, d.numBytes)

    /** Recompute shingles + fingerprint for `d` and memoize — unless the
      * doc exceeds RetainCap: then the buffer is transient (never retained,
      * ADVICE r3) and the memo is invalidated instead. */
    def recompute(d: UTF8String, kk: Int, sd: Long): Unit = {
      val need = math.max(1, d.numBytes)
      val transient0 = need > RetainCap
      if (transient0) {
        keyLen = -1
      } else {
        // grow to the next power of two, floored at 2: for need == 1 the
        // unfloored form is highestOneBit(0) << 1 == 0, which would hand
        // copyMemory a zero-length target and corrupt the heap (ADVICE r4)
        if (key.length < need) key = new Array[Byte](Integer.highestOneBit(math.max(need, 2) - 1) << 1)
        org.apache.spark.unsafe.Platform.copyMemory(
          d.getBaseObject, d.getBaseOffset,
          key, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, d.numBytes)
        keyLen = d.numBytes; k = kk; seed = sd
      }
      if (probe) {
        // transient: start modest and let add() grow by doubling to the
        // ACTUAL distinct-shingle count — sizing by numBytes up front would
        // allocate a 2-4x-numBytes table plus a numBytes elems array
        // (~25-40 bytes per doc byte) for an outlier doc whose distinct
        // count is typically far smaller; pset stays bounded either way
        if (transient0) set = new graft.core.LongHashSet(1 << 16)
        else { set = pset; set.reset(need) }
        graft.core.Shingles.shinglesIntoSet(
          d.getBaseObject, d.getBaseOffset, d.numBytes, kk, sd, set)
        n = set.size
        fp = graft.core.SimHash64.fingerprint(set.elems, n)
      } else {
        if (transient0) res = new Array[Long](need) // transient; buf stays bounded
        else {
          if (buf.length < need) buf = new Array[Long](Integer.highestOneBit(math.max(need, 2) - 1) << 1)
          res = buf
        }
        n = graft.core.Shingles.shinglesInto(d.getBaseObject, d.getBaseOffset, d.numBytes, kk, sd, res)
        fp = graft.core.SimHash64.fingerprint(res, n)
      }
    }
  }

  /** Both sides' state plus the last pair's result. Catalyst pushes the
    * verify gate's `jaccard >= τ` into the join condition, so a passing
    * pair's pair_verify runs twice in a row: in the join condition and in
    * the projection after it. `last` serves the second call. */
  private[graft] final class Scratch(probe: Boolean) {
    val a = new Side(probe)
    val b = new Side(probe)
    var last: InternalRow = null // (jaccard, simhash_dist) of the memoized docs
  }
  private val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch(true))

  /** Kernel body on an explicit scratch. Two kernels: "probe"
    * (open-addressing hash set + probe intersect) is the production one;
    * "merge" (sorted-shingle arrays + merge intersect) stays as
    * VerifyKernelSpec's oracle. Identical results (same inter/union
    * integers → same doubles; SimHash votes are order-insensitive). The
    * probe kernel won the same-sitting 8/32-thread A/B (BENCH/BASELINE.md
    * r5) by 21-37% in BOTH regimes — fresh-B (no sort on recompute) and
    * memo-hit (the merge's 50/50 x<y branch mispredicts per element; the
    * probe's near-dup hit branch is predictable and the table is
    * L2-resident at typical doc sizes). When both sides hit their memo the
    * docs are byte-equal to the previous call's, and its row is returned
    * as is. */
  private[graft] def computeWith(s: Scratch, a: UTF8String, b: UTF8String,
                                 k: Int, seed: Long, probe: Boolean): InternalRow = {
    val hitA = s.a.hit(a, k, seed)
    val hitB = s.b.hit(b, k, seed)
    if (hitA && hitB && s.last != null) return s.last
    s.last = null
    if (!hitA) s.a.recompute(a, k, seed)
    if (!hitB) s.b.recompute(b, k, seed)
    val j =
      if (probe) graft.core.LongHashSet.jaccardProbe(s.a.set, s.b.set)
      else graft.core.Shingles.jaccardSorted(s.a.res, s.a.n, s.b.res, s.b.n)
    s.last = InternalRow(j, graft.core.SimHash64.hammingDist(s.a.fp, s.b.fp))
    s.last
  }

  def compute(a: UTF8String, b: UTF8String, k: Int, seed: Long): InternalRow =
    computeWith(scratch.get(), a, b, k, seed, probe = true)
}

/** Longest-common-substring length via suffix automaton (linear time). */
case class LcsLengthExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntegerType

  override def prettyName: String = "lcs_length"

  override def nullSafeEval(a: Any, b: Any): Any =
    Lcs.lcsLength(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Lcs.lcsLength($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LcsLengthExpr =
    copy(left = l, right = r)
}

/** Gate form of the LCS check: common substring of length ≥ minRun
  * exists? (dual rolling-hash window matching — Lcs.hasCommonRun; ~1000x
  * cheaper per pair than the exact automaton in the verify hot loop). */
case class LcsAtLeastExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType, IntegerType)

  override def dataType: DataType = BooleanType

  override def prettyName: String = "lcs_at_least"

  override def nullSafeEval(a: Any, b: Any, l: Any): Any =
    Lcs.hasCommonRun(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, l.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, l) =>
      s"graft.core.Lcs.hasCommonRun($a.toString(), $b.toString(), $l)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LcsAtLeastExpr =
    copy(first = f, second = s, third = t)
}
