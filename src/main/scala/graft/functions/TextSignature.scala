package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{MinHasher, Shingles, SimHash64}

/** Catalyst expression computing the dedup signature triple
  * (shingles, minhash, simhash) in ONE pass over the UTF-8 bytes of the
  * input — zero-copy off `UTF8String`'s (base, offset, len), mirroring the
  * reference's zero-copy string hashing (hll/hll_sketch.go:292-295).
  *
  * `doGenCode` emits a plain static call, so the projection stays inside
  * WholeStageCodegen (a Scala UDF would break the span and pay
  * catalyst<->scala conversion on the array outputs).
  */
case class TextSignatureExpr(child: Expression, shingleK: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = TextSignatureExpr.schema

  override def prettyName: String = "text_signature"

  override def nullSafeEval(input: Any): Any =
    TextSignatureExpr.compute(input.asInstanceOf[UTF8String], shingleK, numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSignatureExpr.compute($c, $shingleK, $numHashes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): TextSignatureExpr =
    copy(child = newChild)
}

/** SimHash-only variant of TextSignatureExpr: same shingle pass and the
  * SAME SimHash64.fingerprint over it, WITHOUT the MinHash signature — for
  * consumers that read only the simhash field (q18's banded-vs-brute
  * comparison discarded a full minhash per doc). Values are bit-identical
  * to text_signature(...).simhash (FunctionsSpec pins it). */
case class SimHash64Expr(child: Expression, shingleK: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    TextSignatureExpr.computeSimhash(input.asInstanceOf[UTF8String], shingleK, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSignatureExpr.computeSimhash($c, $shingleK, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** MinHash-only variant of TextSignatureExpr, for the banding paths, which
  * read nothing else. The k-byte window hashes go into a per-thread buffer
  * and the MinHasher's min loop runs over them as they are: no sort, no
  * dedup, no SimHash and no shingle-array copy. A minimum over a multiset
  * is the minimum over its set, so the output is bit-identical to
  * text_signature(...).minhash (TextMinHashSpec). Single-threaded on
  * 1.9 KB docs this kernel runs at 80–115 ns per byte, the struct kernel
  * at 135–190. */
case class TextMinHashExpr(child: Expression, shingleK: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "text_minhash"

  override def nullSafeEval(input: Any): Any =
    TextMinHashExpr.compute(input.asInstanceOf[UTF8String], shingleK, numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextMinHashExpr.compute($c, $shingleK, $numHashes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): TextMinHashExpr =
    copy(child = newChild)
}

object TextMinHashExpr {
  /** Window-hash buffer, reused by the thread up to PairVerify.RetainCap
    * entries; a longer doc gets a transient one, so an outlier cannot pin
    * its size for the life of the executor thread. */
  private val buffers: ThreadLocal[Array[Long]] =
    ThreadLocal.withInitial(() => new Array[Long](2048))

  /** Called from generated code — must stay public + static-shaped. */
  def compute(s: UTF8String, k: Int, n: Int, seed: Long): ArrayData = {
    val need = Shingles.windowCount(s.numBytes, k)
    val buf =
      if (need > PairVerify.RetainCap) new Array[Long](need)
      else {
        var b = buffers.get()
        if (b.length < need) {
          b = new Array[Long](Integer.highestOneBit(need - 1) << 1)
          buffers.set(b)
        }
        b
      }
    val m = Shingles.windowsInto(s.getBaseObject, s.getBaseOffset, s.numBytes, k, seed, buf)
    UnsafeArrayData.fromPrimitiveArray(TextSignatureExpr.hasher(n, seed).signature(buf, m))
  }
}

object TextSignatureExpr {
  val schema: StructType = StructType(Seq(
    StructField("shingles", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("minhash", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("simhash", LongType, nullable = false)))

  // per-JVM MinHasher cache: coefficient tables are deterministic in
  // (numHashes, seed), so tasks share one instance
  private val hashers = new java.util.concurrent.ConcurrentHashMap[(Int, Long), MinHasher]()

  def hasher(n: Int, seed: Long): MinHasher =
    hashers.computeIfAbsent((n, seed), { case (nn, ss) => new MinHasher(nn, ss) })

  /** Called from generated code — must stay public + static-shaped. */
  def computeSimhash(s: UTF8String, k: Int, seed: Long): Long =
    SimHash64.fingerprint(
      Shingles.shingles(s.getBaseObject, s.getBaseOffset, s.numBytes, k, seed))

  /** Called from generated code — must stay public + static-shaped. */
  def compute(s: UTF8String, k: Int, n: Int, seed: Long): InternalRow = {
    val sh = Shingles.shingles(s.getBaseObject, s.getBaseOffset, s.numBytes, k, seed)
    val mh = hasher(n, seed).signature(sh)
    val sim = SimHash64.fingerprint(sh)
    // UnsafeArrayData keeps the primitives unboxed (GenericArrayData on an
    // Array[Long] boxes every element — ~1k Long objects per doc of GC
    // churn in the pipeline's dominant stage)
    InternalRow(
      UnsafeArrayData.fromPrimitiveArray(sh),
      UnsafeArrayData.fromPrimitiveArray(mh),
      sim)
  }
}
