package graft.sketch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's three sketch families as Catalyst aggregates.
  *
  * The `TypedImperativeAggregate` lifecycle is exactly the reference's
  * update (task-local) / serialize (shuffle write) / merge (reduce side) /
  * eval (final) contract (SURVEY §3.4): partial aggregation happens
  * map-side, only the fixed-size sketch images cross the shuffle — the
  * whole point of sketches at 100 TB.
  *
  * Aggregates return the serialized sketch (BinaryType); scalar extractor
  * expressions (HllEstimate, KllQuantile, FreqTopItems, ...) query it.
  * This composes: sketches can be stored to a metrics table and re-merged
  * across runs (P10/P12 resume).
  */

// ---------- shared input hashing --------------------------------------------

private[graft] object SketchInput {
  /** Update an HLL sketch from any supported input type with the
    * reference's canonical byte imaging (string→UTF8 bytes, integral→int64
    * LE bytes, double canonicalized; hll/hll_sketch.go:274-295). */
  def updateHll(sk: HllSketch, dt: DataType, v: Any): Unit = dt match {
    case StringType =>
      val s = v.asInstanceOf[UTF8String]
      sk.updateRaw(s.getBaseObject, s.getBaseOffset, s.numBytes)
    case BinaryType => sk.update(v.asInstanceOf[Array[Byte]])
    case LongType => sk.update(v.asInstanceOf[Long])
    case IntegerType => sk.update(v.asInstanceOf[Int].toLong)
    case ShortType => sk.update(v.asInstanceOf[Short].toLong)
    case ByteType => sk.update(v.asInstanceOf[Byte].toLong)
    case DoubleType => sk.update(v.asInstanceOf[Double])
    case FloatType => sk.update(v.asInstanceOf[Float].toDouble)
    case DateType => sk.update(v.asInstanceOf[Int].toLong)
    case TimestampType => sk.update(v.asInstanceOf[Long])
    case other => throw new IllegalArgumentException(s"hll: unsupported type $other")
  }
}

// ---------- HLL --------------------------------------------------------------

/** hll_sketch_agg(col, lgK) → binary sketch image (H1–H11, H15, H18). */
case class HllSketchAgg(
    child: Expression,
    lgK: Int = HllSketch.DefaultLgK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_sketch_agg"

  override def createAggregationBuffer(): HllSketch = new HllSketch(lgK)

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) SketchInput.updateHll(buf, child.dataType, v)
    buf
  }

  override def merge(buf: HllSketch, other: HllSketch): HllSketch = buf.merge(other)
  override def eval(buf: HllSketch): Any = buf.serialize()
  override def serialize(buf: HllSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = c.head)
}

/** hll_union_agg(sketchCol, lgK) → binary (H15 as a re-aggregation). */
case class HllUnionAgg(
    child: Expression,
    lgK: Int = HllSketch.DefaultLgK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllSketch] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_union_agg"

  override def createAggregationBuffer(): HllSketch = new HllSketch(lgK)

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) buf.merge(HllSketch.deserialize(v.asInstanceOf[Array[Byte]])) else buf
  }

  override def merge(buf: HllSketch, other: HllSketch): HllSketch = buf.merge(other)
  override def eval(buf: HllSketch): Any = buf.serialize()
  override def serialize(buf: HllSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllUnionAgg =
    copy(child = c.head)
}

/** hll_estimate(sketch) → double (H11/H12). */
case class HllEstimate(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_estimate"
  override def nullSafeEval(v: Any): Any =
    HllSketch.deserialize(v.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

/** hll_bounds(sketch, numStdDev) → struct(lb, estimate, ub) (H14). */
case class HllBounds(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("lb", DoubleType, nullable = false),
    StructField("estimate", DoubleType, nullable = false),
    StructField("ub", DoubleType, nullable = false)))
  override def prettyName: String = "hll_bounds"
  override def nullSafeEval(b: Any, nsd: Any): Any = {
    val sk = HllSketch.deserialize(b.asInstanceOf[Array[Byte]])
    val sd = nsd.asInstanceOf[Int]
    InternalRow(sk.lowerBound(sd), sk.estimate, sk.upperBound(sd))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllBounds =
    copy(left = l, right = r)
}

// ---------- KLL --------------------------------------------------------------

/** kll_sketch_agg(numericCol, k) → binary sketch image (K1–K5, K13). */
case class KllSketchAgg(
    child: Expression,
    k: Int = KllSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kll_sketch_agg"

  override def createAggregationBuffer(): KllSketch = new KllSketch(k)

  override def update(buf: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) {
      val d = child.dataType match {
        case DoubleType => v.asInstanceOf[Double]
        case FloatType => v.asInstanceOf[Float].toDouble
        case LongType => v.asInstanceOf[Long].toDouble
        case IntegerType => v.asInstanceOf[Int].toDouble
        case ShortType => v.asInstanceOf[Short].toDouble
        case other => throw new IllegalArgumentException(s"kll: unsupported type $other")
      }
      buf.update(d)
    }
    buf
  }

  override def merge(buf: KllSketch, other: KllSketch): KllSketch = buf.merge(other)
  override def eval(buf: KllSketch): Any = buf.serialize()
  override def serialize(buf: KllSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = c.head)
}

/** kll_string_agg(stringCol, k) → binary items-sketch image — the K2
  * generic-item instantiation the reference tests with strings
  * (kll/items_sketch_test.go:31-135). */
case class KllStringAgg(
    child: Expression,
    k: Int = KllSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllItemsSketch[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kll_string_agg"

  override def createAggregationBuffer(): KllItemsSketch[String] =
    new KllItemsSketch[String](k)

  override def update(buf: KllItemsSketch[String], input: InternalRow): KllItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(buf: KllItemsSketch[String], other: KllItemsSketch[String]): KllItemsSketch[String] =
    buf.merge(other)
  override def eval(buf: KllItemsSketch[String]): Any = buf.serialize()
  override def serialize(buf: KllItemsSketch[String]): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllItemsSketch[String] =
    KllItemsSketch.deserialize[String](bytes)

  override def withNewMutableAggBufferOffset(o: Int): KllStringAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllStringAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllStringAgg =
    copy(child = c.head)
}

/** kll_string_quantiles(sketch, array<double> ranks) → array<string>. */
case class KllStringQuantiles(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kll_string_quantiles"
  override def nullSafeEval(b: Any, ranks: Any): Any = {
    val sk = KllItemsSketch.deserialize[String](b.asInstanceOf[Array[Byte]])
    new GenericArrayData(ranks.asInstanceOf[ArrayData].toDoubleArray()
      .map(r => org.apache.spark.unsafe.types.UTF8String.fromString(sk.quantile(r))))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllStringQuantiles =
    copy(left = l, right = r)
}

/** kll_quantiles(sketch, array<double> ranks) → array<double> (K6/K7). */
case class KllQuantiles(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_quantiles"
  override def nullSafeEval(b: Any, ranks: Any): Any = {
    val sk = KllSketch.deserialize(b.asInstanceOf[Array[Byte]])
    new GenericArrayData(ranks.asInstanceOf[ArrayData].toDoubleArray().map(sk.quantile))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllQuantiles =
    copy(left = l, right = r)
}

/** kll_rank(sketch, value) → double. */
case class KllRank(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kll_rank"
  override def nullSafeEval(b: Any, v: Any): Any =
    KllSketch.deserialize(b.asInstanceOf[Array[Byte]]).rank(v.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllRank =
    copy(left = l, right = r)
}

/** kll_cdf(sketch, array<double> splits) → array<double>. */
case class KllCdf(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_cdf"
  override def nullSafeEval(b: Any, s: Any): Any = {
    val sk = KllSketch.deserialize(b.asInstanceOf[Array[Byte]])
    new GenericArrayData(sk.cdf(s.asInstanceOf[ArrayData].toDoubleArray()))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllCdf =
    copy(left = l, right = r)
}

/** kll_partition_boundaries(sketch, numParts) → array<double> (K9: the
  * deterministic range-partition planner input). */
case class KllPartitionBoundaries(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_partition_boundaries"
  override def nullSafeEval(b: Any, n: Any): Any = {
    val sk = KllSketch.deserialize(b.asInstanceOf[Array[Byte]])
    new GenericArrayData(sk.partitionBoundaries(n.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllPartitionBoundaries =
    copy(left = l, right = r)
}

// ---------- Frequencies ------------------------------------------------------

/** freq_sketch_agg(col, lgMaxMapSize) → binary (F1–F3, F10). Items are
  * canonicalized to strings (heavy-hitter detection over any column). */
case class FreqSketchAgg(
    child: Expression,
    lgMaxMapSize: Int = FreqSketch.DefaultLgMaxMapSize,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqSketch[String]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "freq_sketch_agg"

  override def createAggregationBuffer(): FreqSketch[String] =
    new FreqSketch[String](lgMaxMapSize)

  override def update(buf: FreqSketch[String], input: InternalRow): FreqSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(buf: FreqSketch[String], other: FreqSketch[String]): FreqSketch[String] =
    buf.merge(other)
  override def eval(buf: FreqSketch[String]): Any = buf.serialize(FreqSketch.StringSerde)
  override def serialize(buf: FreqSketch[String]): Array[Byte] =
    buf.serialize(FreqSketch.StringSerde)
  override def deserialize(bytes: Array[Byte]): FreqSketch[String] =
    FreqSketch.deserialize(bytes, FreqSketch.StringSerde)

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = c.head)
}

/** freq_top_items(sketch, noFalsePositives) →
  * array<struct<item string, estimate long, lb long, ub long>> (F4/F5). */
case class FreqTopItems(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BooleanType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lb", LongType, nullable = false),
    StructField("ub", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "freq_top_items"
  override def nullSafeEval(b: Any, nfp: Any): Any = {
    val sk = FreqSketch.deserialize(b.asInstanceOf[Array[Byte]], FreqSketch.StringSerde)
    val rows = sk.frequentItems(nfp.asInstanceOf[Boolean]).map { case (item, est, lb, ub) =>
      InternalRow(UTF8String.fromString(item), est, lb, ub)
    }
    new GenericArrayData(rows.toArray[Any])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FreqTopItems =
    copy(left = l, right = r)
}
