package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.sketch.{HllSketch, SketchInput}

/** Lineage counters of one partition. */
final class PartitionCounters(var rows: Long, var checksum: Long, val hll: HllSketch)

/** Per-partition lineage of a stage output as ONE aggregate, so that a
  * `Dataset.observe` over the stage's write computes it inside the write
  * tasks: per partition, rows_out = count(1), checksum = bit_xor(keyHash)
  * and an HLL over `key` updated exactly as `hll_agg` updates it.
  *
  * `spark_partition_id()` cannot be evaluated inside an observed
  * aggregate, so the partition id is the one of the task that updates the
  * buffer; observed on the written DataFrame, that is the written
  * partition. Result: array<struct<partition_id, rows_out, checksum,
  * hll_sketch>> sorted by partition id, one element per non-empty
  * partition.
  *
  * Spark merges the buffer of a result task into the observed value only
  * when the attempt succeeds, and once per partition. The merge keeps the
  * first buffer it meets for a partition on top of that, so a partition's
  * counters can never be summed twice. */
case class PartitionLineageAgg(
    keyHash: Expression,
    key: Expression,
    lgK: Int = HllSketch.DefaultLgK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[PartitionCounters]] {

  override def children: Seq[Expression] = Seq(keyHash, key)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(PartitionLineageAgg.PartitionType, containsNull = false)
  override def prettyName: String = "partition_lineage_agg"

  override def createAggregationBuffer(): mutable.LongMap[PartitionCounters] =
    mutable.LongMap.empty

  override def update(buf: mutable.LongMap[PartitionCounters],
                      input: InternalRow): mutable.LongMap[PartitionCounters] = {
    val c = buf.getOrElseUpdate(TaskContext.getPartitionId().toLong,
      new PartitionCounters(0L, 0L, new HllSketch(lgK)))
    c.rows += 1
    c.checksum ^= keyHash.eval(input).asInstanceOf[Long]
    val v = key.eval(input)
    if (v != null) SketchInput.updateHll(c.hll, key.dataType, v)
    buf
  }

  override def merge(buf: mutable.LongMap[PartitionCounters],
                     other: mutable.LongMap[PartitionCounters]): mutable.LongMap[PartitionCounters] = {
    other.foreachEntry((pid, c) => if (!buf.contains(pid)) buf.update(pid, c))
    buf
  }

  override def eval(buf: mutable.LongMap[PartitionCounters]): Any =
    new GenericArrayData(buf.keys.toArray.sorted.map { pid =>
      val c = buf(pid)
      InternalRow(pid.toInt, c.rows, c.checksum, c.hll.serialize())
    })

  override def serialize(buf: mutable.LongMap[PartitionCounters]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreachEntry { (pid, c) =>
      val hll = c.hll.serialize()
      out.writeLong(pid)
      out.writeLong(c.rows)
      out.writeLong(c.checksum)
      out.writeInt(hll.length)
      out.write(hll)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[PartitionCounters] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = mutable.LongMap.empty[PartitionCounters]
    for (_ <- 0 until in.readInt()) {
      val pid = in.readLong()
      val rows = in.readLong()
      val checksum = in.readLong()
      val hll = new Array[Byte](in.readInt())
      in.readFully(hll)
      buf.update(pid, new PartitionCounters(rows, checksum, HllSketch.deserialize(hll)))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PartitionLineageAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PartitionLineageAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PartitionLineageAgg =
    copy(keyHash = c(0), key = c(1))
}

object PartitionLineageAgg {
  val PartitionType: StructType = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows_out", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("hll_sketch", BinaryType, nullable = false)))
}
