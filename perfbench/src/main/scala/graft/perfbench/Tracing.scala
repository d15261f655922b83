package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.TableIO

/** One closed trace interval; `parent` is -1 for a leg's root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Self time: the span's duration minus the part of it that its direct
    * children cover. Children may overlap each other or stick out of the
    * parent; only their union inside the parent counts. */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val iv = all.iterator
      .filter(_.parent == span.id)
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var runS = 0L
    var runE = 0L
    var open = false
    for ((s, e) <- iv) {
      if (open && s <= runE) runE = math.max(runE, e)
      else {
        if (open) covered += runE - runS
        runS = s; runE = e; open = true
      }
    }
    if (open) covered += runE - runS
    span.durNs - covered
  }

  /** Self time summed per span name. */
  def selfNsByName(all: Seq[Span]): Map[String, Long] =
    all.groupMapReduce(_.name)(s => selfNs(s, all))(_ + _)
}

/** Records spans for one traced leg. A span is named when it closes, so an
  * interval whose meaning is only known at its end (TracingTableIO's gaps)
  * can still tag the Spark jobs it submits: the open span's id rides on
  * the `perfbench.span` local property, which Spark copies into every stage
  * the thread submits. */
final class Tracer(sc: SparkContext) {
  private final class Open(val id: Int, val parent: Int, val startNs: Long)
  private var stack: List[Open] = Nil
  private val closed = ArrayBuffer.empty[Span]
  /** Largest cached-block footprint seen at any span close, in bytes. */
  var cachePeakBytes: Long = 0L

  def begin(): Unit = {
    val o = new Open(Tracer.ids.getAndIncrement(),
      stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    stack = o :: stack
    sc.setLocalProperty(Tracer.SpanKey, o.id.toString)
  }

  def end(name: String): Unit = {
    val now = System.nanoTime()
    val o = stack.head
    stack = stack.tail
    closed += Span(o.id, name, o.parent, o.startNs, now)
    sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
    cachePeakBytes = math.max(cachePeakBytes, Tracer.cachedBytes(sc))
  }

  def span[A](name: String)(f: => A): A = {
    begin()
    try f finally end(name)
  }

  def spans: Seq[Span] = closed.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val ids = new AtomicInteger(0)

  /** Bytes of every cached RDD/DataFrame block, memory and disk. */
  private def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
}

/** Task metrics summed over the tasks of one span. */
final class SpanTasks {
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Task durations (ms) per Spark stage, for the skew figure. */
  val durations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
}

/** Attributes every finished task to the span that submitted its stage. */
final class SpanTaskListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val bySpan = new ConcurrentHashMap[Integer, SpanTasks]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    id.foreach(s => stageSpan.put(e.stageInfo.stageId, s.toInt))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val t = bySpan.computeIfAbsent(span, _ => new SpanTasks)
      t.synchronized {
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.durations.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }
  }

  def tasksOf(spanId: Int): Option[SpanTasks] = Option(bySpan.get(spanId))
}

/** TableIO that traces CheckpointedDedup.run from the outside.
  *
  * `run` calls its TableIO in a fixed order: for each stage it computes the
  * stage body, writes the table (the write is the action that executes the
  * stage's lazy plan), reads it back, aggregates the per-partition lineage
  * and appends the metrics rows; a resumed stage is only checked and read.
  * So every call and every interval between two calls belongs to exactly
  * one layer: a `write` of stage X and the interval that ends at it are
  * X's layer; every other call, and any interval ending at one, is the
  * checkpoint policy's own cost (`write_lineage`). The intervals are open
  * spans that are named when the next call arrives. */
final class TracingTableIO(inner: TableIO, @transient tracer: Tracer) extends TableIO {
  @transient private var gapOpen = false

  def start(): Unit = { tracer.begin(); gapOpen = true }
  def finish(): Unit = if (gapOpen) { tracer.end(Layers.WriteLineage); gapOpen = false }

  private def boundary[A](layer: String)(f: => A): A = {
    if (gapOpen) tracer.end(layer)
    tracer.begin()
    try f finally { tracer.end(layer); tracer.begin(); gapOpen = true }
  }

  override def write(df: DataFrame, name: String): Unit =
    boundary(Layers.ofTable(name.split('/').last))(inner.write(df, name))
  override def append(df: DataFrame, name: String): Unit =
    boundary(Layers.WriteLineage)(inner.append(df, name))
  override def read(spark: SparkSession, name: String): DataFrame =
    boundary(Layers.WriteLineage)(inner.read(spark, name))
  override def exists(spark: SparkSession, name: String): Boolean =
    boundary(Layers.WriteLineage)(inner.exists(spark, name))
}

/** The six layers of graft.pipeline, in the order a run reaches them. */
object Layers {
  val WriteLineage = "write_lineage"
  val All: Seq[String] = Seq("docs", "sigs_bands", "candidates", "verify", "cc", WriteLineage)

  /** CheckpointedDedup stage table → layer. */
  def ofTable(stage: String): String = stage match {
    case "docs" => "docs"
    case "signatures" | "bands" => "sigs_bands"
    case "cand_pairs" => "candidates"
    case "verified_pairs" => "verify"
    case "cluster_assignments" => "cc"
    case _ => WriteLineage
  }
}
