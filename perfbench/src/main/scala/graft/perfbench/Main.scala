package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DedupConfig
import graft.pipeline.{BucketedCorpus, DedupPipeline, ParquetTableIO}

/** Benchmark of the shipped dedup runs on `local[4]`.
  *
  *   graft.perfbench.Main --workload mixed|families --seed N
  *                        --seconds S --trace 0|1 [--work DIR]
  *
  * Prints progress lines, then as its last stdout line one JSON object
  * {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
  * with --trace 0, the per-layer metrics of separately traced legs with
  * --trace 1. See perfbench/README.md. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      kv.getOrElse("work", ".bench_work"))
    if (!Workload.byName.contains(o.workload)) throw new IllegalArgumentException(
      s"unknown workload ${o.workload}; one of ${Workload.byName.keys.toSeq.sorted.mkString(", ")}")
    if (o.seconds < 1) throw new IllegalArgumentException("--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try {
      val bench = new Bench(opts, Workload.byName(opts.workload))
      try println(bench.run()) finally bench.stop()
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }
}

/** A workload is the corpus it generates and how many resume legs an
  * iteration times on it. */
final case class Workload(name: String, generate: (SparkSession, Long, String) => CorpusProps,
                          resumeLegs: Int)

object Workload {
  /** Standard-mix size: 48k turns (about 2.8k conversations), so a fresh
    * checkpointed leg takes 3–10 s on four cores. Generated as 8 blocks of
    * 448 conversations, two waves on four cores, which leaves about 20%
    * to spare before the cut. */
  val MixedTurns = 48000L
  val MixedConvs = 3584L
  val MixedBlock = 448
  /** Families of 8 members with 3% token edits, most conversations in one,
    * cut to about 4.7k conversations: below that the fixed cost of the
    * checkpoint writes catches up with verify, which should be the largest
    * stage of a fresh run. */
  val FamilyTurns = 80000L
  val FamilySpec: Families.Spec =
    Families.Spec(groups = 800, members = 8, singletonShare = 0.1, editRate = 0.03)

  /** `mixed`'s resume leg is the shortest and the most shaken by a busy
    * host, so it is timed three times per iteration; `families`' longer
    * one twice. */
  val byName: Map[String, Workload] = Seq(
    Workload("mixed", (s, seed, dir) =>
      Corpora.mixed(s, MixedConvs, MixedBlock, MixedTurns, seed, dir), resumeLegs = 3),
    Workload("families", (s, seed, dir) =>
      Corpora.families(s, FamilySpec, FamilyTurns, seed, dir), resumeLegs = 2),
  ).map(w => w.name -> w).toMap
}

/** One timed leg: `fresh` and `resume` run CheckpointedDedup, `inmem` runs
  * DedupPipeline.runWithDocs. `storedBytes` is what a checkpointed leg
  * committed (stage tables plus metrics). */
final case class Leg(kind: String, wallS: Double, cpuS: Double, heapPeakBytes: Long,
                     storedBytes: Long, outcome: Outcome)

/** Largest heap in use right after a collection since the last reset: the
  * live heap a leg needed, which unlike raw heap use does not depend on
  * how far the collector lets garbage pile up. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val onGc: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, math.max)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  /** Collect, and start from the live heap that remains. */
  def reset(): Unit = {
    System.gc()
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def get: Long = peak.get
}

final class Bench(o: Main.Opts, wl: Workload) {
  private val SetupReps = 3
  /** conv_ids at or below this form the recall slice and the kernel sample. */
  private val SliceMax = f"conv-${300}%09d"
  private val slice: Column = col("conv_id") <= SliceMax
  private val KernelPairs = 256
  /** Seconds of `--seconds` per timed iteration. */
  private val IterationS = 10.0

  private val work = new File(o.work).getAbsoluteFile
  private val ckptRoot = new File(work, "ckpt").getPath
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heap = new HeapAfterGc

  private var spark: SparkSession = _
  private var corpus: String = _
  private var props: CorpusProps = _
  private var runNo = 0

  private def log(s: String): Unit =
    println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f $s")

  /** graft.Main's session settings, on the first call a new Spark context
    * too; later calls start a new session on the running context. */
  private def session(): SparkSession = {
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
    if (spark == null) {
      val s = conf.foldLeft(SparkSession.builder().master("local[4]").appName("graft-perfbench")) {
          case (b, (k, v)) => b.config(k, v)
        }
        .config("spark.ui.enabled", "false")
        // keep every file the run writes inside its work directory
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    } else {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    spark = null
  }

  /** A session, the corpus (generated on the first repetition, loaded on
    * the later ones), and a warm-up: doc reconstruction and signatures over
    * the recall slice, which compiles the shared kernels. The first
    * repetition also starts the Spark context on a cold JVM, so the median
    * repetition is a warm one. */
  private def setUp(rep: Int): Double = {
    val t0 = System.nanoTime()
    if (spark != null) Legs.releaseCache(spark)
    spark = session()
    val t1 = System.nanoTime()
    if (corpus == null) {
      corpus = new File(work, "corpus").getPath
      props = wl.generate(spark, o.seed, corpus)
    } else require(BucketedCorpus.read(spark, corpus).count() == props.turns, "corpus reload")
    val t2 = System.nanoTime()
    DedupPipeline.signatures(BucketedCorpus.readDocs(spark, corpus, Some(slice)), DedupConfig()).count()
    val t3 = System.nanoTime()
    log(f"setup $rep: session ${(t1 - t0) / 1e9}%.3f s, corpus ${(t2 - t1) / 1e9}%.3f s, " +
      f"warm-up ${(t3 - t2) / 1e9}%.3f s")
    (t3 - t0) / 1e9
  }

  /** A leg's wall, process CPU and post-collection heap peak. Only legs
    * that report the heap start from a collection. */
  private def timed(kind: String, collect: Boolean = true)(f: => Outcome): Leg = {
    if (collect) heap.reset()
    val c0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val out = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
    Leg(kind, wall, cpu, heap.get, 0L, out)
  }

  /** One iteration: the in-memory run, a fresh checkpointed run, and the
    * workload's resubmissions of it, each after a simulated crash just
    * after cand_pairs committed. */
  private def iteration(): Seq[Leg] = {
    runNo += 1
    val inmem = timed("inmem")(Checks.outcome(Legs.inmem(spark, corpus), SliceMax))
    Legs.releaseCache(spark)
    val io = new ParquetTableIO(ckptRoot)
    val runId = s"run-$runNo"
    val runDir = new File(ckptRoot, runId)
    val fresh = timed("fresh")(Checks.outcome(Legs.checkpointed(spark, corpus, io, runId), SliceMax))
    val stored = Files.dataBytes(runDir)
    val resumes = Seq.fill(wl.resumeLegs) {
      Legs.crashAfterCandidates(spark, ckptRoot, runId)
      timed("resume", collect = false)(
        Checks.outcome(Legs.checkpointed(spark, corpus, io, runId), SliceMax))
    }
    Files.delete(runDir)
    Seq(inmem, fresh.copy(storedBytes = stored)) ++ resumes
  }

  /** One iteration per `IterationS` of `--seconds` (at least one). The
    * count does not depend on how fast the box runs, so every run of a
    * workload times the same legs. */
  private def measure(): Seq[Leg] =
    Seq.fill(math.max(1, math.round(o.seconds / IterationS).toInt))(iteration()).flatten

  private def sliceDocs(): Seq[(String, String)] =
    BucketedCorpus.readDocs(spark, corpus, Some(slice))
      .select("conv_id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      .sortBy(_._1)

  /** Runs that fail a check. Every run's assignments must have the digest
    * of the first run (so runs agree with each other, a resumed run with
    * the fresh one, and the in-memory path with the checkpointed one), and
    * the slice's recall must reach the floor. */
  private def failures(runs: Seq[(String, Outcome)], truth: Set[(String, String)]): Int = {
    val reference = runs.head._2.digest
    runs.count { case (kind, out) =>
      val recall = Checks.recall(truth, out)
      val ok = out.digest == reference && recall >= Checks.RecallFloor
      if (!ok) log(s"check failed: $kind run digest ${out.digest} (first run $reference), recall $recall")
      !ok
    }
  }

  def run(): String = {
    Files.delete(work)
    work.mkdirs()
    if (o.trace) runTraced() else runUntraced()
  }

  private def runUntraced(): String = {
    val setups = (1 to SetupReps).map(setUp)
    log(s"corpus ${wl.name} seed ${o.seed}: $props")
    val legs = measure()
    val truth = Checks.truthPairs(sliceDocs())
    val failed = failures(legs.map(l => (l.kind, l.outcome)), truth)

    def of(kind: String) = legs.filter(_.kind == kind)
    val fresh = of("fresh")
    val turns = props.turns.toDouble
    val wall = Stats.median(fresh.map(_.wallS))
    for (k <- Seq("fresh", "resume", "inmem"))
      log(s"$k legs (wall s / post-collection heap MB): " +
        of(k).map(l => f"${l.wallS}%.3f/${l.heapPeakBytes / 1e6}%.0f").mkString(" "))
    log(s"setup walls: ${setups.map(s => f"$s%.3f").mkString(" ")}")
    val metrics = Seq(
      ("turns_per_s", turns / wall, "turns/s"),
      ("wall_s", wall, "s"),
      ("resume_s", Stats.median(of("resume").map(_.wallS)), "s"),
      ("inmem_wall_s", Stats.median(of("inmem").map(_.wallS)), "s"),
      ("cpu_s_per_mturn", Stats.median(fresh.map(_.cpuS / turns * 1e6)), "s/Mturn"),
      ("ckpt_mb", Stats.median(fresh.map(_.storedBytes / 1e6)), "MB"),
      ("heap_peak_mb", legs.map(_.heapPeakBytes).max / 1e6, "MB"),
      ("dup_pair_recall", legs.map(l => Checks.recall(truth, l.outcome)).min, "ratio"),
      ("setup_s", Stats.median(setups), "s"))
    Report.json(failed == 0, legs.size, failed, metrics)
  }

  private def runTraced(): String = {
    setUp(1)
    log(s"corpus ${wl.name} seed ${o.seed}: $props")
    val sc = spark.sparkContext
    val listener = new SpanTaskListener
    sc.addSparkListener(listener)

    def traced(kind: String)(f: Tracer => (Outcome, Map[String, Long])): TracedLeg = {
      val tracer = new Tracer(sc)
      val (out, rows) = tracer.span("run")(f(tracer))
      TracedLeg(kind, tracer, out, rows)
    }
    // untraced legs before and after the traced ones: the first ones also
    // compile their plans, so the later ones, as warm as the traced legs,
    // are the references for the trace overheads
    def untracedFresh(): Leg = {
      val l = timed("fresh")(Checks.outcome(
        Legs.checkpointed(spark, corpus, new ParquetTableIO(ckptRoot), "untraced"), SliceMax))
      Files.delete(new File(ckptRoot, "untraced"))
      l
    }
    def untracedInmem(): Leg = {
      val l = timed("inmem")(Checks.outcome(Legs.inmem(spark, corpus), SliceMax))
      Legs.releaseCache(spark)
      l
    }
    val before = Seq(untracedFresh(), untracedInmem())
    val runId = "traced"
    def checkpointedLeg(tracer: Tracer) = {
      val io = new TracingTableIO(new ParquetTableIO(ckptRoot), tracer)
      io.start()
      val asg = try Legs.checkpointed(spark, corpus, io, runId) finally io.finish()
      (Checks.outcome(asg, SliceMax), stageRows(runId))
    }
    val fresh = traced("fresh")(checkpointedLeg)
    Legs.crashAfterCandidates(spark, ckptRoot, runId)
    val resume = traced("resume")(checkpointedLeg)
    Files.delete(new File(ckptRoot, runId))
    val inmem = traced("inmem") { tracer =>
      val (asg, rows) = Legs.inmemTraced(spark, corpus, tracer)
      (Checks.outcome(asg, SliceMax), rows)
    }
    Legs.releaseCache(spark)
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val after = Seq(untracedFresh(), untracedInmem())

    val docs = sliceDocs()
    val truth = Checks.truthPairs(docs)
    val kernels = Kernels.measure(docs.map(_._2), candidateSample(docs))
    val tracedLegs = Seq(fresh, resume, inmem)
    val runs = (before ++ after).map(l => ("untraced " + l.kind, l.outcome)) ++
      tracedLegs.map(t => ("traced " + t.kind, t.outcome))
    val failed = failures(runs, truth)

    val layers = LayerStats.of(fresh.tracer.spans, listener)
    val resumeLayers = LayerStats.of(resume.tracer.spans, listener)
    val inmemLayers = LayerStats.of(inmem.tracer.spans, listener)
    val untracedWall = after.head.wallS
    val untracedInmemWall = after(1).wallS
    log(f"traced fresh leg ${fresh.totalS}%.3f s, untraced $untracedWall%.3f s; " +
      f"traced inmem leg ${inmem.totalS}%.3f s, untraced $untracedInmemWall%.3f s")
    for (t <- tracedLegs) log(s"${t.kind} spans: " + t.tracer.spans.map(s =>
      f"${s.name}:${s.durNs / 1e9}%.3f").mkString(" "))

    val rows = (l: String) => fresh.rows.getOrElse(l, 0L).toDouble
    val perLayer = Layers.All.flatMap { l =>
      val s = layers(l)
      Seq(
        (s"$l.wall_s", s.wallS, "s"),
        (s"$l.core_s", s.coreS, "s"),
        (s"$l.gc_s", s.gcS, "s"),
        (s"$l.shuffle_mb", s.shuffleBytes / 1e6, "MB"),
        (s"$l.spill_mb", s.spillBytes / 1e6, "MB"),
        (s"$l.task_skew", s.taskSkew, "ratio"),
        (s"$l.rows_out", rows(l), "count"))
    } ++ Layers.All.map(l => (s"resume.$l.wall_s", resumeLayers(l).wallS, "s")) ++
      Layers.All.map(l => (s"inmem.$l.wall_s", inmemLayers(l).wallS, "s"))
    val metrics = perLayer ++ Seq(
      ("verify.pass_ratio", rows("verify") / math.max(1.0, rows("candidates")), "ratio"),
      ("candidates.pairs_per_doc", rows("candidates") / math.max(1.0, rows("docs")), "ratio"),
      ("cache_peak_mb", tracedLegs.map(_.tracer.cachePeakBytes).max / 1e6, "MB"),
      ("kernel.text_signature_ns_per_byte", kernels.textSignatureNsPerByte, "ns/B"),
      ("kernel.pair_verify_ns_per_pair", kernels.pairVerifyNsPerPair, "ns/pair"),
      ("kernel.lcs_ns_per_byte", kernels.lcsNsPerByte, "ns/B"),
      ("trace.overhead_s", fresh.totalS - untracedWall, "s"),
      ("trace.inmem_overhead_s", inmem.totalS - untracedInmemWall, "s"))
    Report.json(failed == 0, runs.size, failed, metrics)
  }

  /** Output rows per layer of a checkpointed run, from its metrics table:
    * the last table a layer commits stands for it (bands for sigs_bands),
    * and write_lineage's output is the metrics rows themselves. */
  private def stageRows(runId: String): Map[String, Long] = {
    val m = new ParquetTableIO(ckptRoot).read(spark, s"$runId/metrics")
    val byStage = m.groupBy("stage").agg(sum("rows_out")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tables = Map("docs" -> "docs", "sigs_bands" -> "bands", "candidates" -> "cand_pairs",
      "verify" -> "verified_pairs", "cc" -> "cluster_assignments")
    tables.flatMap { case (l, t) => byStage.get(t).map(l -> _) } +
      (Layers.WriteLineage -> m.count())
  }

  /** Candidate pairs the production banding makes among the slice docs. */
  private def candidateSample(docs: Seq[(String, String)]): Seq[(String, String)] = {
    val cfg = DedupConfig()
    val text = docs.toMap
    val sliceDocs = BucketedCorpus.readDocs(spark, corpus, Some(slice))
    DedupPipeline.candidatePairs(DedupPipeline.bands(DedupPipeline.signatures(sliceDocs, cfg), cfg), cfg)
      .orderBy("a", "b").limit(KernelPairs).collect()
      .map(r => (text(r.getString(0)), text(r.getString(1)))).toSeq
  }
}

final case class TracedLeg(kind: String, tracer: Tracer, outcome: Outcome, rows: Map[String, Long]) {
  /** Duration of the leg's root span. */
  def totalS: Double = tracer.spans.find(_.parent == -1).get.durNs / 1e9
}

/** One layer's figures in one traced leg. */
final case class LayerStats(wallS: Double, coreS: Double, gcS: Double, shuffleBytes: Long,
                            spillBytes: Long, taskSkew: Double)

object LayerStats {
  val Zero: LayerStats = LayerStats(0, 0, 0, 0, 0, 0)

  /** Wall is the layer's summed span self time; task figures are summed
    * over the tasks its spans submitted. Skew is max ÷ median task time of
    * the Spark stage with the most task time in the layer. */
  def of(spans: Seq[Span], listener: SpanTaskListener): Map[String, LayerStats] = {
    val self = Spans.selfNsByName(spans)
    Layers.All.map { l =>
      val tasks = spans.filter(_.name == l).flatMap(s => listener.tasksOf(s.id))
      val byStage = tasks.flatMap(_.durations.toSeq).groupMapReduce(_._1)(_._2.toSeq)(_ ++ _)
      val skew = if (byStage.isEmpty) 0.0 else {
        val d = byStage.values.maxBy(_.sum)
        d.max.toDouble / math.max(1.0, Stats.median(d.map(_.toDouble)))
      }
      l -> LayerStats(self.getOrElse(l, 0L) / 1e9, tasks.map(_.runMs).sum / 1e3,
        tasks.map(_.gcMs).sum / 1e3, tasks.map(_.shuffleWriteBytes).sum,
        tasks.map(_.spillBytes).sum, skew)
    }.toMap.withDefaultValue(Zero)
  }
}

object Report {
  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    java.lang.Double.toString(d)
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
