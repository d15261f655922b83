package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DedupConfig, MinHasher, Shingles}
import graft.pipeline.{DedupPipeline, SparkTestSession}
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  test("sessionDocs + signatureStream: docs close when watermark passes, signatures match batch") {
    val dir = Files.createTempDirectory("stream-in").toString
    val ckpt = Files.createTempDirectory("stream-ck").toString

    // batch 1: two conversations, turns out of order
    Seq(
      ("c1", 1, "assistant reply first conversation", ts(1)),
      ("c1", 0, "user question first conversation", ts(0)),
      ("c2", 0, "user question second conversation", ts(2)),
      ("c2", 1, "assistant reply second conversation", ts(3))
    ).toDF("conv_id", "turn_idx", "text", "ts")
      .coalesce(1).write.mode("append").parquet(dir)

    val in = spark.readStream
      .schema("conv_id STRING, turn_idx INT, text STRING, ts TIMESTAMP")
      .parquet(dir)
    val cfg = DedupConfig()
    val q = DedupPipeline.signatures(
        StreamingDedup.sessionDocs(in, watermark = "5 minutes", gap = "10 minutes"), cfg)
      .writeStream.format("memory").queryName("sigs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // no emission yet: watermark hasn't passed the sessions
    assert(spark.table("sigs").isEmpty)

    // batch 2: a far-future sentinel advances the watermark past both sessions
    Seq(("sentinel", 0, "x", ts(1000))).toDF("conv_id", "turn_idx", "text", "ts")
      .coalesce(1).write.mode("append").parquet(dir)
    val q2 = DedupPipeline.signatures(
        StreamingDedup.sessionDocs(in, watermark = "5 minutes", gap = "10 minutes"), cfg)
      .writeStream.format("memory").queryName("sigs2")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    val rows = spark.table("sigs2").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](3)).toMap
    assert(rows.keySet === Set("c1", "c2"))
    // streaming signature == batch signature for the same doc
    val mh = new MinHasher(cfg.numHashes, cfg.seed)
    val doc1 = "user question first conversation\nassistant reply first conversation"
    val expect = mh.signature(Shingles.shinglesOf(doc1, cfg.shingleK, cfg.seed))
    assert(rows("c1").toArray.sameElements(expect))
  }

  test("windowedSketches: per-window HLL/KLL metrics over an event stream") {
    val dir = Files.createTempDirectory("stream-ev").toString
    (0 until 500).map { i =>
      (i.toLong, ts(i % 30), (i % 57).toLong, if (i % 2 == 0) "click" else "view", i.toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    // sentinel far in the future closes all windows
    Seq((9999L, ts(10000), 0L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)

    val in = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(dir)
    val q = StreamingDedup.windowedSketches(in, watermark = "10 minutes", window_ = "1 hour")
      .writeStream.format("memory").queryName("winsk")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("winsk").collect()
    assert(rows.nonEmpty)
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) === 250)
    assert(math.abs(click.getDouble(3) - 57.0) <= 3.0) // ~57 distinct users
  }

  test("statefulDocs: idle conversations flush via processing-time timeout") {
    val dir = Files.createTempDirectory("stream-st").toString
    Seq(
      ("c9", 0, "hello there", ts(0)),
      ("c9", 1, "general kenobi", ts(1))
    ).toDF("conv_id", "turn_idx", "text", "ts")
      .coalesce(1).write.mode("append").parquet(dir)

    val in = spark.readStream
      .schema("conv_id STRING, turn_idx INT, text STRING, ts TIMESTAMP")
      .parquet(dir).as[StreamingDedup.TurnIn]
    val q = StreamingDedup.statefulDocs(in, idleMs = 1000)
      .writeStream.format("memory").queryName("stdocs")
      .outputMode("append").trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    try {
      // first micro-batch buffers; after idleMs a later batch fires the timeout
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("stdocs").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
      }
      val out = spark.table("stdocs").collect()
      assert(out.length === 1)
      assert(out.head.getString(1) === "hello there\ngeneral kenobi")
    } finally q.stop()
  }
}
