package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.DedupPipeline

/** Structured Streaming front end for the dedup engine: conversations
  * arrive turn-by-turn (out of order within a watermark), are assembled
  * into documents when their event-time session closes, and go on
  * through the batch stages (DedupPipeline.signatures onward) — the
  * streaming analogue of the reference's one-pass update model (each
  * micro-batch task consumes its partition as the "stream",
  * SURVEY §1.2).
  */
object StreamingDedup {

  /** Session-window document assembly (append mode): a conversation's doc
    * is emitted once the watermark passes `gap` beyond its last turn.
    * Turns are joined in DedupPipeline.stableDoc order, as in the batch
    * buildDocs. */
  def sessionDocs(turns: DataFrame, watermark: String = "10 minutes",
                  gap: String = "30 minutes"): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("conv_id"))
      .agg(DedupPipeline.stableDoc.as("doc"), count(lit(1)).cast("int").as("n_turns"))
      .select(col("conv_id"), col("doc"), col("n_turns"),
        length(col("doc")).cast("long").as("doc_len"))

  /** Tumbling-window sketch metrics over an event stream: per (window,
    * event_type) approximate distinct users (HLL) and value quantile
    * sketch (KLL) — mergeable images, so downstream re-aggregation across
    * windows works without reprocessing. */
  def windowedSketches(events: DataFrame, watermark: String = "1 hour",
                       window_ : String = "1 hour"): DataFrame = {
    import graft.functions._
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        hll_agg(col("user_id"), 12).as("users_hll"),
        kll_sketch_agg(col("value"), 200).as("value_kll"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        hll_estimate(col("users_hll")).as("approx_users"),
        kll_quantiles(col("value_kll"), array(lit(0.5), lit(0.99))).as("value_q50_q99"))
  }

  final case class TurnIn(conv_id: String, turn_idx: Int, text: String,
                          ts: java.sql.Timestamp)
  final case class ConvState(turns: List[(Int, Long, String)], lastTs: Long)
  final case class DocOut(conv_id: String, doc: String, n_turns: Int)

  /** Stateful alternative (flatMapGroupsWithState): buffer turns per
    * conversation, emit the assembled doc when the group sees no activity
    * for `idleMs` of processing time. Demonstrates the custom-state path
    * for sources where event-time sessionization doesn't fit. */
  def statefulDocs(turns: Dataset[TurnIn], idleMs: Long): Dataset[DocOut] = {
    import turns.sparkSession.implicits._
    turns
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, DocOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (convId, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val doc = st.turns.sortBy(t => (t._1, t._2)).map(_._3).mkString("\n")
            Iterator.single(DocOut(convId, doc, st.turns.size))
          } else {
            val buffered = state.getOption.map(_.turns).getOrElse(Nil)
            val add = rows.map(t => (t.turn_idx, t.ts.getTime, t.text)).toList
            state.update(ConvState(buffered ++ add, System.currentTimeMillis()))
            state.setTimeoutDuration(idleMs)
            Iterator.empty
          }
      }
  }
}
