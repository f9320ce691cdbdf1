package graft.streaming

import graft.pipeline.Turn
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming ingest mode (SURVEY.md §1.2: streaming is optional for
  * parity — the reference is batch — but first-class for the 10^12-turn
  * production pipeline: transcripts arrive continuously; tagging is stateless
  * so the batch closures run unchanged on streams).
  */
object StreamingIngest {

  /** Watermarked sliding-window event counts (the canonical streaming agg).
    * Works identically on a batch DataFrame (used by the DuckDB oracle) and a
    * streaming one (exercised in StreamingSpec with a memory sink).
    */
  def windowedEventCounts(events: DataFrame,
      windowLen: String = "1 hour", slide: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    // watermarks require TIMESTAMP (LTZ); sources may carry TIMESTAMP_NTZ.
    // Session timezone is UTC, so the cast is value-preserving.
    val ltz = events.withColumn("ts", col("ts").cast("timestamp_ltz"))
    val withWm = if (ltz.isStreaming) ltz.withWatermark("ts", watermark) else ltz
    withWm
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
  }

  final case class DedupState(seen: Set[Long])
  final case class DedupedDoc(doc_id: Long, dup_key: Long, text: String)

  /** Streaming EXACT dedup: the batch dedup semantic (keep the first document
    * per content key) as a stateful stream filter — the shape a continuous
    * training-data ingest needs. Keys are 64-bit FNV of the lowercased text,
    * sharded by key prefix so per-group state stays bounded; state is the set
    * of seen keys per shard (at production scale: state-store backed, with a
    * TTL watermark if the dedup horizon is finite).
    */
  def streamingDedup(docs: Dataset[(Long, String)], shards: Int = 64): Dataset[DedupedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .map { case (id, text) => (id, graft.ops.Hashing.fnv1a64(text.toLowerCase), text) }
      .groupByKey { case (_, key, _) => math.floorMod(key, shards).toInt }
      .flatMapGroupsWithState[DedupState, DedupedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[DedupState]) =>
          var seen = state.getOption.getOrElse(DedupState(Set.empty)).seen
          val out = Vector.newBuilder[DedupedDoc]
          // within a batch, first occurrence by doc_id order for determinism
          rows.toSeq.sortBy(_._1).foreach { case (id, key, text) =>
            if (!seen.contains(key)) { seen += key; out += DedupedDoc(id, key, text) }
          }
          state.update(DedupState(seen))
          out.result().iterator
      }
  }

  final case class ConvState(turns: Seq[(Int, String)])
  final case class AssembledConv(conv_id: String, n_turns: Int, text: String)

  /** Stateful conversation assembly: collect turns per conv_id, emit the
    * assembled conversation when the group times out (no new turns within the
    * processing-time timeout). The mapGroupsWithState shape the north star
    * calls for when cross-turn context IS needed on streams.
    */
  def assembleConversations(turns: Dataset[Turn], timeoutMs: Long = 30000): Dataset[AssembledConv] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, AssembledConv](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (convId, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(ConvState(Nil))
            state.remove()
            val sorted = st.turns.sortBy(_._1)
            Iterator.single(AssembledConv(convId, sorted.size, sorted.map(_._2).mkString("\n")))
          } else {
            val existing = state.getOption.getOrElse(ConvState(Nil))
            val updated = ConvState(existing.turns ++ rows.map(t => (t.turn_idx, t.text)))
            state.update(updated)
            state.setTimeoutDuration(timeoutMs)
            Iterator.empty
          }
      }
  }
}
