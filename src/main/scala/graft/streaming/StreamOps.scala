package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream
  * (TESTDATA.md `events`: event_id, ts, user_id, event_type, value,
  * props).
  *
  * The reference is strictly batch (SURVEY.md §2.10) — these are the
  * engine's forward-looking stream surface: the same transforms run on
  * `readStream` inputs with watermarked state, so ingest-time mention
  * extraction / quality filtering can run continuously at scale. All
  * operators are tested with MemoryStream (StreamingSpec) and produce
  * byte-identical results to their batch twins. The mention streams
  * decode through the batch path's one decode seam
  * ([[graft.crf.DecodeKernel.Decoder]]), so no stream has a decode of
  * its own.
  */
object StreamOps {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserSession(
      user_id: Long, n_events: Long, start_ts: Long, last_ts: Long)

  /** Watermarked sliding-window counts per event type: the canonical
    * streaming aggregation (late data beyond 10 min dropped; state
    * bounded by watermark — safe at any stream rate). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based sessionization with explicit BOUNDED state
    * (flatMapGroupsWithState + event-time timeout): the streaming twin
    * of the batch lag-window sessionizer (Queries q09). Emits the
    * running session per user on every trigger.
    *
    * State hygiene (r5 verdict #4): the round-5 version used
    * `NoTimeout` — per-user state lived forever, so the state store
    * grew without bound on a real stream. Now the input is watermarked
    * (`lateness` delay) and each state row carries an event-time
    * timeout at `last_ts + gapSec`: once the watermark passes the gap
    * horizon the session can never continue (any event that would was
    * already late-dropped), so the state row is removed on timeout —
    * state size is bounded by the count of users ACTIVE within the
    * gap+lateness horizon, at any stream rate. Emitted rows are
    * unchanged (timeouts emit nothing; StreamingSpec pins both the
    * per-trigger outputs and the state-row drop). */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800,
      lateness: String = "10 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[Event],
         state: GroupState[UserSession]) => {
          if (state.hasTimedOut) {
            // watermark passed last_ts + gap: the session is closed and
            // no in-watermark event can extend it — drop the state row
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption.getOrElse(
              UserSession(userId, 0L, Long.MaxValue, Long.MinValue))
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              cur =
                if (cur.n_events == 0 || t - cur.last_ts > gapSec)
                  UserSession(userId, 1L, t, t) // new session
                else cur.copy(n_events = cur.n_events + 1, last_ts = t)
            }
            state.update(cur)
            // expire when the watermark passes the gap horizon; clamp
            // above the current watermark (setting a timeout at/before
            // the watermark is an error for an already-expired horizon)
            state.setTimeoutTimestamp(math.max(
              (cur.last_ts + gapSec) * 1000L + 1,
              state.getCurrentWatermarkMs() + 1))
            Iterator.single(cur)
          }
        })
  }

  /** Streaming dedup: drop events already seen (by event_id) within
    * the watermark horizon — the streaming face of the exact-dedup
    * operator. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming mention detection: the fused segment→featurize→Viterbi→
    * extract kernel ([[graft.pipeline.Pipeline.mentions]] over the
    * language's [[graft.pipeline.LangPack]] — broadcast model + gaz) is
    * stateless per file, so it lifts onto a `readStream` source
    * unchanged for any of the six languages — ingest-time entity
    * extraction with no state store and no watermark needed (north-star
    * ingest path; batch remains the contract). */
  def streamingMentions(
      files: org.apache.spark.sql.Dataset[graft.core.SourceFile],
      lang: String = "eng")
      : org.apache.spark.sql.Dataset[graft.core.Mention] =
    graft.pipeline.Pipeline.mentions(files, lang)

  /** Streaming decode under ANY model artifact
    * ([[graft.io.ModelIO.load]] → here): the model's eng
    * [[graft.crf.DecodeKernel.decoder]] is the same stateless
    * narrow mapPartitions as the default path, so a trained/fitted model
    * tags an unbounded stream unchanged — load once, broadcast,
    * `readStream` through. */
  def streamingFittedMentions(
      files: org.apache.spark.sql.Dataset[graft.core.SourceFile],
      model: graft.crf.Model)
      : org.apache.spark.sql.Dataset[graft.core.Mention] = {
    import files.sparkSession.implicits._
    graft.crf.DecodeKernel.tag(graft.segment.Segmenter.sentences(files),
      graft.crf.DecodeKernel.decoder(graft.crf.TokenFeatures.eng, model))
      .flatMap(graft.spans.Spans.extract _)
  }

  /** Streaming entity linking: like the decode kernel, the linker is a
    * stateless narrow map over a broadcast dictionary, so the whole
    * ingest-time path corpus → mentions → linked mentions runs under
    * Structured Streaming with no state store. Canonicalization stays
    * batch (iterative global joins — SURVEY §2.10's batch contract). */
  def streamingLinkedMentions(files: org.apache.spark.sql.Dataset[graft.core.SourceFile])
      : org.apache.spark.sql.Dataset[graft.link.Linker.LinkedMention] =
    graft.link.Linker.link(streamingMentions(files))

  /** Batch twin of [[windowedCounts]] for parity tests: identical
    * logical transform applied to a bounded DataFrame. */
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
}
