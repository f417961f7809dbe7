package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Sinks

/** One user event on the streaming wire (the `events` fixture's
  * sessionization projection).
  */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

/** Streaming SESSIONIZATION — the watermarked twin of
  * `EventQueries.evtSessions`: the SAME native `session_window` dynamic-gap
  * aggregation, run incrementally over an unbounded event stream. State =
  * open sessions only; a session is emitted (append mode) once the event-time
  * watermark passes its end, i.e. once no event can extend it any more —
  * exactly the gap rule the batch form evaluates in one pass.
  *
  * 100 TB shape: one shuffle on the session key per micro-batch; state is
  * bounded by CONCURRENTLY OPEN sessions (live users within one gap
  * horizon), not by history — the property that lets a clickstream
  * sessionizer run forever. State shards are key-sized through the shared
  * [[StreamTuning]] rule at query start ([[StateKeys]]).
  *
  * Flush contract (how a finite replay reaches the batch answer): append
  * mode holds a session in state until the watermark passes `last event +
  * gap`. The watermark used while processing micro-batch N is derived from
  * data seen through batch N−1, so a replay harness closes ALL real
  * sessions deterministically with two trailing far-future SENTINEL events
  * (reserved user_id): sentinel 1 raises the max event time past every real
  * session's end; the batch carrying sentinel 2 then runs with that
  * watermark and emits every real session. The sentinels' own sessions
  * never close, so they never reach the sink — no filtering race, no
  * reliance on the engine scheduling an extra empty batch.
  */
object SessionStream {

  /** The reserved wire id for flush sentinels (real user_ids are ≥ 0). */
  val SentinelUser: Long = -1L

  /** The session gap, in minutes — ONE owner for both renderings (r11
    * advice): [[sessions]]' default gap string and [[flushSentinels]]'
    * horizon arithmetic derive from this constant, so they cannot drift
    * apart (a gap change with stale sentinel math would silently stop
    * closing sessions).
    */
  val GapMinutes: Long = 30L

  /** [[sessions]]' state bound: concurrently OPEN sessions (live users
    * within one gap horizon).
    */
  val StateKeys: Long = 256

  /** The two flush sentinels for a replay whose max real event time is
    * `maxTsMillis` — ONE owner for the sentinel arithmetic (the entry and
    * the spec both feed these, one per micro-batch): each must clear the
    * full acceptance horizon `gap + delay` past max event time, plus a
    * margin so "past" is strict.
    */
  def flushSentinels(maxTsMillis: Long, gapMin: Long = GapMinutes,
      delayMin: Long = 0L): Seq[SessionEvent] =
    Seq(1L, 2L).map(k => SessionEvent(SentinelUser,
      new java.sql.Timestamp(maxTsMillis + (gapMin + delayMin + k) * 60000L)))

  /** Watermarked session aggregation. `gap` must match the batch entry's
    * (30 minutes); `delay` is the out-of-orderness bound the wire needs —
    * the replay harness feeds in event-time order, so zero.
    *
    * Late-row line (SessionStreamSpec pins it): the engine drops a
    * straggler only once its would-be session WINDOW END (`ts + gap`)
    * falls behind the watermark — not when its timestamp does — because
    * until then the row could still change un-emitted output. So the
    * effective acceptance horizon is `gap + delay` behind max event time,
    * and a flush harness's sentinels must clear that full horizon.
    */
  def sessions(events: Dataset[SessionEvent], gap: String = s"$GapMinutes minutes",
      delay: String = "0 seconds"): DataFrame =
    events.toDF()
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** A5 analog: micro-batch append sink (same contract as
    * [[CandleStream.sinkToParquet]] — `_spark_metadata` governs batch
    * reads, so replays and restarts stay exactly-once), started with
    * [[StateKeys]]-sized state shards.
    */
  def sinkToParquet(sessions: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    StreamTuning.start(sessions.sparkSession, StateKeys)(
      Sinks.streamAppend(sessions, path, checkpoint))
}
