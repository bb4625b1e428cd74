package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.BinaryType

/** Streaming twins of the batch pipeline ops that need custom state:
  * gap-based sessionization (the streaming form of the op_sessionize batch
  * query) and exact content dedup with watermark-bounded state.
  *
  * Scale notes (100 TB / unbounded stream):
  *  - Session state is one small record per ACTIVE user (start, end, count)
  *    — evicted via event-time timeout as the watermark passes the gap, so
  *    state size tracks concurrent activity, not history.
  *  - `dropDuplicatesWithinWatermark` keeps only in-horizon hashes; a plain
  *    `dropDuplicates` on a stream would grow state forever.
  */
object Sessions {

  case class Event(event_id: Long, user_id: Long, ts: Timestamp)

  /** Open-session state: epoch-millis bounds + event count. */
  case class SessionState(start: Long, end: Long, n: Long)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Gap-based sessionization over an event stream: a session closes after
    * 30 minutes of per-user inactivity (same rule as the batch
    * op_sessionize window query). Closed sessions are emitted when the next
    * event proves the gap, or by event-time timeout once the watermark
    * passes `session_end + gap`. */
  def sessionize(events: Dataset[Event],
      lateness: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60L * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evts: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n))
          } else {
            // micro-batches deliver a group unordered — order by event time
            val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end > gapMs =>
                  closed += Session(user, new Timestamp(s.start),
                    new Timestamp(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Exact streaming dedup by content hash: first event per md5(text) within
    * the watermark horizon survives. State is bounded by the watermark —
    * the streaming counterpart of [[graft.text.Dedup.exact]]. */
  def dedupByContent(docs: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text").cast(BinaryType)))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("text_hash")
}
