package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming sessionization via
  * `flatMapGroupsWithState` — the custom-state shape the reference has
  * no equivalent of (SURVEY.md §2.9 extension): per-user session state
  * with a 30-minute inactivity gap, closed sessions emitted as rows.
  *
  * State is one small record per active user, the stream shuffles once
  * on user_id — the pattern that holds at production scale (where an
  * event-time timeout tied to the watermark would also flush idle
  * sessions). The batch twin of this logic is `EventQueries.sessionize`
  * (window-function form); the spec cross-checks the two.
  */
object SessionizeStream {

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, nEvents: Long,
      totalValue: Double)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  val GapMs: Long = 30 * 60 * 1000L

  /** Transition function: events arrive in arbitrary order within a
    * micro-batch, so sort by time before folding into session state;
    * emit every closed session. */
  def updateSessions(userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var cur = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastTs <= GapMs =>
          cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
            totalValue = s.totalValue + e.value))
        case Some(s) =>
          closed += Session(userId, new Timestamp(s.start),
            new Timestamp(s.lastTs), s.nEvents, s.totalValue)
          cur = Some(SessionState(t, t, 1L, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1L, e.value))
      }
    }
    cur.foreach(state.update)
    closed.result().iterator
  }

  /** Run sessionization over the events table as a stream, returning
    * CLOSED sessions (sessions still open when the file source drains
    * are not emitted — exactly the semantics a live stream would have).
    */
  def run(spark: SparkSession, sfDir: String,
      queryName: String = "sessions_stream"): Dataset[Session] = {
    import spark.implicits._
    val sessions = EventsStream.eventsRawStream(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value")).as[Event]
      .groupByKey(_.user_id)
      // NoTimeout: a session closes only when a later event arrives past
      // the gap. Time-based timeouts would keep scheduling no-data
      // batches (the stream never quiesces for deterministic testing);
      // a production deployment flushing idle sessions would use
      // EventTimeTimeout driven by the watermark instead.
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateSessions)
    // AvailableNow drains the source in micro-batches then terminates —
    // processAllAvailable never settles here because ProcessingTime
    // timeouts keep scheduling timeout-check batches.
    StreamDrain.toMemory(sessions, "append", queryName, availableNow = true)
      .as[Session]
  }
}
