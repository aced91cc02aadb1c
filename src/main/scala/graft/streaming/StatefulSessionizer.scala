package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Timer-driven sessionization via `transformWithState` in EVENT-TIME
  * mode — the third stateful-session implementation tier, exercising
  * the piece of Spark 4's arbitrary-state API the running-totals lane
  * ([[StatefulCounters]]) does not: event-time TIMERS. A session
  * closes two ways:
  *   - inline, when a later event of the same user arrives past the
  *     30-minute gap ([[SessionizeStream]]'s only mechanism), or
  *   - by TIMER, when the watermark passes session_end = last event +
  *     gap — how a production deployment flushes idle users without
  *     waiting for their next event (the semantics the native
  *     `session_window` lane gets from state-store eviction).
  *
  * Timer discipline: one timer per state update at the session close
  * (ms-ceiling of the microsecond close — timers are ms-granular);
  * stale timers of superseded sessions are not deleted —
  * `handleExpiredTimer` fires only if the expiry equals the CURRENT
  * state's close, otherwise it is a no-op. O(1) timer work per event,
  * no listTimers scan.
  *
  * Determinism: the events table is staged into `nChunks` files CUT BY
  * EVENT TIME (chronological arrival, mtime-stamped oldest-first so the
  * file source replays history in order) — the zero-delay watermark
  * advances monotonically and nothing is ever late. Inline closes
  * always precede a same-user successor event (end < that event's
  * ts ≤ max ts); timer closes fire once the watermark passes the
  * close, including the final no-data sweep at watermark = max event
  * time. The drained stream therefore emits exactly the sessions with
  * end ≤ max(ts) — the same cut as `stream_session_window`, sharing
  * its oracle CTE. State is in micros end-to-end; only the timer
  * handle is ms (boundary safe unless a close and the corpus max land
  * in the same millisecond — not the case in this data, asserted by
  * the spec's exact-set comparison). */
object StatefulSessionizer {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double)
  case class SessState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, raw_sum: Double)

  val GapUs: Long = 30L * 60 * 1000 * 1000

  private def micros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def fromMicros(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  class SessionProcessor
      extends StatefulProcessor[Long, Ev, Session] {
    @transient private var sess: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess",
        Encoders.product[SessState], TTLConfig.NONE)

    private def closeMs(s: SessState): Long =
      Math.floorDiv(s.lastUs + GapUs + 999L, 1000L) // ms ceiling

    private def emit(userId: Long, s: SessState): Session =
      Session(userId, fromMicros(s.startUs),
        fromMicros(s.lastUs + GapUs), s.n, s.sum)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val closed = Seq.newBuilder[Session]
      var cur = if (sess.exists()) Option(sess.get()) else None
      sorted.foreach { e =>
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.lastUs <= GapUs =>
            cur = Some(SessState(s.startUs, t, s.n + 1, s.sum + e.value))
          case Some(s) =>
            closed += emit(key, s)
            cur = Some(SessState(t, t, 1L, e.value))
          case None =>
            cur = Some(SessState(t, t, 1L, e.value))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        getHandle.registerTimer(closeMs(s))
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (sess.exists()) {
        val s = sess.get()
        if (closeMs(s) == info.getExpiryTimeInMs()) {
          sess.clear()
          return Iterator.single(emit(key, s))
        }
      }
      Iterator.empty // stale timer of a superseded session
    }
  }

  def sessions(spark: SparkSession, sfDir: String, nChunks: Int = 4,
      queryName: String = "events_tws_sess"): DataFrame = {
    import spark.implicits._
    val work = StreamDrain.workDir("tws_sess")
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    StreamDrain.stageChunks(ev, s"$work/src", nChunks, chronological = true)
    val out = StreamDrain.chunkStream(spark, ev.schema, s"$work/src")
      .withWatermark("ts", "0 seconds")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
    // rounding happens HERE (Spark round = HALF_UP, matching the
    // oracle) — the processor emits the raw event-order fold
    StreamDrain.toMemory(out, "append", queryName, availableNow = true,
        checkpoint = Some(s"$work/ckpt"), confs = StreamDrain.RocksDbState)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("raw_sum"), 4).as("sum_value"))
  }
}
