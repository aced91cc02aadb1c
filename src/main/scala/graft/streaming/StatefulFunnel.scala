package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming twin of the windowed funnel
  * ([[graft.queries.EventQueries.funnelConversion]]) — the always-on
  * form of ClickHouse `windowFunnel`: per-user funnel progress
  * maintained incrementally in `transformWithState`, three longs of
  * state per user (the greedy chain's level timestamps), O(1) update
  * per event.
  *
  * Why the drained stream equals the batch fold: the greedy
  * earliest-chain fold is PREFIX-STABLE — folding events in event-time
  * order with persisted state is identical to one fold over the fully
  * sorted history, whatever the micro-batch cuts, as long as within-user
  * arrival respects event time. The source stages the table into
  * chronological chunks (cut at event-time quantiles, replayed
  * oldest-first), and each batch's rows fold in (ts, event_id) order —
  * the same total order as the batch lane.
  *
  * Funnel level is MONOTONE NON-DECREASING over a user's history, so
  * the processor emits the current level after each update and the
  * reader takes max(level) per user — append-mode output with no
  * final-flush hook needed, and the max is cut-invariant. State is
  * bounded by user cardinality (TTL would bound it further in a
  * production deployment where funnels expire).
  */
object StatefulFunnel {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String)
  case class Chain(l1: Long, l2: Long, l3: Long)
  case class LevelOut(user_id: Long, level: Int)
  case class BufEv(tsUs: Long, eventId: Long, eventType: String)
  case class SeqLevelOut(user_id: Long, seq: Long, level: Int)

  val WindowUs: Long = 24L * 3600L * 1000000L

  private def micros(t: Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  class FunnelProcessor
      extends StatefulProcessor[Long, Ev, LevelOut] {
    @transient private var chain: ValueState[Chain] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      chain = getHandle.getValueState[Chain]("chain",
        Encoders.product[Chain], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[LevelOut] = {
      var s = if (chain.exists()) chain.get() else Chain(-1L, -1L, -1L)
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        s = e.event_type match {
          case "view" if s.l1 == -1L => Chain(t, s.l2, s.l3)
          case "click" if s.l1 != -1L && s.l2 == -1L &&
            t > s.l1 && t <= s.l1 + WindowUs => Chain(s.l1, t, s.l3)
          case "purchase" if s.l2 != -1L && s.l3 == -1L &&
            t > s.l2 && t <= s.l1 + WindowUs => Chain(s.l1, s.l2, t)
          case _ => s
        }
      }
      chain.update(s)
      val level = if (s.l3 != -1L) 3 else if (s.l2 != -1L) 2
        else if (s.l1 != -1L) 1 else 0
      Iterator.single(LevelOut(key, level))
    }
  }

  /** OUT-OF-ORDER-safe funnel processor: per-user event buffer in
    * `ListState`, re-folded (sorted) on every batch that touches the
    * user, emitting (seq, level) — the LAST emission per user is the
    * fold of the COMPLETE history, identical whatever order chunks
    * arrived in. This is the robustness claim [[FunnelProcessor]]
    * cannot make (its O(1) state is correct only under event-time
    * arrival); the price is state linear in per-user history and a
    * re-fold per touched batch. A production deployment bounds both
    * with the retention horizon (TTL on the buffer) or flushes by
    * event-time timer once the watermark passes the funnel window —
    * the demonstration here keeps TimeMode.None so NO row is ever
    * watermark-dropped, which is the point: correctness under
    * arbitrary arrival. */
  class BufferedFunnelProcessor
      extends StatefulProcessor[Long, Ev, SeqLevelOut] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[BufEv] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEv]("buf",
        Encoders.product[BufEv], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SeqLevelOut] = {
      rows.foreach(e =>
        buf.appendValue(BufEv(micros(e.ts), e.event_id, e.event_type)))
      val all = buf.get().toSeq.sortBy(e => (e.tsUs, e.eventId))
      var s = Chain(-1L, -1L, -1L)
      all.foreach { e =>
        s = e.eventType match {
          case "view" if s.l1 == -1L => Chain(e.tsUs, s.l2, s.l3)
          case "click" if s.l1 != -1L && s.l2 == -1L &&
            e.tsUs > s.l1 && e.tsUs <= s.l1 + WindowUs =>
            Chain(s.l1, e.tsUs, s.l3)
          case "purchase" if s.l2 != -1L && s.l3 == -1L &&
            e.tsUs > s.l2 && e.tsUs <= s.l1 + WindowUs =>
            Chain(s.l1, s.l2, e.tsUs)
          case _ => s
        }
      }
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      val level = if (s.l3 != -1L) 3 else if (s.l2 != -1L) 2
        else if (s.l1 != -1L) 1 else 0
      Iterator.single(SeqLevelOut(key, n, level))
    }
  }

  /** The drain both funnel stream lanes share: stage the events table
    * into `nChunks` files ([[StreamDrain.stageChunks]]: chronological
    * quantiles, the [[FunnelProcessor]] requirement, or event-id hash,
    * where each chunk spans the whole timeline and arrival order is
    * ARBITRARY in event time — the [[BufferedFunnelProcessor]] stress
    * shape), replay them one file per micro-batch through `processor`
    * over RocksDB state, and return the drained memory table. */
  private def drainWithProcessor[O](spark: SparkSession, sfDir: String,
      family: String, queryName: String, nChunks: Int,
      chronological: Boolean, processor: StatefulProcessor[Long, Ev, O])(
      implicit enc: org.apache.spark.sql.Encoder[O]): DataFrame = {
    import spark.implicits._
    val work = StreamDrain.workDir(family)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    StreamDrain.stageChunks(ev, s"$work/src", nChunks, chronological)
    val out = StreamDrain.chunkStream(spark, ev.schema, s"$work/src")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
    StreamDrain.toMemory(out, "append", queryName, availableNow = true,
      checkpoint = Some(s"$work/ckpt"), confs = StreamDrain.RocksDbState)
  }

  /** Hash-chunked staging + buffered processor: chunks arrive in
    * ARBITRARY event-time order and the drained result still equals
    * the batch fold — the last emission per user folds the complete
    * history. Shares the batch lane's oracle. */
  def funnelLevelsOutOfOrder(spark: SparkSession, sfDir: String,
      nChunks: Int = 4, queryName: String = "events_tws_funnel_ooo")
      : DataFrame = {
    import spark.implicits._
    val t = drainWithProcessor(spark, sfDir, "tws_funnel_ooo",
      queryName, nChunks, chronological = false, new BufferedFunnelProcessor)
    // last emission per user = fold of the complete buffer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("seq").desc)
    t.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("level").as("funnel_level"))
  }

  /** Drain the staged chronological stream and reduce the per-batch
    * level emissions to max(level) per user — the final funnel level,
    * shared oracle with the batch lane. */
  def funnelLevels(spark: SparkSession, sfDir: String, nChunks: Int = 4,
      queryName: String = "events_tws_funnel"): DataFrame = {
    import spark.implicits._
    drainWithProcessor(spark, sfDir, "tws_funnel", queryName,
      nChunks, chronological = true, new FunnelProcessor)
      .groupBy("user_id")
      .agg(max(col("level")).as("funnel_level"))
  }
}
