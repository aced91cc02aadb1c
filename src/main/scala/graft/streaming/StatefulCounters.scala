package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key running totals via `transformWithState` — Spark 4's
  * arbitrary-stateful-processing API (the successor to
  * `flatMapGroupsWithState`, which [[SessionizeStream]] exercises):
  * a `StatefulProcessor` holding one typed `ValueState` per user,
  * backed by the RocksDB state store the API requires. This is the
  * always-on "running per-entity counters" shape (events seen, exact
  * value total) a feature store maintains; at scale state is one small
  * record per live key, partitioned by the groupBy key, and TTL
  * (`TTLConfig`) is how production bounds key cardinality — NONE here
  * so the drained totals are exact.
  *
  * Determinism: value cents are exact integers (`round(value·100)`,
  * the [[EventsStream.streamingTypedMoments]] convention), both
  * counters are monotone non-decreasing (value ≥ 0 in this corpus),
  * and the processor emits one snapshot per (key, micro-batch) — so
  * the per-key `max` over the emitted snapshots is the final state,
  * equal to the batch GROUP BY whatever the micro-batch cuts were.
  * The events table is staged into `nChunks` files read one per
  * trigger, so state genuinely carries across batches.
  */
object StatefulCounters {

  case class Ev(user_id: Long, cents: Long)
  case class Totals(n: Long, cents: Long)
  case class Snapshot(user_id: Long, n_events: Long, sum_cents: Long)

  /** Counts and sums every row of its key; emits the post-batch state
    * so the sink holds a monotone snapshot series per key. */
  class TotalsProcessor extends StatefulProcessor[Long, Ev, Snapshot] {
    @transient private var totals: ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[Totals]("totals",
        Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Snapshot] = {
      var cur = if (totals.exists()) totals.get() else Totals(0L, 0L)
      rows.foreach(e => cur = Totals(cur.n + 1L, cur.cents + e.cents))
      totals.update(cur)
      Iterator.single(Snapshot(key, cur.n, cur.cents))
    }
  }

  def runningTotals(spark: SparkSession, sfDir: String,
      nChunks: Int = 4, queryName: String = "events_tws"): DataFrame = {
    import spark.implicits._
    val work = StreamDrain.workDir("tws")
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
    StreamDrain.stageChunks(ev, s"$work/src", nChunks)
    val snapshots = StreamDrain
      .chunkStream(spark, ev.drop("event_id").schema, s"$work/src")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        TimeMode.None(), OutputMode.Append())
    StreamDrain.toMemory(snapshots, "append", queryName,
        availableNow = true, checkpoint = Some(s"$work/ckpt"),
        confs = StreamDrain.RocksDbState)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("sum_cents")).as("sum_cents"))
  }
}
