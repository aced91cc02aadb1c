package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Late-data quarantine — the dead-letter half of event-time
  * processing that watermarked aggregation lanes leave implicit: a
  * watermark DROPS late rows silently, but a production ingest gate
  * must ROUTE them somewhere re-processable (audit, backfill queue)
  * instead of losing them.
  *
  * Design: a per-key bounded-out-of-orderness admission gate (the
  * source-watermark idea, re-expressed as Spark state): for each
  * stream key the gate tracks the max event time committed through
  * the PREVIOUS micro-batch; an arriving row is quarantined iff its
  * event time is more than `delay` behind that committed high-water
  * mark. Decisions use the pre-batch state only, so every row of a
  * batch is judged against the same threshold — which is exactly what
  * makes the rule REPLAYABLE: given the batch schedule (here one
  * hash-chunk file per trigger, mtime-pinned order), lateness is a
  * pure function of the data, and the DuckDB oracle recomputes it
  * from per-(key, chunk) maxima. All comparisons are integer
  * milliseconds; no floating thresholds.
  *
  * Spark's own watermark machinery is deliberately NOT used for the
  * decision: stateful operators filter late rows BEFORE user code
  * sees them — precisely the silent drop this gate exists to replace.
  * `transformWithState` in `TimeMode.None` sees every row, classifies
  * it, and emits the classification downstream; the quarantine stream
  * is then just `filter(late)` of the sink. State is one long per
  * live key — at 100 TB the gate's state is the key cardinality, not
  * the data volume, and `TTLConfig` is how production bounds it. */
object LateDataGate {

  case class Ev(event_id: Long, event_type: String, ts_ms: Long)
  case class Classified(event_id: Long, event_type: String, late: Boolean)

  class GateProcessor(delayMs: Long)
      extends StatefulProcessor[String, Ev, Classified] {
    @transient private var maxMs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      maxMs = getHandle.getValueState[Long]("maxMs",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Classified] = {
      val hadState = maxMs.exists()
      val threshold =
        if (hadState) maxMs.get() - delayMs else Long.MinValue
      var runningMax = if (hadState) maxMs.get() else Long.MinValue
      val out = rows.map { e =>
        if (e.ts_ms > runningMax) runningMax = e.ts_ms
        Classified(e.event_id, e.event_type, e.ts_ms < threshold)
      }.toVector // drain before the state update below
      maxMs.update(runningMax)
      out.iterator
    }
  }

  /** Stages events as `nChunks` hash-chunk files (mtime-pinned so the
    * file source's oldest-first order IS the chunk order), streams
    * them one file per trigger through the gate, and returns per-type
    * (n_ontime, n_late) from the parquet dead-letter/admit sink. */
  def quarantineCounts(spark: SparkSession, sfDir: String,
      nChunks: Int = 4, delayMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    val work = StreamDrain.workDir("lategate")
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        (unix_millis(col("ts"))).as("ts_ms"))
    StreamDrain.stageChunks(ev, s"$work/src", nChunks)
    val classified = StreamDrain.chunkStream(spark, ev.schema, s"$work/src")
      .as[Ev]
      .groupByKey(_.event_type)
      .transformWithState(new GateProcessor(delayMs),
        TimeMode.None(), OutputMode.Append())
    StreamDrain.run(classified, availableNow = true,
        confs = StreamDrain.RocksDbState)(
      _.outputMode("append").format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt"))
    graft.util.ParquetOpen.read(spark, s"$work/out")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("late"), 0L).otherwise(1L)).as("n_ontime"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
  }
}
