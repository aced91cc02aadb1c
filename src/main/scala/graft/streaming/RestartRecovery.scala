package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-recovery replay — the fault-tolerance contract a 24/7
  * ingestion pipeline actually relies on, which none of the other
  * streaming lanes exercise: the SAME watermarked windowed aggregation
  * is run as TWO separate query incarnations over ONE checkpoint, with
  * a hard stop in between, and the merged output must still equal the
  * batch aggregation exactly once.
  *
  * What crosses the restart boundary (all recovered from the
  * checkpoint, none of it re-derivable from the second incarnation's
  * input alone):
  *   - the FileStreamSource log (which landed files are already
  *     committed — re-listing must not re-ingest them);
  *   - the aggregation state store (windows still open at the stop —
  *     phase-B events merge into counts begun in phase A);
  *   - the event-time watermark (append-mode emission resumes where it
  *     left off, no re-emission of already-finalized windows);
  *   - the FileStreamSink `_spark_metadata` commit log (the batch
  *     reader sees exactly the committed output files, so a torn write
  *     at the stop can never double-count).
  *
  * The stop is placed so windows genuinely straddle it: events are
  * staged as four TIME-SLICED chunks (slice = range-quartile of `ts` —
  * an exact integer computation from one min/max aggregate, no global
  * sort), phase A lands slices 0-1, phase B lands 2-3. Time-slicing
  * (not hash-chunking) is what keeps append mode lossless here: the
  * watermark after slice c is below every slice-(c+1) event, so
  * nothing is ever late-dropped — mirroring a real deployment where
  * arrival order tracks event time. Two far-future `__sentinel` events
  * (max+3h, max+9h, filtered from the result) close the last real
  * windows during a DATA batch, so emission does not depend on
  * trailing no-data micro-batches.
  *
  * At scale nothing in this shape is local-mode-only: the sink is an
  * exactly-once parquet directory, state is per-(window,type) partial
  * aggregates bounded by the watermark, and the restart protocol is
  * byte-identical to what a production job does after an executor-loss
  * or planned redeploy. */
object RestartRecovery {

  private val SENTINEL = "__sentinel"

  /** Runs the two-incarnation replay; returns (rows emitted by phase A
    * alone, final merged result). The final result equals the batch
    * hourly aggregation over `events` — same contract as
    * [[EventsStream.hourlyStats]], same oracle. */
  def hourlyStatsWithRestart(spark: SparkSession, sfDir: String)
      : (Long, DataFrame) = {
    val work = StreamDrain.workDir("restart")
    val landing = s"$work/landing"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"

    val ev = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))

    // exact integer range-quartile slicing: one min/max aggregate, no
    // global sort (a single-partition ntile window would not survive
    // 100 TB; this does — it is one scalar broadcast)
    val bounds = ev.agg(
      min(unix_timestamp(col("ts"))).as("lo"),
      max(unix_timestamp(col("ts"))).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = (hi - lo + 4L) / 4L // ceil, so slice ∈ [0,3]
    val sliced = ev.withColumn("slice",
      ((unix_timestamp(col("ts")) - lit(lo)) / lit(span))
        .cast("int"))

    // slices are stamped as chunks 0-3 and the sentinels as chunk 4, so
    // phase B replays 2, 3, sentinels in that order on any filesystem
    // clock (a tie could replay slice 3 first, and the watermark would
    // then drop slice 2)
    def landSlice(c: Int): Unit = {
      sliced.filter(col("slice") === c).drop("slice")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$landing/chunk_$c")
      StreamDrain.stampChunk(s"$landing/chunk_$c", c)
    }

    def landSentinels(): Unit = {
      import spark.implicits._
      Seq((new java.sql.Timestamp((hi + 3 * 3600) * 1000L), SENTINEL, 0.0),
          (new java.sql.Timestamp((hi + 9 * 3600) * 1000L), SENTINEL, 0.0))
        .toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$landing/chunk_9_sentinel")
      StreamDrain.stampChunk(s"$landing/chunk_9_sentinel", 4)
    }

    // one incarnation of the query — both phases build it identically,
    // exactly as a redeployed production job re-submits the same plan
    def runIncarnation(): Unit = {
      val stream = StreamDrain.chunkStream(spark, ev.schema, landing)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
            .as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("cnt"), col("sum_value"))
      StreamDrain.run(stream, availableNow = true)(
        _.outputMode("append").format("parquet").option("path", out)
          .option("checkpointLocation", ckpt))
    }

    // phase A: half the timeline, then a hard stop
    landSlice(0); landSlice(1)
    runIncarnation()
    val phaseARows =
      try graft.util.ParquetOpen.read(spark, out).count()
      catch { case _: Throwable => 0L } // nothing finalized yet
    // phase B: the rest lands, the SAME query restarts from the ckpt
    landSlice(2); landSlice(3); landSentinels()
    runIncarnation()

    // batch read resolves through _spark_metadata → committed files only
    val merged = graft.util.ParquetOpen.read(spark, out)
      .filter(col("event_type") =!= SENTINEL)
    (phaseARows, merged)
  }
}
