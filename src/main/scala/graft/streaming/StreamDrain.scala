package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress,
  Trigger}
import org.apache.spark.sql.types.StructType

/** The one start / drain / stop path of every drained streaming lane,
  * plus the chunk staging the multi-batch lanes share.
  *
  * Per-query confs: a lane that needs a conf the session must not keep
  * (the RocksDB state store `transformWithState` requires, a state
  * partition bound) passes it as `confs`. [[run]] sets them under one
  * JVM-wide lock, calls `start()`, and restores the session's own
  * values as soon as `start()` returns — not after the drain. That is
  * enough because `StreamExecution`'s constructor clones the session:
  * every micro-batch plans with the conf as it stood at `start()`, and
  * the query records it in its offset log. Outside that window the
  * session never shows the override, so two lanes starting at once can
  * neither run on each other's settings nor restore each other's
  * override as the session's "prior" value. */
object StreamDrain {

  /** `transformWithState` requires the RocksDB state store. */
  val RocksDbState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private val startLock = new Object

  /** Starts `ds` through the lane's `sink` (format, output mode, query
    * name, checkpoint), drains it and stops it. `availableNow` runs the
    * query under `Trigger.AvailableNow` and waits for it to terminate;
    * otherwise the default trigger runs until `processAllAvailable`
    * returns. Returns the query's retained progress reports, oldest
    * first: the last one is the final batch's, and a lane that sums
    * per-batch observations reads them all. */
  def run[T](ds: Dataset[T], availableNow: Boolean = false,
      confs: Map[String, String] = Map.empty)(
      sink: DataStreamWriter[T] => DataStreamWriter[T])
      : Seq[StreamingQueryProgress] = {
    val w = sink(ds.writeStream)
    val q = start(ds,
      if (availableNow) w.trigger(Trigger.AvailableNow()) else w, confs)
    try if (availableNow) q.awaitTermination() else q.processAllAvailable()
    finally q.stop()
    q.recentProgress.toSeq
  }

  private def start[T](ds: Dataset[T], w: DataStreamWriter[T],
      confs: Map[String, String]) =
    if (confs.isEmpty) w.start()
    else startLock.synchronized {
      val conf = ds.sparkSession.conf
      val set = conf.getAll
      val prior = confs.keys.map(k => k -> set.get(k))
      confs.foreach { case (k, v) => conf.set(k, v) }
      try w.start()
      finally prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

  /** [[run]] into an in-memory sink named `queryName`; returns the
    * drained table. */
  def toMemory[T](ds: Dataset[T], outputMode: String, queryName: String,
      availableNow: Boolean = false, checkpoint: Option[String] = None,
      confs: Map[String, String] = Map.empty): DataFrame = {
    run(ds, availableNow, confs) { w =>
      val m = w.outputMode(outputMode).format("memory").queryName(queryName)
      checkpoint.fold(m)(m.option("checkpointLocation", _))
    }
    ds.sparkSession.table(queryName)
  }

  private val runs = new AtomicInteger()

  /** A fresh, empty work dir for one lane run:
    * [[graft.util.Fs.processScratchRoot]] with a per-run counter, so it
    * is swept once this process has died. */
  def workDir(family: String): String = {
    val dir = graft.util.Fs.processScratchRoot(family,
      s"_${runs.incrementAndGet()}")
    graft.util.Fs.deleteRecursively(new java.io.File(dir))
    dir
  }

  /** Stamps every file under `chunkDir` with chunk `c`'s mtime, base +
    * c minutes. The file source replays the oldest mtime first, so
    * chunk c arrives as batch c on any filesystem clock, where write
    * order would tie on coarse-mtime filesystems and replay in
    * arbitrary order. */
  def stampChunk(chunkDir: String, c: Int): Unit =
    Option(new java.io.File(chunkDir).listFiles()).getOrElse(Array.empty)
      .foreach(_.setLastModified(1700000000000L + c * 60000L))

  /** Writes `ev` as `nChunks` single-file chunks `dir/chunk_<c>`, cut by
    * `event_id` hash or, when `chronological`, at event-time quantiles
    * of `ts` (equal timestamps never straddle a cut, so per-key replay
    * order is event time), each stamped by [[stampChunk]]. */
  def stageChunks(ev: DataFrame, dir: String, nChunks: Int,
      chronological: Boolean = false): Unit = {
    val cut: Int => Column = if (chronological) {
      val bounds = ev.selectExpr((1 until nChunks).map(i =>
        s"percentile(CAST(ts AS DOUBLE), ${i.toDouble / nChunks})"): _*)
        .head().toSeq.map(_.asInstanceOf[Double])
      val (lo, hi) = (Double.MinValue +: bounds, bounds :+ Double.MaxValue)
      val ts = col("ts").cast("double")
      c => ts >= lo(c) && ts < hi(c)
    } else c => pmod(col("event_id"), lit(nChunks)) === c
    (0 until nChunks).foreach { c =>
      val chunk = s"$dir/chunk_$c"
      ev.filter(cut(c)).coalesce(1).write.mode("overwrite").parquet(chunk)
      stampChunk(chunk, c)
    }
  }

  /** The chunks under `dir` as a file stream, one chunk per trigger. */
  def chunkStream(spark: SparkSession, schema: StructType,
      dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$dir/chunk_*")
}
