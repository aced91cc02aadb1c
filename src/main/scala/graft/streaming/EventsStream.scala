package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingestion of the `events` table (SURVEY.md §2.9:
  * the reference has no streaming surface; this is the streaming-ready
  * extension from §7.4).
  *
  * Design: `readStream` over the parquet directory with an explicit
  * schema (never inferred on a stream), event-time watermark, tumbling
  * window aggregation — the canonical at-scale shape: state is bounded
  * by the watermark, the aggregation is partial-combinable, and the
  * shuffle key is (window, event_type). The same query would run
  * unchanged against a Kafka source at production scale.
  *
  * For deterministic verification every lane is drained to completion
  * through [[StreamDrain]], here into an in-memory sink; the result then
  * equals the batch aggregation by `date_trunc('hour', ts)` — which is
  * exactly what the DuckDB oracle computes.
  */
object EventsStream {

  /** Explicit schema for events.parquet with `ts` declared as the given
    * physical type — streams must never infer schemas, and the driver's
    * generator has shipped `ts` under more than one parquet encoding
    * (see [[eventsRawStream]]). */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream over events.parquet with `ts` normalized to session-TZ
    * micros `TimestampType`, whatever the file's physical encoding:
    *   - INT64 TIMESTAMP(NANOS): Spark's reader only models it as Long
    *     (`nanosAsLong`), converted here nanos → micros;
    *   - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): read as
    *     TIMESTAMP_NTZ, cast to TimestampType (UTC session, so the
    *     instant is unchanged);
    *   - INT64 TIMESTAMP(MICROS, UTC): already TimestampType.
    * The footer is probed once through [[graft.util.ParquetOpen.read]]
    * (a driver-side footer read: no data scan, no Spark job) so the
    * declared stream schema always matches the files — a mismatch would
    * silently misread `ts` and corrupt every watermark downstream. */
  def eventsRawStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsPhysical =
      graft.util.ParquetOpen.read(spark, s"$sfDir/events.parquet")
        .schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsRawSchema(tsPhysical))
      // file-stream sources require a directory; glob-filter to the table
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    // ONE normalizer for batch and stream — Tables.normalizeEventTs
    // dispatches on the frame's ts type using only stream-compatible
    // column ops, so the streaming source can never diverge from the
    // batch loader on event time (the r5 red-lane class)
    graft.Tables.normalizeEventTs(raw)
  }

  /** Streaming deduplication — the streaming twin of exact dedup: state
    * keyed on the dedup columns drops repeats as they arrive, then a
    * complete-mode aggregation counts survivors. In production the
    * watermark bounds dedup state (dropDuplicatesWithinWatermark); on a
    * drained file source the unbounded form is deterministic and equals
    * the batch DISTINCT — which is the oracle. */
  /** Streaming `Dataset.observe` — the zero-extra-scan data-quality
    * counters of [[graft.queries.RelationalQueries.q41Observe]], on a
    * live stream: named exact aggregates (row count, null count, value
    * cents) are collected ON THE FLOW of the ingest query and surface
    * per micro-batch in `StreamingQueryProgress.observedMetrics`; the
    * monitor's totals are the SUM over batches, so every metric chosen
    * here is additive (no min/max/distinct). This is how a 100 TB
    * always-on ingest reports volume and quality without a second read
    * — the main query (an hourly count the sink consumes) is untouched.
    * Totals are exact integers, so the lane oracles like any batch
    * aggregate whatever the micro-batch cuts were. */
  def streamingObservedQuality(spark: SparkSession, sfDir: String,
      queryName: String = "events_observe"): DataFrame = {
    val stream = eventsRawStream(spark, sfDir)
      .observe("ingest_quality",
        count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L))
          .as("n_null_value"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
    val totals = StreamDrain.run(stream)(
        _.outputMode("complete").format("memory").queryName(queryName))
      .flatMap(p => Option(p.observedMetrics.get("ingest_quality")))
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null_value"),
        r.getAs[Long]("sum_cents")))
    import spark.implicits._
    Seq(totals.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c + z)
    }).toDF("n_rows", "n_null_value", "sum_cents")
  }

  def streamingDedupCounts(spark: SparkSession, sfDir: String,
      queryName: String = "events_dedup"): DataFrame = {
    val deduped = eventsRawStream(spark, sfDir)
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
    StreamDrain.toMemory(deduped, "complete", queryName)
  }

  /** Bounded-state streaming dedup — the production form of
    * [[streamingDedupCounts]]: `dropDuplicatesWithinWatermark` keyed on
    * (user_id, event_type) with an event-time watermark, so dedup state
    * for a key is EVICTED once the watermark passes its expiry instead
    * of growing forever. Guarantee: duplicates arriving within the
    * watermark delay of each other are always dropped; the unbounded
    * variant's whole-history guarantee is traded for bounded state —
    * the right trade at 100 TB/day.
    *
    * Emitted in append mode (first-seen rows), then batch-aggregated
    * from the sink; over the drained file source every duplicate lands
    * inside the horizon, so the result equals batch DISTINCT — the
    * cross-check the spec and oracle use. */
  def streamingDedupBoundedCounts(spark: SparkSession, sfDir: String,
      queryName: String = "events_dedup_wm"): DataFrame = {
    val deduped = eventsRawStream(spark, sfDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    StreamDrain.toMemory(deduped, "append", queryName)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
  }

  /** Stream-stream INTERVAL JOIN: views joined to same-user purchases
    * that follow within 30 minutes — the attribution query. Both sides
    * are real streams with event-time watermarks; the time-range join
    * condition is what lets Structured Streaming EVICT join state (a
    * view older than watermark + 30 min can never match again), so
    * state stays bounded at any scale. Inner join in append mode emits
    * each matched pair exactly once; per-user pair counts are then a
    * batch aggregate over the sink, equal to the batch/DuckDB self-join
    * — the oracle. Timestamps compare at microsecond precision on both
    * engines (micros here, epoch_us in the oracle). */
  def viewPurchaseJoinCounts(spark: SparkSession, sfDir: String,
      queryName: String = "events_ssjoin"): DataFrame = {
    def side(tp: String, a: String): DataFrame = eventsRawStream(spark, sfDir)
      .filter(col("event_type") === tp)
      .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_user"),
        col("ts").as(s"${a}_ts"))
      .withWatermark(s"${a}_ts", "2 hours")
    val joined = side("view", "v").join(side("purchase", "p"),
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
    StreamDrain.toMemory(joined, "append", queryName)
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution query of
    * [[viewPurchaseJoinCounts]] extended with the semantic only a
    * watermark can provide: views with NO purchase inside their
    * 30-minute window are ALSO emitted (null-extended), but only once
    * the watermark proves no matching purchase can still arrive. That
    * eviction-driven outer emission is the production pattern for
    * "flag unconverted impressions without waiting forever": join
    * state for a view is dropped — and its outer row released — when
    * the global watermark (min across both inputs, zero delay here)
    * passes view_ts + 30 min.
    *
    * Determinism on the drained source: matched pairs emit on match
    * (the full batch join set); unmatched views emit iff
    * v_ts + 30 min < min(max view ts, max purchase ts) — the final
    * watermark. The oracle applies exactly that cut; views whose
    * window is still open at the final watermark are withheld, exactly
    * as a live deployment would withhold them. */
  def viewPurchaseLeftOuterCounts(spark: SparkSession, sfDir: String,
      queryName: String = "events_ssjoin_lo"): DataFrame = {
    def side(tp: String, a: String): DataFrame = eventsRawStream(spark, sfDir)
      .filter(col("event_type") === tp)
      .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_user"),
        col("ts").as(s"${a}_ts"))
      .withWatermark(s"${a}_ts", "0 seconds")
    val joined = side("view", "v").join(side("purchase", "p"),
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
    StreamDrain.toMemory(joined, "append", queryName)
      .groupBy(col("v_user").as("user_id"))
      .agg(count(col("p_id")).as("n_pairs"),
        count(when(col("p_id").isNull, 1)).as("n_expired"))
  }

  /** Streaming POINT-IN-TIME enrichment — the feature-store lookup on
    * a live stream: each arriving event picks up the dimension REGIME
    * in force at its event date (the SCD-2 priority intervals built
    * from orders — [[graft.queries.RelationalQueries.q28Scd2]]), never
    * the current version — the leakage-free join, now at ingest time.
    * Stream-static with a broadcast dim: the equi key (user = custkey)
    * drives a hash join, the validity window is a post-join filter,
    * and the whole probe is STATELESS — re-planned per micro-batch, so
    * a refreshed dim snapshot takes effect on the next batch, which is
    * exactly how a production feature store rolls forward. Events
    * before their user's first interval (or with no dim row) keep
    * regime 'NONE' via the left join. Intervals tile contiguously and
    * zero-length intervals can contain no date, so each event matches
    * at most one regime — the drained complete-mode aggregate equals
    * the batch join, the oracle. */
  def streamingPitEnrich(spark: SparkSession, sfDir: String,
      queryName: String = "events_pit"): DataFrame = {
    val iv = graft.queries.RelationalQueries.q28Scd2(spark, sfDir)
      .select(col("custkey"), col("prio"),
        col("valid_from"), col("valid_to"))
    val enriched = eventsRawStream(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .join(broadcast(iv),
        col("user_id") === col("custkey") &&
          col("valid_from") <= col("d") && col("d") < col("valid_to"),
        "left")
      .groupBy(coalesce(col("prio"), lit("NONE")).as("regime"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
    StreamDrain.toMemory(enriched, "complete", queryName)
  }

  /** Streaming heavy hitters: the custom Misra-Gries
    * `TypedImperativeAggregate` running INSIDE a streaming aggregation —
    * partial sketch buffers merge across micro-batches through the
    * state store exactly as they merge across partitions in batch, so
    * the same bounded-memory sketch that summarizes a 100 TB corpus
    * also summarizes an unbounded stream. Keys are (event_type, user
    * bucket): ~50 distinct, far under capacity 200, so the lossy
    * sketch degenerates to exact counts and the lane is DuckDB-oracled
    * (the same exactness argument `text_heavy_hitters` uses; the lossy
    * regime is spec-pinned separately). */
  def streamingHeavyHitters(spark: SparkSession, sfDir: String,
      queryName: String = "events_hh"): DataFrame = {
    val agg = eventsRawStream(spark, sfDir)
      .select(concat(col("event_type"), lit(":"),
        pmod(col("user_id"), lit(10L)).cast("string")).as("key"))
      .agg(graft.functions.SketchFunctions.heavyHitters(col("key"), 200)
        .as("hh"))
    StreamDrain.toMemory(agg, "complete", queryName)
      .select(explode(col("hh")).as(Seq("key", "cnt")))
  }

  /** Streaming distinct-user HLL per event type: the custom
    * oracle-able sketch ([[graft.functions.HllAgg]]) maintained over
    * the event stream in complete mode — registers merge by
    * element-wise max across micro-batches exactly as they do across
    * partitions, so the drained stream's registers (and therefore the
    * estimate) equal the batch aggregation's bit for bit; the batch
    * DuckDB replay is the oracle. The always-on form of "how many
    * distinct users per type" with O(2^b) state per group. */
  def streamingHllDistinct(spark: SparkSession, sfDir: String,
      queryName: String = "events_hll"): DataFrame = {
    val agg = eventsRawStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(graft.functions.HllFunctions.hll(col("user_id"), 8).as("regs"))
    StreamDrain.toMemory(agg, "complete", queryName)
      .select(col("event_type"),
        round(graft.functions.HllFunctions.hllEstimate(col("regs"), 8), 2)
          .as("hll_est"))
  }

  /** Streaming histogram quantile per event type: the bounded-state
    * quantile sketch ([[graft.operators.HistogramQuantile]]) maintained
    * over the event stream in complete mode. Per-(type, bin) counts
    * merge by SUM across micro-batches exactly as they do across
    * partitions — cut-invariant — so the drained stream's histogram
    * equals the batch histogram row for row, and the rank-pick over it
    * equals the batch operator's output (the DuckDB replay is the
    * oracle). O(bins) state per group: always-on percentiles, the
    * streaming twin of `quantile_hist`. */
  def streamingQuantileHist(spark: SparkSession, sfDir: String,
      queryName: String = "events_qhist"): DataFrame = {
    val hist = eventsRawStream(spark, sfDir)
      .groupBy(col("event_type").as("g"),
        expr(graft.operators.HistogramQuantile.floorDivSql(
          "CAST(round(value * 100) AS BIGINT)", 1000)).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.HistogramQuantile.quantilesOfHist(
      StreamDrain.toMemory(hist, "complete", queryName), "event_type",
      binWidth = 1000L, perUnit = 100L, qs = Seq(("p50", 1, 2), ("p95", 19, 20)))
  }

  /** Streaming typed-Aggregator moments: [[graft.operators.TypedOps
    * .momentsAgg]] maintained over the event stream in complete mode.
    * Integer moment sums are associative and commutative, so the
    * micro-batch cut points are invisible — the drained stream's
    * (n, Σc, Σc²) equal the batch Aggregator's exactly, and the derived
    * mean/variance match the same DuckDB replay. The typed-API
    * counterpart of the untyped sketch lanes (stream_hll,
    * stream_quantile_hist). */
  def streamingTypedMoments(spark: SparkSession, sfDir: String,
      queryName: String = "events_moments"): DataFrame = {
    import spark.implicits._
    val agg = eventsRawStream(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.operators.TypedOps.momentsAgg.toColumn.name("m"))
      .toDF("event_type", "m")
    StreamDrain.toMemory(agg, "complete", queryName)
      .select(col("event_type"), col("m.n").as("n_events"),
        round((col("m.s1").cast("double") / col("m.n")) / 100.0, 6)
          .as("mean_value"),
        round((col("m.s2").cast("double") / col("m.n")
          - (col("m.s1").cast("double") / col("m.n"))
            * (col("m.s1").cast("double") / col("m.n"))) / 10000.0, 6)
          .as("var_value"))
  }

  /** Streaming export manifest: the per-shard (docs, tokens, key-range)
    * manifest of [[graft.operators.ShardedExport]] maintained over a
    * DOCUMENT STREAM — the shape of an always-on ingestion pipeline
    * whose manifest a trainer can read at any cut point. Shard
    * assignment and order keys are pure row functions, so the streaming
    * aggregate is the exact batch manifest at every micro-batch
    * boundary; over the drained file source it equals the batch
    * manifest — the oracle. */
  def streamingExportManifest(spark: SparkSession, sfDir: String,
      queryName: String = "docs_manifest"): DataFrame = {
    val docs = DocsStream.docsRawStream(spark, sfDir)
      .withColumn("n_toks",
        graft.functions.TextFunctions.tokenCount(
          graft.functions.TextFunctions.normalize(col("text"))))
    val ord = graft.operators.Packing.orderKey(col("doc_id"), "export")
    val agg = docs
      .withColumn("_ord", ord)
      .withColumn("shard", graft.operators.Packing.shardOf(col("_ord"), 8))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"),
        min(col("_ord")).as("first_key"),
        max(col("_ord")).as("last_key"))
    StreamDrain.toMemory(agg, "complete", queryName)
  }

  /** Stream-static ENRICHMENT join: the event stream joined to a static
    * customer dimension (market segment) — the canonical streaming
    * lookup. Stream-static joins are STATELESS: no watermark, no join
    * state; each micro-batch probes the dimension (which Spark re-plans
    * per batch, so at scale a broadcast dim refreshes as files change).
    * Left join keeps events with no dimension row (segment null →
    * "UNKNOWN"), then a complete-mode per-segment aggregate. Over the
    * drained source this equals the batch join+group — the oracle. */
  def streamStaticEnrichedCounts(spark: SparkSession, sfDir: String,
      queryName: String = "events_enrich"): DataFrame = {
    val dim = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventsRawStream(spark, sfDir)
      .join(dim, col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
    StreamDrain.toMemory(enriched, "complete", queryName)
  }

  /** STREAMING session windows: `session_window` inside a watermarked
    * streaming aggregation, append mode — sessions are held in the
    * state store while open and emitted exactly once when the watermark
    * passes their end (last event + gap). That eviction contract is the
    * deterministic cut the lane verifies: with a zero-delay watermark
    * the final watermark is the global max event time, so the drained
    * stream emits precisely the sessions whose end ≤ max(ts) — the
    * batch session set minus each user's still-open tail session. The
    * oracle applies the same cut. */
  def streamingSessionWindows(spark: SparkSession, sfDir: String,
      queryName: String = "events_swin"): DataFrame = {
    val sessions = eventsRawStream(spark, sfDir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
    StreamDrain.toMemory(sessions, "append", queryName)
  }

  /** One micro-batch of the CDC upsert sink, committed through the
    * snapshot layer: read the last COMMITTED state via the manifest
    * pointer, union the batch in, keep the per-key argmax by
    * (event time, event id), publish the result as a new atomic
    * snapshot ([[graft.etl.SnapshotStore.commitDir]]), and bound disk
    * with `expire(keepLast = 2)` — the previous state dir stays
    * retained for any reader that resolved the old pointer.
    *
    * Exactly-once without a transaction log: the argmax fold is
    * associative, commutative and IDEMPOTENT, so a batch re-delivered
    * after a crash (committed snapshot, checkpoint not yet advanced)
    * merges to byte-identical content — the re-run publishes a new
    * snapshot equal to the one the crash orphaned. And a crash MID
    * commit can never publish a torn state: the data dir is written
    * in full before the one-rename pointer swap, so a recovering
    * reader (or the retried batch itself) resolves the previous
    * committed snapshot, never a half-written dir — the property the
    * pre-snapshot versioned-dir scheme only held within one JVM (its
    * `current` pointer was an in-memory var; this one is the durable
    * MANIFEST, so recovery works across incarnations). */
  def upsertCommitBatch(spark: SparkSession, snapRoot: String,
      batch: DataFrame): Long =
    // the whole read-modify-write holds the table lock (reentrant with
    // commitDir/expire inside): a second writer committing between our
    // currentDir read and our publish would otherwise have its keys
    // silently reverted by our stale fold — the lost update
    // withTableLock exists to prevent
    graft.etl.SnapshotStore.withTableLock(snapRoot) {
      import org.apache.spark.sql.expressions.Window
      val merged = graft.etl.SnapshotStore.currentDir(snapRoot) match {
        case Some(p) => graft.util.ParquetOpen.read(spark, p).unionByName(batch)
        case None => batch
      }
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val resolved = merged.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
      // the commit dir is pre-CLAIMED by commitDir (exists, empty,
      // exclusively ours) — write overwrite into it, not errorifexists
      val id = graft.etl.SnapshotStore.commitDir(snapRoot)(dir =>
        resolved.write.mode("overwrite").parquet(dir))
      graft.etl.SnapshotStore.expire(snapRoot, keepLast = 2)
      id
    }

  /** The committed upsert state as the lane's result shape. */
  def upsertState(spark: SparkSession, snapRoot: String): DataFrame =
    graft.util.ParquetOpen.read(spark, graft.etl.SnapshotStore
      .currentDir(snapRoot).getOrElse(throw new IllegalStateException(
        s"no committed upsert snapshot at $snapRoot")))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        round(col("value"), 4).as("last_value"))

  /** CDC-style keyed UPSERT materialization — the sink-side pattern for
    * "maintain the latest row per key from a change stream"
    * (last-write-wins by (event time, event id)). Spark has no built-in
    * MERGE sink for plain parquet, so this is the canonical
    * `foreachBatch` recipe, with the state published through the
    * atomic snapshot layer per batch ([[upsertCommitBatch]]): a crash
    * between batches recovers from the durable manifest pointer + the
    * streaming checkpoint, and retention is `expire`, not ad-hoc dir
    * management. The events table is staged into `nChunks` files so
    * the file source genuinely delivers multiple micro-batches
    * (`maxFilesPerTrigger = 1`), exercising the incremental path.
    *
    * At scale the snapshot rewrite is the textbook compaction cost of
    * upsert-on-immutable-files; the per-key state stays one row. */
  def streamingUpsertLatest(spark: SparkSession, sfDir: String,
      nChunks: Int = 4, workDir: Option[String] = None): DataFrame = {
    val work = workDir.getOrElse(StreamDrain.workDir("upsert"))
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    StreamDrain.stageChunks(ev, s"$work/src", nChunks)
    val snapRoot = s"$work/state_snap"
    StreamDrain.run(StreamDrain.chunkStream(spark, ev.schema, s"$work/src"),
        availableNow = true)(
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        upsertCommitBatch(spark, snapRoot, batch)
        ()
      }.option("checkpointLocation", s"$work/ckpt"))
    upsertState(spark, snapRoot)
  }

  /** EQUALITY-DELETE STREAMING UPSERT — the O(batch) CDC-ingest sink
    * ([[graft.etl.SnapshotStore.appendUpsert]]; Flink→Iceberg v2
    * equality-delete shape): each micro-batch folds to one row per
    * key, then ONE atomic commit appends the batch AND displaces
    * every older row with those keys — no read-modify-write of the
    * state, unlike [[streamingUpsertLatest]]'s textbook full-state
    * rewrite. The state table is bucket-partitioned on the key
    * (`bucket(8,user_id)`), reads resolve by one broadcast anti-join,
    * and a later `rewriteDataFiles` folds the deletes away.
    *
    * Batch order is the displacement order: the file source sorts by
    * (mtime, path), the chunk dirs sort lexicographically and mtimes
    * are stamped ascending, so chunk c arrives as batch c
    * deterministically — the oracle replays "highest chunk containing
    * the key wins, argmax (ts, event_id) within the chunk".
    * Exactly-once: per-writer idempotence tokens, same slots as the
    * append sink. */
  def streamingUpsertEqDelta(spark: SparkSession, sfDir: String,
      nChunks: Int = 4, workDir: Option[String] = None): DataFrame = {
    val work = workDir.getOrElse(StreamDrain.workDir("equps"))
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    StreamDrain.stageChunks(ev, s"$work/src", nChunks)
    val snapRoot = s"$work/state_snap"
    StreamDrain.run(StreamDrain.chunkStream(spark, ev.schema, s"$work/src"),
        availableNow = true)(
      _.foreachBatch { (b: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val folded = b.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk")
        graft.etl.SnapshotStore.appendUpsert(folded, snapRoot,
          partCol = "bucket(8,user_id)", sortCol = "ts",
          keyCols = Seq("user_id"),
          idempotence = Some((s"$work/ckpt", batchId.toString)))
        ()
      }.option("checkpointLocation", s"$work/ckpt"))
    // the routing proof: the commits attached equality deletes and
    // stamped the era (a silent fall-back to rewrite-the-state would
    // stay hash-green while losing the O(batch) commit economics)
    val m = graft.etl.SnapshotStore.current(snapRoot).getOrElse(
      sys.error(s"no committed upsert snapshot at $snapRoot"))
    require(graft.etl.SnapshotStore.eqDeletesOf(m).nonEmpty,
      "stream_upsert_eqdel: no equality deletes live after the drain " +
        "— the upsert commits did not take the O(batch) path")
    require(m.props.get("format.reader").contains("3"),
      "stream_upsert_eqdel: reader era 3 must be stamped while " +
        "equality deletes are live")
    graft.etl.SnapshotStore.read(spark, snapRoot)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        round(col("value"), 4).as("last_value"))
  }

  /** Windowed streaming HLL — the always-on "distinct users per 6-hour
    * window per type" monitor, closing the sketch×streaming matrix
    * (stream_hll = global complete-mode registers; this = EVENT-TIME
    * windowed registers under a watermark). Register element-wise max
    * is micro-batch-cut invariant per (window, type) group, so the
    * drained stream's estimates equal the batch windowed aggregation
    * exactly — the oracle. Window starts are epoch-aligned (Spark
    * `window()` semantics), replayed as integer epoch division. */
  def streamingWindowedHll(spark: SparkSession, sfDir: String,
      queryName: String = "events_windowed_hll"): DataFrame = {
    val HF = graft.functions.HllFunctions
    val stream = eventsRawStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(HF.hll(col("user_id"), 8).as("regs"))
      .select(col("window.start").as("win_start"), col("event_type"),
        round(HF.hllEstimate(col("regs"), 8), 2).as("hll_est"))
    StreamDrain.toMemory(stream, "complete", queryName)
  }

  /** SLIDING-window streaming stats — the 3-arg `window(ts, size,
    * slide)` form the tumbling lanes don't exercise: every event lands
    * in size/slide = 6 overlapping windows, so the aggregation fans out
    * 6× before the (window, type) shuffle — the always-on "last 6 hours,
    * refreshed hourly" monitor. State per group is one partial aggregate
    * exactly as in the tumbling case; the watermark bounds how many
    * open windows exist per key (6 + late horizon). Window starts are
    * epoch-aligned, so the drained stream equals the batch cross-join
    * replay (each event × its 6 hour-aligned starts) — the oracle
    * shared with the batch twin [[graft.queries.EventQueries
    * .slidingWindowStats]]. */
  def streamingSlidingStats(spark: SparkSession, sfDir: String,
      queryName: String = "events_sliding"): DataFrame = {
    val stream = eventsRawStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))
    StreamDrain.toMemory(stream, "complete", queryName)
  }

  def hourlyStats(spark: SparkSession, sfDir: String,
      queryName: String = "events_hourly"): DataFrame = {
    val stream = eventsRawStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("sum_value"))
    // State-store partition bound, DATA-PROPORTIONAL: the post-shuffle
    // state key is (hour window, event_type); under the 1-hour
    // watermark the ACTIVE keys per micro-batch are a few open windows
    // × |event types|, bounded by the key domain, NOT by input volume.
    // Streaming state partitions are fixed at query start from
    // spark.sql.shuffle.partitions, and every micro-batch pays one
    // state-store commit + WAL entry PER PARTITION, so the query runs
    // at 8 (about the active keys of this 5-type schema) whatever the
    // session's batch setting is (its core count under
    // GraftSession.local; thousands on a cluster). The override reaches
    // this query only (StreamDrain.run); batch lanes keep the session's
    // value. Results are partition-count invariant (exact decimal
    // sums), so the oracle is unaffected.
    StreamDrain.toMemory(stream, "complete", queryName,
      confs = Map("spark.sql.shuffle.partitions" -> "8"))
  }
}
