package graft.queries

import graft.Tables
import graft.streaming.{EventsStream, StreamDrain}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream queries: a genuine Structured Streaming aggregation
  * (driven to completion for deterministic verification) and a batch
  * sessionization built on window functions. Both have exact DuckDB
  * oracles.
  */
object EventQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Hourly tumbling-window event stats via a real streaming query;
    * equals the batch GROUP BY date_trunc('hour') — the oracle. */
  def streamHourlyStats: Q = (s, d) =>
    EventsStream.hourlyStats(s, d)

  /** SLIDING-window stats — the 3-arg `window(ts, size, slide)` form:
    * "events in the trailing 6 hours, refreshed hourly". Each event
    * belongs to size/slide = 6 epoch-aligned windows; Spark expands the
    * windows THEN aggregates, so the shape is a 6× row fan-out into one
    * (window, type) shuffle — linear in input at any scale, never a
    * self-join of the table against its own time-shifted copy (the
    * naive formulation, quadratic in window count). The oracle replays
    * the same expansion as events × range(0..5). */
  def slidingWindowStats: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming twin of [[slidingWindowStats]] — same window expression
    * inside a watermarked streaming aggregation; drained ≡ batch, one
    * oracle for both. */
  def streamSlidingStats: Q = (s, d) =>
    EventsStream.streamingSlidingStats(s, d)

  /** Rolling z-score ANOMALY detection over hourly event-type counts —
    * the pipeline-health monitor: each hour's count is scored against
    * the trailing 24-hour baseline (RANGE frame, current hour excluded
    * so a spike can't suppress itself). All rolling statistics are
    * EXACT sums (n, Σc, Σc²) accumulated in decimal(38,0) — Σc² and
    * S1² cross Long.MaxValue near 1e9 events/hour, the overflow class
    * the 16× ScaleSmoke sweep caught, and decimal keeps the arithmetic
    * exact at any volume; the spike flag is decided in that exact
    * arithmetic — (n·c − S1)² > 9·(n·S2 − S1²) with n·c − S1 > 0 — so
    * both engines agree bit-for-bit with no floating threshold (the
    * [[graft.operators.QualityRules]] discipline). z itself is emitted
    * as a rounded double for humans. RANGE (not ROWS) keeps the
    * baseline honest across gap hours.
    * One shuffle on event_type; the frame is a sort within the
    * partition — at 100 TB event_type is low-cardinality, so the
    * production form would pre-bucket by (type, day) and merge frames;
    * at the test scale the direct window is the right plan. */
  def anomalyZscore: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) div 1000000")
          .as("h_epoch"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h_epoch"))
      .rangeBetween(-86400L, -3600L)
    // rolling moments accumulate in decimal(38,0): at production event
    // rates an hourly count reaches ~1e9, so Σcnt² ≈ 2.4e19 and s1²
    // ≈ 6e20 both blow past Long.MaxValue (the overflow class the 16×
    // ScaleSmoke sweep caught in global_index_big) — decimal keeps the
    // arithmetic EXACT, which is the lane's whole contract (the spike
    // flag is decided in integer arithmetic, never a float threshold)
    val cntD = col("cnt").cast("decimal(38,0)")
    val n = count(lit(1)).over(w)
    val s1 = sum(cntD).over(w)
    val s2 = sum(cntD * cntD).over(w)
    hourly
      .withColumn("n_prior", n)
      .withColumn("num",
        col("n_prior").cast("decimal(38,0)") * cntD - s1)
      .withColumn("den2",
        col("n_prior").cast("decimal(38,0)") * s2 - s1 * s1)
      .filter(col("n_prior") >= 12)
      .select(col("event_type"),
        to_timestamp(col("h_epoch")).as("hour_start"),
        col("cnt"), col("n_prior"),
        when(col("den2") > 0,
          round(col("num").cast("double") /
            sqrt(col("den2").cast("double")), 4)).as("z_score"),
        (col("num") > 0 &&
          col("num") * col("num") > lit(9L) * col("den2"))
          .as("is_spike"))
  }

  /** Sessionization: 30-minute-gap sessions per user, summarized per
    * user. The gap indicator + running sum over an event-time window is
    * the classic scale-out shape: one shuffle on user_id, sessions never
    * materialized driver-side. */
  def sessionize: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val newSession = when(lag(col("ts"), 1).over(w).isNull, 1L)
      .when(gapUs > 1800L * 1000000L, 1L)
      .otherwise(0L)
    ev.withColumn("new_session", newSession)
      .groupBy(col("user_id"))
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("total_value"))
  }

  /** Native session windows: `session_window(ts, gap)` — Spark's
    * dynamic-gap grouping (the operator form of [[sessionize]]'s
    * hand-built lag/cumsum). Each (user, session) row carries the
    * window bounds (end = last event + gap), event count and value sum.
    * The same expression works in a streaming aggregation with
    * watermark-driven session closure; the batch form here shares its
    * oracle with a DuckDB gap-split replay. */
  def sessionWindowAgg: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,8)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** As-of join: each event picks up the user's most recent order at or
    * before the event time. The right side is deduped to one row per
    * (custkey, orderdate) — keep max o_orderkey — so both engines'
    * as-of semantics are deterministic. Oracle: DuckDB's native
    * ASOF LEFT JOIN. */
  def eventsAsOfOrders: Q = (s, d) => {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val rightDedup = Tables.orders(s, d)
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")
    graft.operators.AsOfJoin.leftAsOf(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      rightDedup,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("order_id"),
        col("o_totalprice").as("order_price"))
  }

  /** The SAME as-of query through the native whole-operator path
    * (custom LogicalPlan → Strategy → merge exec; see
    * [[graft.plans.AsOfJoinNative]]): two independent implementations,
    * one oracle. The native form needs identical key/time types, so the
    * order date is cast to timestamp up front (the oracle's comparison
    * already promotes the date the same way). */
  def eventsAsOfOrdersNative: Q = (s, d) => {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val rightDedup = Tables.orders(s, d)
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
    graft.plans.AsOfJoinNative.leftAsOf(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      rightDedup,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_ts",
      carry = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("order_id"),
        col("o_totalprice").as("order_price"))
  }

  /** Forward as-of through the native operator — shares the
    * compositional forward lane's oracle. */
  def eventsAsOfNextOrderNative: Q = (s, d) => {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val rightDedup = Tables.orders(s, d)
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
    graft.plans.AsOfJoinNative.leftAsOf(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      rightDedup,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_ts",
      carry = Seq("o_orderkey"), direction = "forward")
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("next_order_id"))
  }

  /** Backward as-of with a 30-day tolerance: stale matches revert to
    * null. Oracle: DuckDB ASOF plus a CASE disqualifying matches older
    * than the window, compared at microsecond precision. */
  def eventsAsOfOrdersTol: Q = (s, d) => {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val rightDedup = Tables.orders(s, d)
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")
    graft.operators.AsOfJoin.leftAsOf(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      rightDedup,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey"),
      toleranceMicros = Some(30L * 24 * 3600 * 1000000L))
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("order_id"))
  }

  /** Forward as-of: each event picks up the user's NEXT order at or
    * after the event time ("time to next conversion"). Same shuffle
    * shape as backward; DuckDB's ASOF with a flipped inequality is the
    * oracle. */
  def eventsAsOfNextOrder: Q = (s, d) => {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val rightDedup = Tables.orders(s, d)
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")
    graft.operators.AsOfJoin.leftAsOf(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      rightDedup,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey"), direction = "forward")
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("next_order_id"))
  }

  /** Daily resample with forward-fill: every user's latest event state
    * at each day boundary — grid construction + the native as-of join
    * as a building block. Oracle: DuckDB generate_series grid + native
    * ASOF. */
  def eventsResampleFfill: Q = (s, d) =>
    graft.operators.Resample.dailyForwardFill(
      Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
      keyCol = "user_id", timeCol = "ts", tieBreak = "event_id",
      carry = Seq("event_id", "value"))
      .select(col("user_id"), col("day"),
        col("event_id").as("last_event_id"),
        col("value").as("last_value"))

  /** Daily linear-interpolation resample: the native as-of join run in
    * BOTH directions (prev event ≤ day, next event ≥ day) and a
    * fixed-order lerp between them — boundary-exact gap filling where
    * forward-fill staircases. Oracled against DuckDB's native ASOF
    * joins both ways. */
  def eventsResampleInterp: Q = (s, d) =>
    graft.operators.Resample.dailyInterpolate(
      Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
      keyCol = "user_id", timeCol = "ts", tieBreak = "event_id",
      valueCol = "value")

  /** Cohort retention: users bucketed by first-event week, activity
    * counted per (cohort, week offset) — the standard retention
    * triangle. One user-keyed window pass assigns cohorts (no
    * agg+join back), then a distinct + count shuffle. */
  def cohortRetention: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("week", min(col("ts")).over(w)).as("cohort_week"),
        date_trunc("week", col("ts")).as("wk"))
      .select(col("user_id"), col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / lit(7))
          .cast("long").as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Distinct users per event type: exact count side by side with the
    * custom ORACLE-ABLE HyperLogLog ([[graft.functions.HllAgg]], 256
    * md5-derived registers) — unlike `approx_count_distinct`, every
    * register and the estimate replay exactly in DuckDB. */
  def hllDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        graft.functions.HllFunctions.hll(col("user_id"), 8).as("regs"))
      .select(col("event_type"), col("n_exact"),
        round(graft.functions.HllFunctions.hllEstimate(col("regs"), 8), 2)
          .as("hll_est"))

  /** Sketch MERGEABILITY under the gate — the property the sketch
    * family exists for at 100 TB (per-partition/per-source sketches
    * roll up without touching rows again): per-type HLL register
    * arrays merged by element-wise max into the union sketch, beside
    * each scope's exact distinct. Because register merge is exact, the
    * union row's estimate is bit-identical to running one global HLL —
    * HllSpec pins that identity; here both tiers replay in DuckDB. */
  def hllUnion: Q = (s, d) => {
    val HF = graft.functions.HllFunctions
    val ev = Tables.events(s, d)
    // tiny (one row per type) but feeds two consumers — pin once
    val perType = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        HF.hll(col("user_id"), 8).as("regs"))
      .localCheckpoint(true)
    val unionRegs = perType
      .select(posexplode(col("regs")).as(Seq("idx", "mj")))
      .groupBy("idx").agg(max(col("mj")).as("mj"))
      .agg(transform(
        array_sort(collect_list(struct(col("idx"), col("mj")))),
        x => x.getField("mj")).as("regs"))
    val exactAll = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    val unionRow = unionRegs.crossJoin(broadcast(exactAll))
      .select(lit("__all").as("event_type"), col("n_exact"),
        round(HF.hllEstimate(col("regs"), 8), 2).as("hll_est"))
    perType.select(col("event_type"), col("n_exact"),
        round(HF.hllEstimate(col("regs"), 8), 2).as("hll_est"))
      .unionByName(unionRow)
  }

  /** Range join: same-user event pairs within 30 minutes — the
    * bucketized proximity join, oracled against a plain inequality
    * join in DuckDB. */
  def rangeJoinPairs: Q = (s, d) =>
    graft.operators.RangeJoin.timeProximityPairs(
      Tables.events(s, d), "event_id", "user_id", "ts", tolSec = 1800L)
      .orderBy("id_a", "id_b")

  /** The NAIVE keyless proximity join — `abs(t_a − t_b) <= 60s` with no
    * equi conjunct, which Spark alone can only plan as an O(n²)
    * BroadcastNestedLoopJoin — relying on
    * [[graft.plans.ProximityJoinRewrite]] to rewrite it into the
    * bucketized hash join. Same result, same oracle shape as a
    * hand-bucketized join; the ENGINE supplies the scalability. */
  def rangeRewritePairs: Q = (s, d) => {
    org.apache.spark.sql.GraftPlanBridge.ensureOptimizerRule(
      s, graft.plans.ProximityJoinRewrite.RewriteRule)
    val e = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("t"))
    val a = e.select(col("event_id").as("id_a"), col("t").as("t_a"))
    val b = e.select(col("event_id").as("id_b"), col("t").as("t_b"))
    a.join(b, col("id_a") < col("id_b") &&
        abs(col("t_a") - col("t_b")) <= lit(60000000L))
      .select(col("id_a"), col("id_b"),
        (col("t_b") - col("t_a")).as("dt_us"))
      .orderBy("id_a", "id_b")
  }

  /** Count-Min sketch beside exact counts: the md5-bucketed custom
    * aggregate makes even hash collisions engine-replayable, so the
    * ESTIMATES (not just bounds) are oracle-checked. est ≥ exact
    * always; equal when the key's row buckets are collision-free. */
  def sketchCms: Q = (s, d) => {
    import graft.functions.CountMinFunctions._
    val ev = Tables.events(s, d)
    val sketch = ev.agg(countMin(col("event_type"), 4, 256).as("sk"))
    val keys = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact"))
    keys.crossJoin(broadcast(sketch))
      .select(col("event_type"),
        countMinEstimate(col("sk"), col("event_type"), 4, 256).as("est"),
        col("exact"))
      .orderBy("event_type")
  }

  /** Sketch-based equi-join SIZE estimation (the AMS/CMS inner-product
    * estimator): |A ⋈ B| on a key is upper-bounded by
    * min over sketch rows r of Σ_b cmsA[r][b]·cmsB[r][b] — colliding
    * keys only ADD cross products, and the min over independent rows
    * tightens the bound. This is the planning primitive that prices a
    * join WITHOUT scanning either side twice: at 100 TB each side's
    * sketch is one pass (already maintained by the ingest monitors),
    * the estimate is a 4×256 dot product on the driver, and the
    * decision it feeds — shuffle strategy, broadcast eligibility, skew
    * pre-salting — is exactly what `q34_table_stats`' ANALYZE covers
    * for static tables but can't for a live stream. Both sketches and
    * the exact control replay in DuckDB (same md5 bucket family as
    * `sketch_cms`), so estimate AND ground truth are hash-checked. */
  def joinSizeEstimate: Q = (s, d) => {
    import graft.functions.CountMinFunctions._
    val depth = 4; val width = 4096
    val ev = Tables.events(s, d)
      .select(col("user_id").cast("string").as("k"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").cast("string").as("k"))
    val sk = ev.agg(countMin(col("k"), depth, width).as("ska"))
      .crossJoin(cust.agg(countMin(col("k"), depth, width).as("skb")))
    val est = sk.select(least((0 until depth).map { r =>
      aggregate(
        zip_with(element_at(col("ska"), r + 1),
          element_at(col("skb"), r + 1), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
    }: _*).as("est_rows"))
    val exact = ev.join(cust, Seq("k"))
      .agg(count(lit(1)).as("exact_rows"))
    est.crossJoin(exact)
  }

  /** Per-user ordered event SEQUENCES, truncated to the last 50 events
    * — the behavioral-sequence construction step of a training
    * pipeline (a sequence model consumes each entity's recent history
    * as one ordered example; the cap is the model's context window).
    * One shuffle on user_id; the within-group sort is bounded by user
    * activity, and `array_sort` over (ts, event_id, type) structs
    * keeps tie order deterministic on both engines. The sequence is
    * emitted as a joined STRING (the tokenized form a trainer would
    * hash/embed), which also keeps the cross-engine compare exact. */
  def userSequences: Q = (s, d) => {
    val sorted = array_sort(collect_list(
      struct(col("ts"), col("event_id"), col("event_type"))))
    val lastK = when(size(sorted) <= 50, sorted)
      .otherwise(slice(sorted, -50, 50))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        concat_ws(">", transform(lastK, x => x.getField("event_type")))
          .as("seq"))
      .select(col("user_id"), col("n_events"),
        least(col("n_events"), lit(50L)).as("n_kept"), col("seq"))
  }

  /** Streaming CMS join-size monitor — the sketch×streaming matrix
    * entry for [[joinSizeEstimate]]: the event side's Count-Min sketch
    * is MAINTAINED BY THE STREAM (complete-mode aggregation — partial
    * sketch buffers merge across micro-batches through the state store
    * exactly as across partitions), then priced post-drain against the
    * static dimension's sketch. The always-on shape: a live join-size
    * estimate for planning, refreshed every micro-batch, one 4×4096
    * register array of state. Cell merge is exact, so the drained
    * sketch ≡ the batch sketch bit for bit and the lane shares the
    * batch estimator's oracle. */
  def streamJoinSize: Q = (s, d) => {
    import graft.functions.CountMinFunctions._
    val depth = 4; val width = 4096
    val agg = EventsStream.eventsRawStream(s, d)
      .select(col("user_id").cast("string").as("k"))
      .agg(countMin(col("k"), depth, width).as("ska"))
    val monitor = StreamDrain.toMemory(agg, "complete", "events_cms_monitor")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").cast("string").as("k"))
    val sk = monitor
      .crossJoin(cust.agg(countMin(col("k"), depth, width).as("skb")))
    val est = sk.select(least((0 until depth).map { r =>
      aggregate(
        zip_with(element_at(col("ska"), r + 1),
          element_at(col("skb"), r + 1), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
    }: _*).as("est_rows"))
    val exact = Tables.events(s, d)
      .select(col("user_id").cast("string").as("k"))
      .join(cust, Seq("k"))
      .agg(count(lit(1)).as("exact_rows"))
    est.crossJoin(exact)
  }

  /** Ordered funnel: users who VIEWed, then CLICKed after their first
    * view, then PURCHASEd after that click — the product-analytics
    * staple. Min-time chaining (first qualifying timestamp per stage)
    * keeps every step an aggregate + equi-join on user_id: three
    * narrow user-keyed shuffles, no per-user event sorting, no
    * sequence materialization — at 100 TB each stage moves one row per
    * user, not one per event. Timestamps compare at microsecond
    * precision (the engine's native resolution). */
  def funnelSteps: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("step"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), col("n_users")))
  }

  /** WINDOWED funnel — the ClickHouse `windowFunnel(window)(ts, …)`
    * semantics the unwindowed [[funnelSteps]] doesn't cover (reference
    * family: ClickHouse aggregate-function surface): per user, the
    * deepest step of view → click → purchase completed by the EARLIEST
    * chain, where the whole chain must fit inside 24 h of its first
    * step. Greedy earliest-chain is the deterministic, oracle-friendly
    * reading: l1 = first view; l2 = first click strictly after l1
    * within l1+24 h; l3 = first purchase strictly after l2 within
    * l1+24 h.
    *
    * Shape: ONE shuffle on user_id, then a per-user `array_sort` +
    * `aggregate` fold over (ts, event_id, type) structs — in-group
    * work bounded by per-user activity, the same scale envelope as
    * [[userSequences]]; no window function over the full table and no
    * repeated self-joins (the three-join formulation re-shuffles the
    * event table once PER STAGE — this folds once for any funnel
    * depth). The fold is a codegen'd higher-order function, state is
    * three longs. */
  def funnelConversion: Q = (s, d) => {
    val winUs = 24L * 3600L * 1000000L
    val ev = Tables.events(s, d).select(col("user_id"),
      struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"),
        col("event_type").as("et")).as("e"))
    val folded = ev.groupBy("user_id")
      .agg(array_sort(collect_list(col("e"))).as("seq"))
      .select(col("user_id"),
        aggregate(col("seq"),
          struct(lit(-1L).as("l1"), lit(-1L).as("l2"), lit(-1L).as("l3")),
          (st, e) => {
            val t = e("t")
            when(st("l1") === -1L && e("et") === "view",
              struct(t.as("l1"), st("l2").as("l2"), st("l3").as("l3")))
              .when(st("l1") =!= -1L && st("l2") === -1L &&
                e("et") === "click" && t > st("l1") &&
                t <= st("l1") + winUs,
                struct(st("l1").as("l1"), t.as("l2"), st("l3").as("l3")))
              .when(st("l2") =!= -1L && st("l3") === -1L &&
                e("et") === "purchase" && t > st("l2") &&
                t <= st("l1") + winUs,
                struct(st("l1").as("l1"), st("l2").as("l2"), t.as("l3")))
              .otherwise(st)
          }).as("st"))
    folded.select(col("user_id"),
      when(col("st.l3") =!= -1L, 3)
        .when(col("st.l2") =!= -1L, 2)
        .when(col("st.l1") =!= -1L, 1)
        .otherwise(0).as("funnel_level"))
  }

  /** Non-overlapping sequence occurrences — the ClickHouse
    * `sequenceCount('(?1).*(?2)')(ts, A, B)` analogue: per user, how
    * many times a view is EVENTUALLY followed by a purchase, matches
    * consumed greedily (a purchase closes the open view; the next
    * occurrence needs a fresh view). Greedy A…B counting collapses to
    * a declarative form — restrict to A/B events in (ts, event_id)
    * order and count the B events whose predecessor in that restricted
    * sequence is an A (run-boundary counting) — so the operator is a
    * filter + one user-keyed window lag + conditional count, and the
    * oracle replays it verbatim. Zero-match users are kept via a
    * user-keyed right join (co-partitioned with the lag's shuffle). */
  def sequenceCount: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val ab = ev.filter(col("event_type").isin("view", "purchase"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val counted = ab
      .withColumn("prev_et", lag(col("event_type"), 1).over(w))
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase" &&
        col("prev_et") === "view", 1L).otherwise(0L)).as("n_seq"))
    ev.select("user_id").distinct()
      .join(counted, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_seq"), lit(0L)).as("n_sequences"))
  }

  /** argMax / argMin — the ClickHouse aggregate pair every monitoring
    * query leans on ("which event had the peak value", "who was first
    * in"): Spark's `max_by`/`min_by` with a STRUCT ordering key so ties
    * break deterministically on both engines (bare max_by(x, value) is
    * free to pick any row attaining the max — a cross-engine hash
    * mismatch by construction). One partial+final aggregation, no
    * window, no sort — at 100 TB this is one shuffle of 5 rows per
    * partition. Oracle replays via window row_number (same composite
    * order), proving the tie-break is the semantics and not an
    * implementation accident. */
  def argMinMax: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(max(col("value")), 4).as("max_value"),
        max_by(col("event_id"),
          struct(col("value"), col("event_id"))).as("peak_event_id"),
        min_by(col("user_id"),
          struct(col("ts"), col("event_id"))).as("first_user_id"))

  /** Typed `Dataset[T]` tier ([[graft.operators.TypedOps]]): longest
    * strictly-increasing value streak per user via groupByKey +
    * mapGroups. The oracle is the declarative twin — lag-compare →
    * running run-id → per-run length → per-user max. */
  def typedStreak: Q = (s, d) =>
    graft.operators.TypedOps
      .longestIncreasingStreak(Tables.events(s, d)).toDF()

  /** Typed `Aggregator` tier ([[graft.operators.TypedOps.momentsAgg]]):
    * exact integer moments per event type → mean/variance derived in a
    * fixed floating order. */
  def typedMoments: Q = (s, d) =>
    graft.operators.TypedOps.typedMoments(Tables.events(s, d))

  val queries: Map[String, Q] = Map(
    "typed_streak" -> typedStreak,
    "typed_moments" -> typedMoments,
    "funnel_steps" -> funnelSteps,
    "funnel_conversion" -> funnelConversion,
    "stream_funnel" -> ((s, d) =>
      graft.streaming.StatefulFunnel.funnelLevels(s, d)),
    "stream_funnel_ooo" -> ((s, d) =>
      graft.streaming.StatefulFunnel.funnelLevelsOutOfOrder(s, d)),
    "sequence_count" -> sequenceCount,
    "argminmax" -> argMinMax,
    "stream_hourly_stats" -> streamHourlyStats,
    "stream_restart_recovery" -> ((s, d) =>
      graft.streaming.RestartRecovery.hourlyStatsWithRestart(s, d)._2),
    "stream_late_quarantine" -> ((s, d) =>
      graft.streaming.LateDataGate.quarantineCounts(s, d)),
    "stream_observe_quality" -> ((s, d) =>
      EventsStream.streamingObservedQuality(s, d)),
    "sliding_window_stats" -> slidingWindowStats,
    "stream_sliding_stats" -> streamSlidingStats,
    "anomaly_zscore" -> anomalyZscore,
    "range_rewrite" -> rangeRewritePairs,
    "sketch_cms" -> sketchCms,
    "join_size_estimate" -> joinSizeEstimate,
    "stream_join_size" -> streamJoinSize,
    "user_sequences" -> userSequences,
    "stream_pit_enrich" ->
      ((s, d) => EventsStream.streamingPitEnrich(s, d)),
    "sessionize" -> sessionize,
    "session_window_agg" -> sessionWindowAgg,
    "stream_session_window" ->
      ((s, d) => EventsStream.streamingSessionWindows(s, d)),
    "asof_join" -> eventsAsOfOrders,
    "asof_join_native" -> eventsAsOfOrdersNative,
    "asof_join_native_fwd" -> eventsAsOfNextOrderNative,
    "asof_join_fwd" -> eventsAsOfNextOrder,
    "asof_join_tol" -> eventsAsOfOrdersTol,
    "range_join" -> rangeJoinPairs,
    "stream_dedup" -> ((s, d) => EventsStream.streamingDedupCounts(s, d)),
    "stream_dedup_wm" ->
      ((s, d) => EventsStream.streamingDedupBoundedCounts(s, d)),
    "stream_interval_join" ->
      ((s, d) => EventsStream.viewPurchaseJoinCounts(s, d)),
    "stream_interval_join_lo" ->
      ((s, d) => EventsStream.viewPurchaseLeftOuterCounts(s, d)),
    "stream_tws_totals" ->
      ((s, d) => graft.streaming.StatefulCounters.runningTotals(s, d)),
    "stream_timer_sessions" ->
      ((s, d) => graft.streaming.StatefulSessionizer.sessions(s, d)),
    "stream_heavy_hitters" ->
      ((s, d) => EventsStream.streamingHeavyHitters(s, d)),
    "stream_export_manifest" ->
      ((s, d) => EventsStream.streamingExportManifest(s, d)),
    "stream_enrich" ->
      ((s, d) => EventsStream.streamStaticEnrichedCounts(s, d)),
    "stream_upsert" ->
      ((s, d) => EventsStream.streamingUpsertLatest(s, d)),
    "stream_upsert_eqdel" ->
      ((s, d) => EventsStream.streamingUpsertEqDelta(s, d)),
    "resample_ffill" -> eventsResampleFfill,
    "resample_interp" -> eventsResampleInterp,
    "cohort_retention" -> cohortRetention,
    "hll_distinct" -> hllDistinct,
    "hll_union" -> hllUnion,
    "stream_windowed_hll" -> ((s, d) =>
      graft.streaming.EventsStream.streamingWindowedHll(s, d)),
    "stream_hll" ->
      ((s, d) => EventsStream.streamingHllDistinct(s, d)),
    "stream_quantile_hist" ->
      ((s, d) => EventsStream.streamingQuantileHist(s, d)),
    "stream_typed_moments" ->
      ((s, d) => EventsStream.streamingTypedMoments(s, d)),
  )

  /** Watermark-closed session set (lag/cumsum replay + the
    * end ≤ max(ts) cut) — shared by the native session_window stream
    * lane and the transformWithState timer sessionizer, which must be
    * value-identical by construction. */
  private val sessionWindowCutSql: String =
    """WITH o AS (SELECT user_id, ts, value, event_id,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |   THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | s AS (SELECT user_id, ts, value,
      |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o),
      | g AS (SELECT user_id, min(ts)::TIMESTAMP AS session_start,
      |  (max(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS session_end,
      |  count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
      |    AS sum_value
      | FROM s GROUP BY user_id, sid)
      |SELECT * FROM g
      |WHERE session_end <= (SELECT max(ts)::TIMESTAMP FROM events)"""
      .stripMargin

  /** Sliding-window expansion replay: each event joined to its 6
    * hour-aligned window starts (hour floor minus k hours, k = 0..5 —
    * exactly the epoch-aligned starts s with s ≤ ts < s + 6h that
    * Spark's window(ts, '6 hours', '1 hour') assigns). Shared by the
    * batch lane and its drained streaming twin. */
  private val slidingWindowSql: String =
    """SELECT (date_trunc('hour', ts) - k.k * INTERVAL 1 HOUR)::TIMESTAMP
      |   AS win_start,
      | event_type, count(*) AS cnt,
      | round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
      |   AS sum_value
      |FROM events CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5)) k(k)
      |GROUP BY 1, 2""".stripMargin

  /** CMS inner-product join-size replay (both sides' cells, the
    * min-over-rows product, and the exact control) — shared by the
    * batch estimator and the streaming sketch monitor, whose drained
    * registers are cell-identical by exact merge. */
  private val cmsJoinSizeSql: String =
    """WITH r AS (SELECT unnest(generate_series(0, 3)) AS rw),
        | ea AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
        | ca AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        | ab AS (SELECT r.rw,
        |   CAST(concat('0x', substring(md5(concat(k, ':',
        |     CAST(r.rw AS VARCHAR))), 1, 8)) AS BIGINT) % 4096 AS b,
        |   count(*) AS c
        |  FROM ea CROSS JOIN r GROUP BY 1, 2),
        | bb AS (SELECT r.rw,
        |   CAST(concat('0x', substring(md5(concat(k, ':',
        |     CAST(r.rw AS VARCHAR))), 1, 8)) AS BIGINT) % 4096 AS b,
        |   count(*) AS c
        |  FROM ca CROSS JOIN r GROUP BY 1, 2),
        | ip AS (SELECT ab.rw, sum(ab.c * bb.c) AS p
        |  FROM ab JOIN bb ON ab.rw = bb.rw AND ab.b = bb.b GROUP BY 1),
        | est AS (SELECT min(p) AS e FROM ip),
        | ex AS (SELECT count(*) AS x FROM ea JOIN ca ON ea.k = ca.k)
        |SELECT CAST(est.e AS BIGINT) AS est_rows,
        | CAST(ex.x AS BIGINT) AS exact_rows
        |FROM est, ex""".stripMargin

  // windowed funnel: greedy earliest-chain replay — first view, first
  // qualifying click, first qualifying purchase, all inside first
  // view + 24 h; strict > at each hop, µs arithmetic on both engines.
  // Shared by the batch lane and the drained stateful-stream twin
  // (prefix-stable greedy chain over chronological replay).
  private val funnelOracleSql: String =
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |l1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |l2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN l1 ON e.user_id = l1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > l1.t1
        |    AND epoch_us(e.ts) <= l1.t1 + 86400000000 GROUP BY 1),
        |l3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN l2 ON e.user_id = l2.user_id
        |  JOIN l1 ON e.user_id = l1.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > l2.t2
        |    AND epoch_us(e.ts) <= l1.t1 + 86400000000 GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN l3.t3 IS NOT NULL THEN 3
        |       WHEN l2.t2 IS NOT NULL THEN 2
        |       WHEN l1.t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level
        |FROM u LEFT JOIN l1 ON u.user_id = l1.user_id
        |  LEFT JOIN l2 ON u.user_id = l2.user_id
        |  LEFT JOIN l3 ON u.user_id = l3.user_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "funnel_conversion" -> funnelOracleSql,
    "stream_funnel" -> funnelOracleSql,
    "stream_funnel_ooo" -> funnelOracleSql,
    // argMax/argMin with composite tie-break replayed as window
    // row_number over the same (value, event_id) / (ts, event_id) order
    "argminmax" ->
      """WITH pk AS (SELECT event_type, event_id, row_number() OVER (
        |    PARTITION BY event_type
        |    ORDER BY value DESC, event_id DESC) AS rn FROM events),
        |fu AS (SELECT event_type, user_id, row_number() OVER (
        |    PARTITION BY event_type
        |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn FROM events)
        |SELECT e.event_type, count(*) AS n_events,
        |  round(max(e.value), 4) AS max_value,
        |  min(pk.event_id) AS peak_event_id,
        |  min(fu.user_id) AS first_user_id
        |FROM events e
        |JOIN pk ON pk.event_type = e.event_type AND pk.rn = 1
        |JOIN fu ON fu.event_type = e.event_type AND fu.rn = 1
        |GROUP BY 1""".stripMargin,
    // greedy non-overlapping view…purchase count = run-boundary count
    // over the A/B-restricted per-user sequence; zero users kept
    "sequence_count" ->
      """WITH ab AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_et
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |c AS (SELECT user_id, sum(CASE WHEN event_type = 'purchase'
        |    AND prev_et = 'view' THEN 1 ELSE 0 END) AS n_seq
        |  FROM ab GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(COALESCE(c.n_seq, 0) AS BIGINT) AS n_sequences
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN c ON u.user_id = c.user_id""".stripMargin,
    // the mapGroups streak fold's declarative twin: a new run starts
    // wherever value fails to increase; run lengths per (user, run_id),
    // then the per-user max (event order = (µs time, event id), same
    // as the typed fold's in-group sort)
    // streaming typed moments = batch typed moments (integer moment
    // sums are micro-batch-cut invariant); same replay
    "stream_typed_moments" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
        | FROM events GROUP BY 1)
        |SELECT event_type, n AS n_events,
        | round((CAST(s1 AS DOUBLE) / n) / 100.0, 6) AS mean_value,
        | round((CAST(s2 AS DOUBLE) / n
        |   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |   / 10000.0, 6) AS var_value
        |FROM m""".stripMargin,
    // the typed Aggregator's integer moments replayed exactly; the two
    // trailing float divisions run in the same fixed order
    "typed_moments" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
        | FROM events GROUP BY 1)
        |SELECT event_type, n AS n_events,
        | round((CAST(s1 AS DOUBLE) / n) / 100.0, 6) AS mean_value,
        | round((CAST(s2 AS DOUBLE) / n
        |   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |   / 10000.0, 6) AS var_value
        |FROM m""".stripMargin,
    "typed_streak" ->
      """WITH m AS (SELECT user_id, ts, event_id,
        |  CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END AS brk
        | FROM events
        | WINDOW w AS (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id)),
        | r AS (SELECT user_id, SUM(brk) OVER
        |   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM m),
        | runs AS (SELECT user_id, run_id, count(*) AS len
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_events,
        | MAX(len) AS longest_streak
        |FROM runs GROUP BY user_id""".stripMargin,
    // the foreachBatch upsert's final snapshot = the batch argmax
    // (per-key latest by (time, id) — ns timestamps compare at the
    // engine's µs precision, event_id breaks the remaining ties)
    "stream_upsert" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        | FROM events)
        |SELECT user_id, event_id AS last_event_id,
        | event_type AS last_type, round(value, 4) AS last_value
        |FROM r WHERE rk = 1""".stripMargin,
    // equality-delete upsert: the LAST batch (chunk) containing a key
    // wins, argmax (ts, event_id) within the batch — arrival order is
    // chunk order (deterministic mtime+path sort, see the lane)
    "stream_upsert_eqdel" ->
      """WITH e AS (SELECT *, event_id % 4 AS chunk FROM events),
        | r AS (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY chunk DESC, epoch_us(ts) DESC, event_id DESC) AS rk
        | FROM e)
        |SELECT user_id, event_id AS last_event_id,
        | event_type AS last_type, round(value, 4) AS last_value
        |FROM r WHERE rk = 1""".stripMargin,
    "funnel_steps" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |   WHERE event_type = 'view' GROUP BY 1),
        | c AS (SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > epoch_us(v.t1)
        |  GROUP BY 1),
        | p AS (SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > epoch_us(c.t2)
        |  GROUP BY 1)
        |SELECT '1_view' AS step, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin,
    // the drained file source delivers every duplicate inside the
    // watermark horizon, so bounded-state dedup equals batch DISTINCT
    "stream_dedup_wm" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin,
    "resample_ffill" ->
      """WITH b AS (SELECT date_trunc('day', min(ts)) AS mn,
        |   date_trunc('day', max(ts)) AS mx FROM events),
        | days AS (SELECT unnest(generate_series(b.mn, b.mx,
        |   INTERVAL 1 DAY)) AS day FROM b),
        | users AS (SELECT DISTINCT user_id FROM events),
        | grid AS (SELECT user_id, day FROM users CROSS JOIN days),
        | rd AS (SELECT user_id, ts, event_id, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |          ORDER BY event_id DESC) AS rn FROM events)
        |  WHERE rn = 1)
        |SELECT g.user_id, g.day, rd.event_id AS last_event_id,
        |       rd.value AS last_value
        |FROM grid g ASOF LEFT JOIN rd
        |  ON g.user_id = rd.user_id AND g.day >= rd.ts""".stripMargin,
    // streaming histogram quantile = batch histogram quantile (the
    // per-(type,bin) count merge is micro-batch-cut invariant); the
    // batch replay over events is the oracle — same stages as the
    // quantile_hist lane, $10 bins over value cents
    "stream_quantile_hist" ->
      """WITH h AS (SELECT event_type AS g,
        |   CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
        |   count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        | c AS (SELECT g, bin, cnt,
        |   sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
        |   sum(cnt) OVER (PARTITION BY g) AS n
        |  FROM h),
        | q(q_label, qn, qd) AS (SELECT * FROM (VALUES
        |   ('p50', 1, 2), ('p95', 19, 20))),
        | t AS (SELECT g, q_label, bin, cnt, cum, n,
        |   (n * qn + qd - 1) // qd AS target FROM c, q)
        |SELECT g AS event_type, q_label,
        | CAST(target AS BIGINT) AS target_rank,
        | round((CAST(bin * 1000 AS DOUBLE)
        |   + 1000.0 * (CAST(target - (cum - cnt) AS DOUBLE)
        |     / CAST(cnt AS DOUBLE)))
        |   / 100.0, 6) AS est
        |FROM t WHERE cum >= target AND cum - cnt < target""".stripMargin,
    // streaming HLL = batch HLL (element-wise-max register merge is
    // micro-batch-cut invariant); same replay minus the exact column
    "stream_hll" ->
      """WITH h AS (SELECT event_type,
        |  CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) AS hv
        | FROM events),
        | r AS (SELECT event_type, hv % 256 AS bucket,
        |   52 - length(ltrim(bin(hv // 256), '0')) + 1 AS rho FROM h),
        | regs AS (SELECT event_type, bucket, MAX(rho) AS mj
        |  FROM r GROUP BY 1, 2),
        | agg AS (SELECT event_type,
        |   CAST(SUM(CAST(pow(2.0, 53 - mj) AS BIGINT)) AS BIGINT)
        |     + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s,
        |   256 - CAST(count(*) AS BIGINT) AS v
        |  FROM regs GROUP BY 1)
        |SELECT event_type,
        | round(CASE WHEN (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0)
        |     * 256.0) * 9007199254740992.0 / CAST(s AS DOUBLE)
        |     <= 640.0 AND v > 0
        |   THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
        |   ELSE (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0)
        |     * 9007199254740992.0 / CAST(s AS DOUBLE) END, 2)
        |  AS hll_est
        |FROM agg""".stripMargin,
    // the custom HLL replayed register for register: 60-bit md5 hash,
    // bucket = hv mod 256, rho from the binary-string bitlength trick;
    // exact-integer register sum, alpha_256 correction, linear
    // counting under 2.5m — identical arithmetic to HllFunctions
    "hll_distinct" ->
      """WITH h AS (SELECT event_type,
        |  CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) AS hv
        | FROM events),
        | r AS (SELECT event_type, hv % 256 AS bucket,
        |   52 - length(ltrim(bin(hv // 256), '0')) + 1 AS rho FROM h),
        | regs AS (SELECT event_type, bucket, MAX(rho) AS mj
        |  FROM r GROUP BY 1, 2),
        | agg AS (SELECT event_type,
        |   CAST(SUM(CAST(pow(2.0, 53 - mj) AS BIGINT)) AS BIGINT)
        |     + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s,
        |   256 - CAST(count(*) AS BIGINT) AS v
        |  FROM regs GROUP BY 1),
        | ex AS (SELECT event_type,
        |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1)
        |SELECT ex.event_type, ex.n_exact,
        | round(CASE WHEN (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0)
        |     * 256.0) * 9007199254740992.0 / CAST(a.s AS DOUBLE)
        |     <= 640.0 AND a.v > 0
        |   THEN 256.0 * ln(256.0 / CAST(a.v AS DOUBLE))
        |   ELSE (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0)
        |     * 9007199254740992.0 / CAST(a.s AS DOUBLE) END, 2)
        |  AS hll_est
        |FROM ex JOIN agg a USING (event_type)""".stripMargin,
    // the windowed streaming HLL: same register replay bucketed by
    // epoch-aligned 6-hour windows (integer epoch division)
    "stream_windowed_hll" -> {
      def est(s: String, v: String) =
        s"""round(CASE WHEN (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0)
           |     * 256.0) * 9007199254740992.0 / CAST($s AS DOUBLE)
           |     <= 640.0 AND $v > 0
           |   THEN 256.0 * ln(256.0 / CAST($v AS DOUBLE))
           |   ELSE (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0)
           |     * 9007199254740992.0 / CAST($s AS DOUBLE) END, 2)"""
          .stripMargin
      s"""WITH h AS (SELECT event_type,
         |  to_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
         |    * 21600)::TIMESTAMP AS win_start,
         |  CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
         |    1, 15)) AS BIGINT) AS hv
         | FROM events),
         | r AS (SELECT event_type, win_start, hv % 256 AS bucket,
         |   52 - length(ltrim(bin(hv // 256), '0')) + 1 AS rho FROM h),
         | regs AS (SELECT event_type, win_start, bucket, MAX(rho) AS mj
         |  FROM r GROUP BY 1, 2, 3),
         | agg AS (SELECT event_type, win_start,
         |   CAST(SUM(CAST(pow(2.0, 53 - mj) AS BIGINT)) AS BIGINT)
         |     + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s,
         |   256 - CAST(count(*) AS BIGINT) AS v
         |  FROM regs GROUP BY 1, 2)
         |SELECT win_start, event_type, ${est("s", "v")} AS hll_est
         |FROM agg""".stripMargin
    },
    // per-type registers + element-wise-max union registers, both
    // estimated with the same replayed formula — sketch mergeability
    "hll_union" -> {
      def est(s: String, v: String) =
        s"""round(CASE WHEN (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0)
           |     * 256.0) * 9007199254740992.0 / CAST($s AS DOUBLE)
           |     <= 640.0 AND $v > 0
           |   THEN 256.0 * ln(256.0 / CAST($v AS DOUBLE))
           |   ELSE (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0)
           |     * 9007199254740992.0 / CAST($s AS DOUBLE) END, 2)"""
          .stripMargin
      s"""WITH h AS (SELECT event_type,
         |  CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
         |    1, 15)) AS BIGINT) AS hv
         | FROM events),
         | r AS (SELECT event_type, hv % 256 AS bucket,
         |   52 - length(ltrim(bin(hv // 256), '0')) + 1 AS rho FROM h),
         | regs AS (SELECT event_type, bucket, MAX(rho) AS mj
         |  FROM r GROUP BY 1, 2),
         | agg AS (SELECT event_type,
         |   CAST(SUM(CAST(pow(2.0, 53 - mj) AS BIGINT)) AS BIGINT)
         |     + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s,
         |   256 - CAST(count(*) AS BIGINT) AS v
         |  FROM regs GROUP BY 1),
         | ex AS (SELECT event_type,
         |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1),
         | uregs AS (SELECT bucket, MAX(mj) AS mj FROM regs GROUP BY 1),
         | uagg AS (SELECT
         |   CAST(SUM(CAST(pow(2.0, 53 - mj) AS BIGINT)) AS BIGINT)
         |     + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s,
         |   256 - CAST(count(*) AS BIGINT) AS v
         |  FROM uregs),
         | uex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
         |   AS n_exact FROM events)
         |SELECT ex.event_type, ex.n_exact,
         | ${est("a.s", "a.v")} AS hll_est
         |FROM ex JOIN agg a USING (event_type)
         |UNION ALL
         |SELECT '__all' AS event_type, uex.n_exact,
         | ${est("uagg.s", "uagg.v")} AS hll_est
         |FROM uex CROSS JOIN uagg""".stripMargin
    },
    // two native ASOF joins (backward + forward) and the same
    // fixed-order lerp; endpoint policy back-fill/forward-fill/null
    "resample_interp" ->
      """WITH b AS (SELECT date_trunc('day', min(ts)) AS mn,
        |   date_trunc('day', max(ts)) AS mx FROM events),
        | days AS (SELECT unnest(generate_series(b.mn, b.mx,
        |   INTERVAL 1 DAY)) AS day FROM b),
        | users AS (SELECT DISTINCT user_id FROM events),
        | grid AS (SELECT user_id, day FROM users CROSS JOIN days),
        | rd AS (SELECT user_id, ts, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |          ORDER BY event_id DESC) AS rn FROM events)
        |  WHERE rn = 1),
        | p AS (SELECT g.user_id, g.day, rd.ts AS p_ts, rd.value AS p_val
        |  FROM grid g ASOF LEFT JOIN rd
        |    ON g.user_id = rd.user_id AND g.day >= rd.ts),
        | n AS (SELECT g.user_id, g.day, rd.ts AS n_ts, rd.value AS n_val
        |  FROM grid g ASOF LEFT JOIN rd
        |    ON g.user_id = rd.user_id AND g.day <= rd.ts)
        |SELECT p.user_id, p.day, round(CASE
        |   WHEN p_ts IS NULL AND n_ts IS NULL THEN NULL
        |   WHEN p_ts IS NULL THEN n_val
        |   WHEN n_ts IS NULL THEN p_val
        |   WHEN epoch_us(n_ts) = epoch_us(p_ts) THEN p_val
        |   ELSE p_val + (n_val - p_val) *
        |     (CAST(epoch_us(p.day) - epoch_us(p_ts) AS DOUBLE) /
        |      CAST(epoch_us(n_ts) - epoch_us(p_ts) AS DOUBLE))
        |  END, 4) AS value_interp
        |FROM p JOIN n ON p.user_id = n.user_id AND p.day = n.day""".stripMargin,
    // cohort = first-event week per user; a user contributes once per
    // active week offset; offsets are whole weeks by construction
    "cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |   date_trunc('week', min(ts) OVER (PARTITION BY user_id))
        |     AS cohort_week,
        |   date_trunc('week', ts) AS wk
        |  FROM events),
        | o AS (SELECT DISTINCT user_id, cohort_week,
        |   date_diff('day', CAST(cohort_week AS DATE), CAST(wk AS DATE))
        |     // 7 AS week_offset
        |  FROM w)
        |SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT)
        |   AS n_users
        |FROM o GROUP BY 1, 2""".stripMargin,
    // shard/order keys are pure row functions, so the drained stream's
    // complete-mode manifest equals the batch manifest exactly
    "stream_export_manifest" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
        |    '\S+')) AS BIGINT) AS tok,
        |  md5(concat(CAST(doc_id AS VARCHAR), 'export')) AS ord
        | FROM documents)
        |SELECT CAST(concat('0x', substring(ord, 1, 8)) AS BIGINT) % 8
        |   AS shard,
        | count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
        | min(ord) AS first_key, max(ord) AS last_key
        |FROM d GROUP BY 1""".stripMargin,
    // capacity (200) far exceeds key cardinality (~50), so the
    // Misra-Gries sketch is exact and equals the batch GROUP BY
    "stream_heavy_hitters" ->
      """SELECT concat(event_type, ':', CAST(user_id % 10 AS VARCHAR))
        |  AS key, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,
    // the drained two-sided stream joins exactly the pairs the batch
    // self-join produces; timestamps compare at microsecond precision
    "stream_interval_join" ->
      """SELECT v.user_id AS user_id, count(*) AS n_pairs
        |FROM events v JOIN events p
        | ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
        |GROUP BY 1""".stripMargin,
    // matched pairs = the batch interval join; unmatched views emit
    // null-extended iff the final watermark — min(max view ts, max
    // purchase ts), zero delay — passed their 30-min window close
    "stream_interval_join_lo" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |   WHERE event_type = 'view'),
        | p AS (SELECT event_id, user_id, ts FROM events
        |   WHERE event_type = 'purchase'),
        | w AS (SELECT least((SELECT max(ts) FROM v),
        |   (SELECT max(ts) FROM p)) AS wm),
        | m AS (SELECT v.user_id, v.event_id AS v_id
        |  FROM v JOIN p ON v.user_id = p.user_id
        |   AND epoch_us(p.ts) >= epoch_us(v.ts)
        |   AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000),
        | unm AS (SELECT v.user_id FROM v, w
        |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.v_id = v.event_id)
        |   AND epoch_us(v.ts) + 1800000000 < epoch_us(w.wm)),
        | a AS (SELECT user_id, count(*) AS n_pairs FROM m GROUP BY 1),
        | b AS (SELECT user_id, count(*) AS n_expired FROM unm GROUP BY 1)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        | coalesce(a.n_pairs, 0) AS n_pairs,
        | coalesce(b.n_expired, 0) AS n_expired
        |FROM a FULL JOIN b ON a.user_id = b.user_id""".stripMargin,
    // the drained running totals equal the batch GROUP BY: snapshots
    // are monotone (value >= 0), so per-key max is the final state
    "stream_tws_totals" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events GROUP BY 1""".stripMargin,
    // both sides' CMS buckets replayed cell-for-cell; the estimate is
    // the min-over-rows inner product, the control the exact join count
    "join_size_estimate" -> cmsJoinSizeSql,
    // the drained complete-mode stream sketch merges cell-exactly, so
    // the streaming monitor shares the batch estimator's oracle
    "stream_join_size" -> cmsJoinSizeSql,
    // the SCD2 interval replay joined by date containment — each
    // event matches at most one regime (intervals tile; zero-length
    // intervals contain no date); 'NONE' = before first interval
    "stream_pit_enrich" ->
      """WITH seqd AS (SELECT o_custkey, o_orderkey,
        |   CAST(o_orderdate AS DATE) AS odate, o_orderpriority AS prio,
        |   CASE WHEN lag(o_orderpriority) OVER w IS NULL
        |     OR lag(o_orderpriority) OVER w <> o_orderpriority
        |     THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey)),
        | runs AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |   ORDER BY odate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM seqd),
        | iv AS (SELECT o_custkey AS custkey, run_id, prio,
        |   min(odate) AS valid_from
        |  FROM runs GROUP BY 1, 2, 3),
        | iv2 AS (SELECT custkey, prio, valid_from,
        |   coalesce(lead(valid_from) OVER (PARTITION BY custkey
        |     ORDER BY run_id), DATE '9999-12-31') AS valid_to
        |  FROM iv),
        | e AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events)
        |SELECT coalesce(iv2.prio, 'NONE') AS regime,
        | count(*) AS n_events,
        | round(CAST(sum(CAST(e.value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM e LEFT JOIN iv2 ON e.user_id = iv2.custkey
        | AND iv2.valid_from <= e.d AND e.d < iv2.valid_to
        |GROUP BY 1""".stripMargin,
    // deterministic tie order (ts, event_id) on both engines; the
    // last-50 cap is the trainer's context window
    "user_sequences" ->
      """WITH r AS (SELECT user_id, event_type, ts, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rk
        | FROM events),
        | t AS (SELECT user_id, count(*) AS n_events FROM events
        |  GROUP BY 1)
        |SELECT t.user_id, t.n_events,
        | CAST(count(*) AS BIGINT) AS n_kept,
        | string_agg(r.event_type, '>' ORDER BY r.ts, r.event_id)
        |   AS seq
        |FROM r JOIN t ON r.user_id = t.user_id
        |WHERE r.rk <= 50
        |GROUP BY t.user_id, t.n_events""".stripMargin,
    // the sketch's md5 bucketing is replayed cell-for-cell: per-key row
    // buckets, cell counts summed over colliding keys, est = min cell
    "sketch_cms" ->
      """WITH ev AS (SELECT event_type, count(*) AS cnt
        |  FROM events GROUP BY 1),
        | r AS (SELECT unnest(generate_series(0, 3)) AS rw),
        | kb AS (SELECT ev.event_type, ev.cnt, r.rw,
        |   CAST(concat('0x', substring(md5(concat(ev.event_type, ':',
        |     CAST(r.rw AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM ev CROSS JOIN r),
        | cellcnt AS (SELECT rw, b, CAST(sum(cnt) AS BIGINT) AS cell
        |  FROM kb GROUP BY 1, 2),
        | est AS (SELECT kb.event_type, min(cellcnt.cell) AS est
        |  FROM kb JOIN cellcnt USING (rw, b) GROUP BY 1)
        |SELECT ev.event_type, est.est, ev.cnt AS exact
        |FROM ev JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // the drained stream-static join equals the batch join+aggregate
    "stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
        | count(*) AS n_events,
        | round(CAST(sum(CAST(e.value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "range_rewrite" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b,
        | epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        | ON a.event_id < b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
        |ORDER BY id_a, id_b""".stripMargin,
    "range_join" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b,
        | epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
        |ORDER BY id_a, id_b""".stripMargin,
    // identical semantics to asof_join_fwd — native merge exec path
    "asof_join_native_fwd" ->
      """WITH rd AS (
        | SELECT o_custkey, o_orderdate, o_orderkey
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey,
        |         o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1)
        |SELECT e.event_id, e.user_id, rd.o_orderkey AS next_order_id
        |FROM events e ASOF LEFT JOIN rd
        |  ON e.user_id = rd.o_custkey AND e.ts <= rd.o_orderdate""".stripMargin,
    // identical semantics to asof_join — two implementations, one oracle
    "asof_join_native" ->
      """WITH rd AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey,
        |         o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1)
        |SELECT e.event_id, e.user_id, rd.o_orderkey AS order_id,
        |       rd.o_totalprice AS order_price
        |FROM events e ASOF LEFT JOIN rd
        |  ON e.user_id = rd.o_custkey AND e.ts >= rd.o_orderdate""".stripMargin,
    "asof_join" ->
      """WITH rd AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey,
        |         o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1)
        |SELECT e.event_id, e.user_id, rd.o_orderkey AS order_id,
        |       rd.o_totalprice AS order_price
        |FROM events e ASOF LEFT JOIN rd
        |  ON e.user_id = rd.o_custkey AND e.ts >= rd.o_orderdate""".stripMargin,
    "asof_join_tol" ->
      """WITH rd AS (
        | SELECT o_custkey, o_orderdate, o_orderkey
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey,
        |         o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        | CASE WHEN epoch_us(e.ts) - epoch_us(rd.o_orderdate)
        |        <= 2592000000000 THEN rd.o_orderkey END AS order_id
        |FROM events e ASOF LEFT JOIN rd
        |  ON e.user_id = rd.o_custkey AND e.ts >= rd.o_orderdate""".stripMargin,
    "asof_join_fwd" ->
      """WITH rd AS (
        | SELECT o_custkey, o_orderdate, o_orderkey
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey,
        |         o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1)
        |SELECT e.event_id, e.user_id, rd.o_orderkey AS next_order_id
        |FROM events e ASOF LEFT JOIN rd
        |  ON e.user_id = rd.o_custkey AND e.ts <= rd.o_orderdate""".stripMargin,
    "stream_hourly_stats" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start,
        | event_type, count(*) AS cnt,
        | round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // streaming observe totals are additive exact integers — batch
    // replay is a plain aggregate whatever the micro-batch cuts were
    "stream_observe_quality" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_null_value,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents
        |FROM events""".stripMargin,
    // late-quarantine replay: per-(type, chunk) maxima give the
    // gate's pre-batch high-water marks; a row is late iff more than
    // 1h behind the mark committed by earlier chunks of its key
    "stream_late_quarantine" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
        |  event_id % 4 AS chunk FROM events),
        | km AS (SELECT event_type, chunk, max(ts_ms) AS mx
        |  FROM e GROUP BY 1, 2),
        | pm AS (SELECT k.event_type, k.chunk, max(p.mx) AS prev_mx
        |  FROM km k LEFT JOIN km p
        |   ON p.event_type = k.event_type AND p.chunk < k.chunk
        |  GROUP BY 1, 2)
        |SELECT e.event_type,
        | CAST(sum(CASE WHEN pm.prev_mx IS NOT NULL
        |   AND e.ts_ms < pm.prev_mx - 3600000 THEN 0 ELSE 1 END)
        |   AS BIGINT) AS n_ontime,
        | CAST(sum(CASE WHEN pm.prev_mx IS NOT NULL
        |   AND e.ts_ms < pm.prev_mx - 3600000 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_late
        |FROM e JOIN pm ON e.event_type = pm.event_type
        |  AND e.chunk = pm.chunk
        |GROUP BY 1""".stripMargin,
    // restart-recovery replay: two query incarnations over one
    // checkpoint must still equal the one-shot batch aggregation
    "stream_restart_recovery" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start,
        | event_type, count(*) AS cnt,
        | round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event replayed into its 6 hour-aligned sliding windows —
    // the batch expansion of Spark's window(ts, '6 hours', '1 hour')
    "sliding_window_stats" -> slidingWindowSql,
    "stream_sliding_stats" -> slidingWindowSql,
    "anomaly_zscore" ->
      """WITH hourly AS (
        | SELECT event_type,
        |  epoch_us(date_trunc('hour', ts)) // 1000000 AS h_epoch,
        |  count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        | rolled AS (
        | SELECT event_type, h_epoch, cnt,
        |  count(*) OVER w AS n_prior,
        |  sum(cnt) OVER w AS s1,
        |  sum(cnt * cnt) OVER w AS s2
        | FROM hourly
        | WINDOW w AS (PARTITION BY event_type ORDER BY h_epoch
        |   RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
        |SELECT event_type, to_timestamp(h_epoch)::TIMESTAMP AS hour_start,
        | cnt, n_prior,
        | CASE WHEN n_prior * s2 - s1 * s1 > 0 THEN
        |   round(CAST(n_prior * cnt - s1 AS DOUBLE)
        |     / sqrt(CAST(n_prior * s2 - s1 * s1 AS DOUBLE)), 4)
        | END AS z_score,
        | (n_prior * cnt - s1 > 0 AND
        |  (n_prior * cnt - s1) * (n_prior * cnt - s1)
        |    > 9 * (n_prior * s2 - s1 * s1)) AS is_spike
        |FROM rolled WHERE n_prior >= 12""".stripMargin,
    // the append-mode stream emits exactly the sessions the zero-delay
    // watermark closed: session_end <= global max event time
    "stream_session_window" -> sessionWindowCutSql,
    // identical semantics via transformWithState event-time timers —
    // two implementations, one oracle (the asof_join precedent)
    "stream_timer_sessions" -> sessionWindowCutSql,
    "session_window_agg" ->
      """WITH o AS (SELECT user_id, ts, value, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |   THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts)::TIMESTAMP AS session_start,
        | (max(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS session_end,
        | count(*) AS n_events,
        | round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "sessionize" ->
      """WITH marked AS (
        | SELECT user_id, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY ts ASC, event_id ASC) IS NULL THEN 1
        |   WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY ts ASC, event_id ASC)) > 1800000000 THEN 1
        |   ELSE 0 END AS new_session
        | FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        | count(*) AS n_events,
        | round(CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4)
        |   AS total_value
        |FROM marked GROUP BY 1""".stripMargin,
  )
}
