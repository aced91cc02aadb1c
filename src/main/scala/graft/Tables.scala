package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Design-for-scale notes (100 TB target):
  *   - Every table opens through [[graft.util.ParquetOpen.read]]: the
  *     schema comes from the file's footer, read on the driver, so an
  *     open launches no Spark job (plain `spark.read.parquet` runs a
  *     one-task schema-inference job per open; SURVEY.md §1.2; the
  *     reference declares all schemas, README.md:448-506).
  *   - Column pruning + predicate pushdown are preserved by returning the
  *     raw scan and letting callers select/filter declaratively.
  *   - `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
  *     vectorized reader does not model natively; we normalize it to
  *     microsecond TimestampType once, here, so every downstream operator
  *     sees a standard column.
  */
object Tables {

  /** Narrow-scan remedy (optimization guide §2.5 family): the driver
    * testdata ships every table as ONE SMALL parquet file, so the scan
    * plans a single task and every expensive per-row stage above it
    * (tokenize, explode, trig, signature hashing) runs on one core of
    * the machine. SCALE-ADAPTIVE by construction, not a local[n]
    * constant: the shuffle engages only when the scan PLANS materially
    * fewer partitions than the session's parallelism — a production
    * many-file/many-split scan passes through untouched.
    *
    * Scope caveat (r14 ADVICE): the planned-partition probe covers
    * SMALL or FEW-SPLIT scans only. A huge single-ROW-GROUP production
    * file is byte-range-split into many planned partitions (all but
    * one empty — parquet cannot split inside a row group), so this
    * guard sees "enough partitions" and disengages; that pathology
    * needs row-group-aware splitting or a rewrite of the file, not a
    * post-read shuffle decided here.
    *
    * Usage guard: `df.rdd.getNumPartitions` PLANS the frame — cheap
    * for a bare scan (file listing only), but applied above a complex
    * lineage it would silently plan the query twice. Keep call sites
    * on raw table reads. */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame =
    if (df.rdd.getNumPartitions * 2 <
        df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(key)
    else df
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS) — illegal for Spark's reader
      // unless read as Long (then converted to micros by normalizeEventTs).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val df = graft.util.ParquetOpen.read(spark, s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Epoch-scale disambiguation for a LongType event-time column. A
    * bare INT64 `ts` reaches Spark as LongType in two ways — parquet
    * TIMESTAMP(NANOS) under `nanosAsLong`, or a plain INT64 with no
    * logical type at all, whose unit (s / ms / µs / ns) only the
    * magnitude reveals. The r5 driver data shipped one of these shapes
    * mis-assumed as nanos and silently collapsed every event into a few
    * near-epoch hours (stream lanes red with rows 10/0/150 vs oracle).
    * Per-row CASE on |ts| — codegen'd, no probe job, correct for any
    * epoch between 1985 and ~2100 at each scale:
    *   |ts| ≥ 5e17 → nanoseconds;  ≥ 5e14 → microseconds;
    *   ≥ 5e11 → milliseconds;  else seconds. */
  def epochLongToMicros(c: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{catalystExpression, column}
    // exact integer division (a double `/` loses precision above 2^53,
    // which 1.7e18 nanos exceeds)
    val nsToUs = column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        catalystExpression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(1000L)))
    when(abs(c) >= lit(500000000000000000L), nsToUs)
      .when(abs(c) >= lit(500000000000000L), c)
      .when(abs(c) >= lit(500000000000L), c * lit(1000L))
      .otherwise(c * lit(1000000L))
  }

  /** The driver generator has shipped `events.ts` under several parquet
    * encodings across rounds; normalize all of them to session-TZ micros
    * TimestampType so every downstream operator sees one column type:
    *   - INT64 TIMESTAMP(NANOS) → LongType under `nanosAsLong` (nanos
    *     since epoch) — or a bare INT64 of any epoch unit — converted
    *     to micros here via [[epochLongToMicros]];
    *   - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZ,
    *     cast (UTC session timezone, so the instant is unchanged);
    *   - INT64 TIMESTAMP(MICROS, UTC) → already TimestampType;
    *   - INT32 → epoch seconds (the only epoch unit 32 bits can carry);
    *   - DOUBLE → fractional epoch seconds (µs-rounded);
    *   - STRING → ISO-8601, parsed with optional fractional seconds.
    * The last three have not shipped yet — they are the remaining
    * encodings a generator plausibly flips to (the r5 flip cost 11 red
    * lanes; insurance here is one pattern-match arm each, pinned by
    * TablesTsEncodingSpec). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(epochLongToMicros(col("ts"))))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.IntegerType =>
        df.withColumn("ts",
          timestamp_seconds(col("ts").cast("long")))
      case org.apache.spark.sql.types.DoubleType =>
        df.withColumn("ts",
          timestamp_micros(round(col("ts") * 1000000.0).cast("long")))
      case org.apache.spark.sql.types.StringType =>
        df.withColumn("ts", to_timestamp(col("ts")))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
