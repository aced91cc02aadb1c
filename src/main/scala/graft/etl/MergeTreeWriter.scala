package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MergeTree-analogue analytic sink (SURVEY.md §1.4, §2.1 S4).
  *
  * Reference: `ENGINE = MergeTree(pickup_date, pickup_datetime, 8192)`
  * (README.md:548) = partition by month of pickup_date, sort by
  * pickup_datetime, sparse index each 8192 rows. Parquet equivalent:
  *   - `partitionBy(monthCol)` directories → partition pruning,
  *   - `sortWithinPartitions(sortCol)` → row-group min/max stats give
  *     the same time-range data skipping the sparse index gives,
  *   - parquet dictionary encoding ≈ Enum8 compression.
  *
  * One `repartition(monthCol)` shuffle co-locates each month before the
  * sorted write — at 100 TB that is the only data movement, and each
  * executor then streams one sorted month file. Skewed months (NYC taxi
  * volume varies ~3×) are handled by AQE rebalancing.
  */
object MergeTreeWriter {

  def write(df: DataFrame, path: String, monthCol: String = "pickup_month",
      sortCol: String = "pickup_datetime"): Unit =
    df.repartition(col(monthCol))
      // sort by (partition col, time), not time alone: a dynamic
      // partitionBy write REQUIRES ordering by the partition column and
      // inserts its own UNSTABLE month-only sort when the incoming
      // order doesn't already satisfy it — silently destroying the
      // within-month time order. With the month prefix our sort
      // satisfies the writer's requirement and survives verbatim.
      .sortWithinPartitions(col(monthCol), col(sortCol))
      .write
      .mode("overwrite")
      .partitionBy(monthCol)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    graft.util.ParquetOpen.read(spark, path)

  /** Idempotent partition backfill — the Spark analogue of the
    * standard MergeTree operational pattern for restating a month
    * (`ALTER TABLE … DROP PARTITION` + re-INSERT — ClickHouse
    * practice, an EXTENSION: the reference's own replay is re-running
    * its import loop, README.md:527-532):
    * `partitionOverwriteMode=dynamic` replaces EXACTLY the partitions
    * present in `df` and leaves every other month's files untouched —
    * no read-modify-write of the whole table, no window where other
    * months are missing. At 100 TB this is the difference between
    * rewriting one month and rewriting the archive: the job's cost is
    * proportional to the restated data only. Static overwrite mode
    * (the default) would drop ALL partitions first — the spec pins
    * that distinction as a negative control. Conf change is scoped and
    * restored so no other lane inherits it. */
  def overwritePartitions(df: DataFrame, path: String,
      monthCol: String = "pickup_month",
      sortCol: String = "pickup_datetime"): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try
      df.repartition(col(monthCol))
        .sortWithinPartitions(col(monthCol), col(sortCol))
        .write
        .mode("overwrite")
        .partitionBy(monthCol)
        .parquet(path)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Periodic compaction for append-heavy tables (the streaming ingest
    * sink accumulates one small file per drained shard per month):
    * rewrite `src` into the canonical layout at `dst` — month
    * partitions, time-sorted rows, one file per month — restoring the
    * row-group min/max data skipping appends dilute. The analogue of a
    * MergeTree background merge, run as a scheduled batch job off the
    * hot append path.
    *
    * CONTRACT: `dst` must differ from `src` — this writer compacts to
    * a NEW path (readers of `src` are untouched; the caller swaps
    * consumers over when done). Compacting in place would overwrite
    * the directory a concurrent reader is listing. Enforced, not just
    * documented. For in-place-at-the-table-root compaction with
    * snapshot isolation, use [[SnapshotStore.compact]] — its manifest
    * pointer makes the swap atomic. */
  def compact(spark: SparkSession, src: String, dst: String,
      monthCol: String = "pickup_month",
      sortCol: String = "pickup_datetime"): Unit = {
    require(new java.io.File(dst).getCanonicalPath !=
      new java.io.File(src).getCanonicalPath,
      s"compact writes to a NEW path; in-place compaction of $src " +
        "would race concurrent readers (use SnapshotStore.compact)")
    write(read(spark, src), dst, monthCol, sortCol)
  }
}
