package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle control for eager `localCheckpoint` blocks.
  *
  * Iterative operators ([[graft.operators.ConnectedComponents]],
  * [[graft.operators.PageRank]]) and multi-stage scorers checkpoint to
  * cut lineage, but `localCheckpoint(true)` PINS the materialized
  * blocks in the block manager for the life of the JVM — nothing ever
  * unpersists them. In a long-lived session (a benchmark sweep, a
  * 100 TB multi-stage job) that growth is unbounded: round 4's bench
  * recorded `dedup_clusters` at 4.23 s mid-sequence vs 1.22 s in a
  * clean session purely from accumulated dead blocks. Two remedies,
  * both here:
  *
  *   - [[pin]]: checkpoint a frame AND get back a release handle, so
  *     an iterative loop can drop round N-1's blocks as soon as round
  *     N is materialized — steady-state memory becomes O(one round),
  *     not O(rounds).
  *   - [[releaseAll]]: drop every pinned block in the session — the
  *     between-measurements sweep for harnesses ([[graft.Bench]]) whose
  *     lanes rebuild their frames from source every run.
  *
  * Releasing a checkpointed frame's blocks invalidates THAT frame (its
  * plan reads the blocks directly); callers must only release frames
  * they no longer reference. Handles are identified by diffing the
  * context's persistent-RDD registry around the checkpoint call, which
  * assumes no concurrent checkpointing on the same context — true for
  * the operators here (single driver thread per job chain).
  *
  * Availability trade: a local checkpoint keeps its blocks only in the
  * executor that computed them and cuts the lineage behind them, so
  * nothing can recompute a lost block. When an executor holding pinned
  * blocks dies, every job reading that frame FAILS with a missing-block
  * error instead of recomputing; the unit of work must be rerun from
  * source. That buys lineage-free iteration with no replicated or
  * reliable-storage write. On a `local[N]` master the driver is the
  * only executor, so a lost executor is a lost JVM and the trade costs
  * nothing; on a cluster one lost executor fails the job (MERGE's
  * `graft.merge.materialize=reliable` replicates instead, see
  * [[graft.operators.MergeInto]]).
  */
object Checkpoints {

  /** Eagerly localCheckpoint `df`; returns the checkpointed frame and
    * a handle that releases its pinned blocks (idempotent). */
  def pin(df: DataFrame): (DataFrame, () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = df.localCheckpoint(true)
    val mine = (sc.getPersistentRDDs.keySet -- before).toSeq
    val handle = () => mine.foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    }
    (cp, handle)
  }

  /** Release EVERY pinned RDD block and cached plan in the session.
    * Only safe when no live DataFrame references a checkpointed plan —
    * i.e. between independent units of work that each rebuild from
    * source (benchmark runs, verify lanes). */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** [[releaseAll]] plus a driver GC nudge. Broadcast variables and
    * shuffle files are cleaned by Spark's ContextCleaner only after
    * their driver-side references are garbage-collected — in a
    * long-lived session that runs many independent jobs (a benchmark
    * sweep), dead broadcasts/shuffles otherwise pile up until an
    * organic full GC happens to fire, and late lanes inflate by
    * 20-35% (measured: pipeline_e2e 1.42 s clean vs 1.91 s after 33
    * lanes with blocks-only sweeping). Call between measured units,
    * never inside timed work. */
  def releaseAllAndGc(spark: SparkSession): Unit = {
    releaseAll(spark)
    System.gc()
  }
}
