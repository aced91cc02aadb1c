package graft.operators

import graft.SparkSpec
import graft.etl.SnapshotStore
import org.apache.spark.sql.functions._

/** Job budgets of the row-level commits on a month-partitioned table
  * that already carries deletion vectors. Every DML commit evaluates
  * its discovery once and pins it, so routing, landing tokens, DV
  * positions, post-images and CDC rows come from one scan instead of
  * one re-scan (and one DV broadcast) per consumer. Each statement is
  * also checked against a fresh read and its commit's CDC rows. */
class DmlJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val months = Seq("2024-01", "2024-02", "2024-03")

  /** 100 rows per month: ids 1-100 in 2024-01, 101-200 in 2024-02, … */
  private def seedRows = (1 to 300).map { i =>
    val m = months((i - 1) / 100)
    (i.toLong, m, java.sql.Timestamp.valueOf(
      f"$m-${(i - 1) % 28 + 1}%02d 00:00:00"), i * 1.0)
  }

  /** The table as (id → (month, price)). */
  private def state(root: String): Map[Long, (String, Double)] =
    SnapshotStore.read(spark, root).select("id", "m", "price").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  /** The CDC rows of the commits after `seq0` as (id, price, type). */
  private def cdcSince(root: String, seq0: Long): Set[(Long, Double, String)] =
    SnapshotStore.changeFeed(spark, root, seq0,
        SnapshotStore.currentSeq(root))
      .select("id", "price", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet

  test("DV-route UPDATE and DELETE and a partition-moving MERGE stay " +
      "within their job budgets, with exact results and CDC rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_dml_jobs")
      .resolve("t").toString
    SnapshotStore.write(seedRows.toDF("id", "m", "ts", "price"), root,
      "m", "ts")
    // 2 rows per month: every entry takes (and then carries) a vector
    RowLevelOps.deleteRowsCommit(spark, root, col("id") % 50 === 7,
      "m", "ts")
    val m0 = SnapshotStore.current(root).get
    assert(m0.entries.size === 3 && m0.entries.forall(_.dv.isDefined))
    spark.conf.set("spark.sql.catalog.dmljobs",
      classOf[graft.sources.GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dmljobs.warehouse",
      new java.io.File(root).getParent)
    var model = seedRows.filterNot(_._1 % 50 == 7)
      .map(r => r._1 -> (r._2, r._4)).toMap
    assert(state(root) === model)

    // UPDATE, 4 rows per month: a DV route on every entry.
    // When discovery ran once per consumer (87dd3aa) it took 15 jobs.
    var seq0 = SnapshotStore.currentSeq(root)
    val (_, updJobs) = jobsDuring(spark.sql(
      "UPDATE dmljobs.t SET price = price + 0.5 WHERE id % 25 = 3"))
    val updated = model.filter(_._1 % 25 == 3)
    // each vector grew by 4; the post-images are 3 additive parts
    val m1 = SnapshotStore.current(root).get
    assert(m1.entries.flatMap(_.dv).map(_.rows) === Seq(6L, 6L, 6L))
    assert(m1.entries.size === 6)
    assert(cdcSince(root, seq0) === updated.toSeq.flatMap {
      case (id, (_, p)) => Seq((id, p, "update_preimage"),
        (id, p + 0.5, "update_postimage"))
    }.toSet)
    model = model.map { case (id, (mo, p)) =>
      id -> (mo, if (id % 25 == 3) p + 0.5 else p) }
    assert(state(root) === model)

    // DELETE, 4 rows per month: a DV route on every entry, so no data
    // is restated. When discovery ran once per consumer (87dd3aa) it
    // took 10 jobs.
    seq0 = SnapshotStore.currentSeq(root)
    val (_, delJobs) = jobsDuring(spark.sql(
      "DELETE FROM dmljobs.t WHERE id % 25 = 11"))
    val id2 = SnapshotStore.current(root).get.id
    assert(!new java.io.File(s"$root/data/snap-$id2").list()
      .exists(_.startsWith("__part=")), "a DV-only DELETE restates nothing")
    assert(cdcSince(root, seq0) === model.filter(_._1 % 25 == 11).map {
      case (id, (_, p)) => (id, p, "delete") }.toSet)
    model = model.filterNot(_._1 % 25 == 11)
    assert(state(root) === model)

    // MERGE: UPDATE SET * assigns the partition column, and row 19
    // moves from 2024-01 to 2024-03; INSERT * adds 5 rows to 2024-02.
    // When discovery ran once per consumer (87dd3aa) it took 23 jobs.
    val src = model.filter(_._1 % 25 == 19).toSeq.map { case (id, (mo, p)) =>
      val to = if (id == 19L) "2024-03" else mo
      (id, to, java.sql.Timestamp.valueOf(s"$to-09 00:00:00"), p + 10.0)
    } ++ (1001L to 1005L).map(id => (id, "2024-02",
      java.sql.Timestamp.valueOf("2024-02-10 00:00:00"), id * 1.0))
    src.toDF("id", "m", "ts", "price").createOrReplaceTempView("dml_jobs_src")
    seq0 = SnapshotStore.currentSeq(root)
    val (_, mergeJobs) = jobsDuring(spark.sql(
      """MERGE INTO dmljobs.t AS t USING dml_jobs_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(cdcSince(root, seq0) === src.flatMap { case (id, mo, _, p) =>
      model.get(id) match {
        case Some((_, old)) => Seq((id, old, "update_preimage"),
          (id, p, "update_postimage"))
        case None => Seq((id, p, "insert"))
      }
    }.toSet)
    model = model ++ src.map { case (id, mo, _, p) => id -> (mo, p) }
    assert(state(root) === model)
    assert(state(root)(19L) === ("2024-03", 29.0))

    info(s"jobs: UPDATE $updJobs, DELETE $delJobs, MERGE $mergeJobs")
    // bounds: one pinned discovery runs UPDATE in 8 jobs, DELETE in 6
    // and MERGE in 13; one job of slack each
    assert(updJobs <= 9, s"DV-route UPDATE ran $updJobs jobs")
    assert(delJobs <= 7, s"DV-route DELETE ran $delJobs jobs")
    assert(mergeJobs <= 14, s"partition-moving MERGE ran $mergeJobs jobs")
  }
}
