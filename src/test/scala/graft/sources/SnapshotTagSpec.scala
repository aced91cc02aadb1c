package graft.sources

import graft.SparkSpec
import graft.etl.SnapshotStore

/** Tags — immutable names for committed states, pinned through
  * retention: `CALL system.tag` / `system.untag`, resolution via
  * `VERSION AS OF '<name>'`, and the expire pin that makes a tag a
  * durable promise rather than a hint. */
class SnapshotTagSpec extends SparkSpec {

  import spark.implicits._

  private def mkRows() = Seq(
    (1L, "2024-01", 1, 10.0), (2L, "2024-01", 2, 20.0),
    (3L, "2024-02", 3, 30.0), (4L, "2024-02", 4, 40.0),
    (5L, "2024-03", 5, 50.0))
    .toDF("id", "m", "v", "price")

  private def register(cat: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftSnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  test("a tag pins its commit through expire: VERSION AS OF '<name>' " +
      "keeps resolving at keepLast=1 while untagged siblings age out; " +
      "untag releases the pin; tag misuse is loud") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_snaptag").toString
    val root = s"$wh/t"
    SnapshotStore.write(mkRows(), root, "m", "v")
    register("snaptag", wh)
    spark.sql("INSERT INTO snaptag.t VALUES (9, '2024-04', 9, 90.0)")
    spark.sql("DELETE FROM snaptag.t WHERE m = '2024-01'")
    assert(SnapshotStore.currentSeq(root) === 3L)
    // tag the original full load (seq 1, manifest id 1)
    val tid = spark.sql("CALL snaptag.system.tag('t', 'release-1', 1)")
      .head().getLong(0)
    assert(SnapshotStore.tags(root) ===
      Map("release-1" -> SnapshotStore.TagRef(1L, tid)))
    // the listing procedure is the read side of the same refs
    assert(spark.sql("CALL snaptag.system.tags('t')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("release-1", 1L, tid)))
    // tags are immutable; names and targets validate loudly
    intercept[IllegalStateException] {
      spark.sql("CALL snaptag.system.tag('t', 'release-1', 2)")
    }
    intercept[IllegalArgumentException](SnapshotStore.tag(root, "a/b", 1))
    // an all-digit name would be unreachable: VERSION AS OF '7' reads
    // as a manifest id first — rejected at creation, not silently
    // resolved to the wrong snapshot at read
    intercept[IllegalArgumentException](SnapshotStore.tag(root, "7", 1))
    intercept[IllegalStateException](SnapshotStore.tag(root, "ok", 99))
    intercept[IllegalArgumentException](SnapshotStore.tag(root, "ok", 0))
    // retention: keep only the head — but the tag pins seq 1
    SnapshotStore.expire(root, keepLast = 1)
    assert(spark.sql("SELECT count(*) FROM snaptag.t VERSION AS OF " +
      "'release-1'").head().getLong(0) === 5L,
      "the tagged state survives keepLast=1")
    assert(spark.sql(s"SELECT count(*) FROM snaptag.t VERSION AS OF $tid")
      .head().getLong(0) === 5L, "numeric id addressing also survives")
    // the UNtagged middle commit aged out normally
    intercept[Exception] {
      spark.sql("SELECT * FROM snaptag.t VERSION AS OF 2").collect()
    }
    // the tagged chain slot is pinned live (not tombstoned): the seq
    // is still addressable for streams and rollback
    assert(SnapshotStore.manifestAtSeq(root, 1L).id === tid)
    // rollback TO the tagged state works after aggressive retention
    spark.sql("CALL snaptag.system.rollback('t', 1)")
    assert(spark.sql("SELECT count(*) FROM snaptag.t")
      .head().getLong(0) === 5L)
    // untag releases the pin: the next expire frees the old state
    assert(spark.sql("CALL snaptag.system.untag('t', 'release-1')")
      .head().getLong(0) === 1L)
    assert(spark.sql("CALL snaptag.system.untag('t', 'release-1')")
      .head().getLong(0) === 0L, "double-untag reports absence")
    SnapshotStore.expire(root, keepLast = 1)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM snaptag.t VERSION AS OF " +
        "'release-1'").collect()
    }
    // the live table was never disturbed
    assert(spark.sql("SELECT count(*) FROM snaptag.t")
      .head().getLong(0) === 5L)
  }

  test("the path-based reader resolves tags too: option(\"tag\") is " +
      "the twin of VERSION AS OF '<name>'; combining it with asOf " +
      "refuses") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_snaptag_rd").toString
    val root = s"$wh/t"
    SnapshotStore.write(mkRows(), root, "m", "v")
    SnapshotStore.tag(root, "v1", 1)
    SnapshotStore.dropPartitions(root, Some(Set("2024-01")))
    assert(spark.read.format("graft-snapshot")
      .option("tag", "v1").load(root).count() === 5L,
      "the tag reads the pre-delete state")
    assert(spark.read.format("graft-snapshot").load(root).count() === 3L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("tag", "v1").option("asOf", "1").load(root).schema
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("tag", "nope").load(root).schema
    }
    // a tag-pinned load is read-only time travel: tailing it refuses
    // (no MICRO_BATCH_READ on pinned loads)
    intercept[Exception] {
      val q = spark.readStream.format("graft-snapshot")
        .option("tag", "v1").load(root)
        .writeStream.format("memory").queryName("tag_tail_refuse")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_tagtail").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
  }
}
