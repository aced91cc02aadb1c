package graft.operators

import graft.SparkSpec
import graft.etl.SnapshotStore
import org.apache.spark.sql.functions._

/** Every row-level commit releases what it pins — the MERGE source,
  * the shared MERGE join and the UPDATE/DELETE discovery — whether the
  * commit returns or throws: the context's persistent-RDD registry is
  * the same after each statement as before it. */
class DmlPinReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def registry: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(ids: Seq[Long], month: String, price: Double = 1.0) =
    ids.map(i => (i, month,
      java.sql.Timestamp.valueOf(s"$month-05 00:00:00"), price * i))

  test("updateCommit, deleteRowsCommit, mergeCommit and SQL MERGE INTO " +
      "leave the persistent-RDD registry as they found it") {
    val root = java.nio.file.Files.createTempDirectory("graft_dml_pins")
      .resolve("t").toString
    SnapshotStore.write((rows(1L to 100L, "2024-01") ++
      rows(101L to 200L, "2024-02")).toDF("id", "m", "ts", "price"),
      root, "m", "ts")
    spark.conf.set("spark.sql.catalog.dmlpins",
      classOf[graft.sources.GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dmlpins.warehouse",
      new java.io.File(root).getParent)
    val before = registry
    def assertReleased(what: String): Unit =
      assert(registry === before, s"$what left RDDs pinned")

    // small fraction: the DV route
    RowLevelOps.updateCommit(spark, root, col("id") % 20 === 3,
      Seq("price" -> (col("price") + 1.0)), "m", "ts")
    assertReleased("updateCommit (DV route)")
    // every row of 2024-01: the copy-on-write route
    RowLevelOps.updateCommit(spark, root, col("m") === "2024-01",
      Seq("price" -> (col("price") * 2.0)), "m", "ts")
    assertReleased("updateCommit (COW route)")
    RowLevelOps.deleteRowsCommit(spark, root, col("id") % 20 === 4,
      "m", "ts")
    assertReleased("deleteRowsCommit")

    val changes = (rows(Seq(5L, 150L), "2024-02", 3.0) ++
      rows(Seq(300L), "2024-03"))
      .toDF("id", "m", "ts", "price").withColumn("_del", lit(false))
    MergeInto.mergeCommit(spark, root, changes, "id", "_del", "m", "ts")
    assertReleased("mergeCommit")

    rows(Seq(6L, 301L), "2024-03").toDF("id", "m", "ts", "price")
      .createOrReplaceTempView("dml_pins_src")
    spark.sql("""MERGE INTO dmlpins.t AS t USING dml_pins_src AS s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assertReleased("SQL MERGE INTO")
    assert(SnapshotStore.read(spark, root).filter(col("id") === 6L)
      .select("m").as[String].collect().toSeq === Seq("2024-03"))

    // commits refused after their pins were taken: a NULL partition
    // value is rejected when the restated data is written
    val nullMonth = Seq((400L, null: String,
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
      .toDF("id", "m", "ts", "price")
    intercept[Exception](MergeInto.mergeCommit(spark, root,
      nullMonth.withColumn("_del", lit(false)), "id", "_del", "m", "ts"))
    assertReleased("a refused mergeCommit")
    nullMonth.createOrReplaceTempView("dml_pins_null_src")
    intercept[Exception](spark.sql(
      """MERGE INTO dmlpins.t AS t USING dml_pins_null_src AS s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assertReleased("a refused SQL MERGE INTO")
    intercept[Exception](RowLevelOps.updateCommit(spark, root,
      col("id") === 7L, Seq("m" -> lit(null).cast("string")), "m", "ts"))
    assertReleased("a refused updateCommit")
  }
}
