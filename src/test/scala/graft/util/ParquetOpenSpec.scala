package graft.util

import graft.{SparkSpec, Tables}
import graft.etl.MergeTreeWriter
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** [[ParquetOpen.read]] opens parquet paths exactly as schema-less
  * `spark.read.parquet` does (same schema, same rows) without the
  * one-task schema-inference job, and hands every case where Spark's
  * answer could differ back to Spark. */
class ParquetOpenSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `open` against schema-less `spark.read.parquet(path)`, normalized
    * the same way: equal schema (as JSON too, so field metadata counts),
    * equal rows, and no job while opening and asking for the schema. */
  private def assertSameOpen(path: String, open: => DataFrame,
      normalize: DataFrame => DataFrame = identity): Unit = {
    val expected = normalize(spark.read.parquet(path))
    val (df, jobs) = jobsDuring { val d = open; d.schema; d }
    assert(jobs == 0, s"$jobs Spark job(s) while opening $path")
    assert(df.schema == expected.schema)
    assert(df.schema.json == expected.schema.json)
    assert(rows(df) == rows(expected))
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_popen_$tag").toString

  Tables.names.foreach { name =>
    test(s"$name: Tables.load equals spark.read.parquet, with no job") {
      if (name == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assertSameOpen(s"${sf()}/$name.parquet", Tables.load(spark, sf(), name),
        if (name == "events") Tables.normalizeEventTs else identity)
    }
  }

  // 24 months: above Spark's 32-directory threshold the listing itself
  // is a parallel job, in the open's read as in Spark's own
  test("a month-partitioned MergeTree table: same schema, partition " +
      "column and rows, with no job") {
    val dir = tmpDir("mergetree")
    val trips = Tables.orders(spark, sf())
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("pickup_datetime"),
        date_format(col("o_orderdate"), "yyyy-MM").as("pickup_month"))
    MergeTreeWriter.write(trips, dir)
    assert(new java.io.File(dir).list()
      .count(_.startsWith("pickup_month=")) == 24)
    assertSameOpen(dir, MergeTreeWriter.read(spark, dir))
    assert(MergeTreeWriter.read(spark, dir).schema.last.name == "pickup_month")
    Fs.deleteRecursively(new java.io.File(dir))
  }

  test("a flat Spark-written dir with _SUCCESS and .crc files, with no job") {
    val dir = tmpDir("flat")
    Tables.customer(spark, sf()).repartition(3).write.mode("overwrite")
      .parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assertSameOpen(dir, MergeTreeWriter.read(spark, dir))
    Fs.deleteRecursively(new java.io.File(dir))
  }

  test("a missing path and an empty dir raise Spark's own AnalysisException") {
    val empty = tmpDir("empty")
    for (p <- Seq(s"$empty/missing", empty)) {
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      val ours = intercept[AnalysisException](ParquetOpen.read(spark, p))
      assert(ours.getCondition == theirs.getCondition)
      assert(ours.getMessage == theirs.getMessage)
    }
    Fs.deleteRecursively(new java.io.File(empty))
  }

  test("spark.sql.parquet.mergeSchema on returns Spark's merged schema") {
    import spark.implicits._
    val dir = tmpDir("merge")
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$dir/g1")
    Seq((2L, 2.5)).toDF("id", "y").write.parquet(s"$dir/g2")
    val paths = Seq(s"$dir/g1", s"$dir/g2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(paths: _*).schema
    assert(merged.fieldNames.toSeq == Seq("id", "x", "y"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(ParquetOpen.read(spark, paths: _*).schema == merged)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // with merging off both sides take the first data file's footer
    assert(ParquetOpen.read(spark, paths: _*).schema ==
      spark.read.parquet(paths: _*).schema)
    Fs.deleteRecursively(new java.io.File(dir))
  }

  test("a summary file, or a data column that is also a partition " +
      "column, leaves the schema to Spark") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    def lonePart(dir: String): java.nio.file.Path =
      Files.list(Paths.get(dir)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).find(_.getFileName.toString.endsWith(".parquet")).get
    val dir = tmpDir("defer")
    // `0.parquet` sorts before `_common_metadata`, whose footer Spark reads
    Seq((1L, "a")).toDF("id", "x").coalesce(1).write.parquet(s"$dir/s1")
    Seq(2L).toDF("id").coalesce(1).write.parquet(s"$dir/s2")
    Files.createDirectories(Paths.get(s"$dir/summary"))
    Files.copy(lonePart(s"$dir/s2"), Paths.get(s"$dir/summary/0.parquet"))
    Files.copy(lonePart(s"$dir/s1"),
      Paths.get(s"$dir/summary/_common_metadata"))
    // a file that carries its own partition column `k` as its first column
    Seq((1, 5L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$dir/overlap/k=1")
    for (p <- Seq(s"$dir/summary", s"$dir/overlap")) {
      val theirs = spark.read.parquet(p).schema
      assert(ParquetOpen.read(spark, p).schema == theirs, p)
    }
    assert(spark.read.parquet(s"$dir/summary").schema.fieldNames.toSeq ==
      Seq("id", "x"))
    assert(spark.read.parquet(s"$dir/overlap").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    Fs.deleteRecursively(new java.io.File(dir))
  }
}
