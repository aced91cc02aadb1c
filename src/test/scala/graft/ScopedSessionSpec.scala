package graft

import graft.etl.SnapshotStore
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, Executors, TimeUnit}

/** `GraftPlanBridge.withSessionConf` reuses one scoped session per
  * (session, override set): a repeated write runs under the same
  * session and so on the same executor classloader, whose generated
  * code is already compiled; a conf change on the session reaches the
  * next write through a new scoped session, not by mutating the one a
  * frame may still be running on. */
class ScopedSessionSpec extends SparkSpec {
  import spark.implicits._

  private val Micros =
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_scoped_$name").toString

  private def rows(n: Int, month: String): DataFrame =
    (1 to n).map(i => (i.toLong, month,
      java.sql.Timestamp.valueOf(s"$month-05 00:00:00"), i * 1.5))
      .toDF("id", "m", "ts", "price")

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getName).filter(_.endsWith(".parquet"))
  }

  test("frames with the same overrides run under one scoped session") {
    val a = GraftPlanBridge.withSessionConf(spark.range(3).toDF(), Micros)
    val b = GraftPlanBridge.withSessionConf(spark.range(5).toDF(), Micros)
    assert(a.sparkSession eq b.sparkSession)
    assert(a.sparkSession ne spark)
    assert(a.sparkSession.conf.get(Micros._1) === "TIMESTAMP_MICROS")
    assert(spark.conf.get(Micros._1) !== "TIMESTAMP_MICROS",
      "the override must not reach the session itself")
    val other = GraftPlanBridge.withSessionConf(spark.range(3).toDF(),
      "spark.sql.adaptive.enabled" -> "false")
    assert(other.sparkSession ne a.sparkSession)
    assert(a.count() === 3L && b.count() === 5L)
  }

  test("a second identical snapshot write compiles no code") {
    val df = rows(200, "2024-01").union(rows(100, "2024-02"))
    SnapshotStore.write(df, tmp("codegen1") + "/t", "m", "ts")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SnapshotStore.write(df, tmp("codegen2") + "/t", "m", "ts")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }

  test("a conf change on the session reaches the next write") {
    val key = "spark.sql.parquet.compression.codec"
    val df = rows(50, "2024-03")
    val first = GraftPlanBridge.withSessionConf(df, Micros)
    val d1 = tmp("codec1") + "/out"
    first.write.parquet(d1)
    spark.conf.set(key, "gzip")
    try {
      val second = GraftPlanBridge.withSessionConf(df, Micros)
      val d2 = tmp("codec2") + "/out"
      second.write.parquet(d2)
      assert(parquetFiles(d1).nonEmpty &&
        parquetFiles(d1).forall(_.endsWith(".snappy.parquet")))
      assert(parquetFiles(d2).nonEmpty &&
        parquetFiles(d2).forall(_.endsWith(".gz.parquet")))
      assert(second.sparkSession ne first.sparkSession)
      assert(first.sparkSession.conf.get(key) !== "gzip",
        "the scoped session a frame was bound to must not change")
      assert(second.sparkSession.conf.get(Micros._1) === "TIMESTAMP_MICROS")
    } finally spark.conf.unset(key)
  }

  test("two threads write through the shared scoped session at once") {
    val inputs = Seq(rows(400, "2024-04"), rows(300, "2024-05"))
    val frames = inputs.map(GraftPlanBridge.withSessionConf(_, Micros))
    assert(frames(0).sparkSession eq frames(1).sparkSession)
    val dirs = inputs.indices.map(i => tmp(s"threads$i") + "/out")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val done = frames.zip(dirs).map { case (f, d) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = f.write.partitionBy("m").parquet(d)
        })
      }
      done.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    inputs.zip(dirs).foreach { case (in, d) =>
      val back = spark.read.parquet(d)
      assert(back.select("id", "m", "ts", "price").as[(Long, String,
        java.sql.Timestamp, Double)].collect().sortBy(_._1).toSeq ===
        in.as[(Long, String, java.sql.Timestamp, Double)].collect().toSeq)
    }
  }

  test("the memo does not keep a dropped session alive") {
    def useAndDrop(): java.lang.ref.WeakReference[AnyRef] = {
      val dropped = spark.newSession()
      assert(GraftPlanBridge.withSessionConf(dropped.range(4).toDF(),
        Micros).agg(sum("id")).head().getLong(0) === 6L)
      new java.lang.ref.WeakReference(dropped)
    }
    val ref = useAndDrop()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(ref.get == null, "the dropped session is still reachable")
  }
}
