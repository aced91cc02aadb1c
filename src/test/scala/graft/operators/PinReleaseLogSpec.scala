package graft.operators

import graft.SparkSpec
import graft.etl.SnapshotStore
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Releasing a DML commit's pinned checkpoint logs nothing: the pins
  * are dropped, but without `RDD.unpersist`'s lineage-truncation WARN,
  * which a DML-heavy session would otherwise log once per pin. */
class PinReleaseLogSpec extends SparkSpec {
  import spark.implicits._

  /** WARN-or-worse messages logged while `f` runs, and the number of
    * RDD unpersists the context posted. */
  private def logged(f: => Unit): (Seq[String], Int) = {
    val warns = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-pin-release-spec", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val unpersists = new AtomicInteger()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        unpersists.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // the unpersist events reach the listener asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (unpersists.get == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (warns.toArray(Array.empty[String]).toSeq, unpersists.get)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  private def rows(ids: Seq[Long], month: String, price: Double = 1.0) =
    ids.map(i => (i, month,
      java.sql.Timestamp.valueOf(s"$month-05 00:00:00"), price * i))

  test("a DV-route UPDATE and a SQL MERGE release their pins without " +
      "a lineage WARN") {
    val root = java.nio.file.Files.createTempDirectory("graft_pin_log")
      .resolve("t").toString
    SnapshotStore.write((rows(1L to 100L, "2024-01") ++
      rows(101L to 200L, "2024-02")).toDF("id", "m", "ts", "price"),
      root, "m", "ts")
    spark.conf.set("spark.sql.catalog.pinlog",
      classOf[graft.sources.GraftSnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.pinlog.warehouse",
      new java.io.File(root).getParent)

    val (updateWarns, updateReleases) = logged {
      RowLevelOps.updateCommit(spark, root, col("id") % 20 === 3,
        Seq("price" -> (col("price") + 1.0)), "m", "ts")
    }
    assert(updateReleases > 0, "the UPDATE released no pin")
    assert(!updateWarns.exists(_.contains("locally checkpointed")),
      updateWarns.mkString("\n"))

    rows(Seq(6L, 301L), "2024-03").toDF("id", "m", "ts", "price")
      .createOrReplaceTempView("pin_log_src")
    val (mergeWarns, mergeReleases) = logged {
      spark.sql("""MERGE INTO pinlog.t AS t USING pin_log_src AS s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(mergeReleases > 0, "the MERGE released no pin")
    assert(!mergeWarns.exists(_.contains("locally checkpointed")),
      mergeWarns.mkString("\n"))
    assert(SnapshotStore.read(spark, root).filter(col("id") === 301L)
      .count() === 1L)
    assert(SnapshotStore.read(spark, root)
      .filter(col("id") === 3L).select("price").as[Double].head() === 4.0)
  }
}
