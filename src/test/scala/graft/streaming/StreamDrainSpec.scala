package graft.streaming

import java.util.concurrent.{Callable, ConcurrentHashMap,
  ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-query confs reach their query and never the session: two
  * RocksDB lanes started at the same moment answer as they do one after
  * the other and leave the session's provider as it was, and the
  * overrides show up in each query's own progress. */
class StreamDrainSpec extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("two RocksDB lanes started together answer as run one after the " +
      "other, and the session's state store provider is left as it was") {
    val before = spark.conf.getOption(providerKey)
    val seqTotals = rows(StatefulCounters.runningTotals(
      spark, sf(), queryName = "drain_seq_tws"))
    val seqSessions = rows(StatefulSessionizer.sessions(
      spark, sf(), queryName = "drain_seq_sess"))
    assert(seqTotals.nonEmpty && seqSessions.nonEmpty)

    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def onGo(f: => Set[Row]) = pool.submit(new Callable[Set[Row]] {
      def call(): Set[Row] = { go.await(); f }
    })
    try {
      val totals = onGo(rows(StatefulCounters.runningTotals(
        spark, sf(), queryName = "drain_par_tws")))
      val sessions = onGo(rows(StatefulSessionizer.sessions(
        spark, sf(), queryName = "drain_par_sess")))
      go.countDown()
      assert(totals.get(10, TimeUnit.MINUTES) === seqTotals)
      assert(sessions.get(10, TimeUnit.MINUTES) === seqSessions)
    } finally pool.shutdownNow()
    assert(spark.conf.getOption(providerKey) === before)
  }

  /** Runs `f` with a listener that records every progress report and
    * the session's `shuffle.partitions` at each one; returns the
    * reports of the query named `name` once it has terminated. */
  private def progressOf(name: String)(f: => Unit)
      : (Seq[StreamingQueryProgress], Seq[String]) = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val sessionParts = new ConcurrentLinkedQueue[String]()
    val ids = new ConcurrentHashMap[java.util.UUID, String]()
    val ended = new ConcurrentHashMap[java.util.UUID, Unit]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == name) ids.put(e.id, name)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) {
          progress.add(e.progress)
          sessionParts.add(spark.conf.get("spark.sql.shuffle.partitions"))
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.put(e.id, ())
    }
    spark.streams.addListener(listener)
    try {
      f
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!(ids.size == 1 && ids.keySet.asScala.forall(ended.containsKey))
          && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ids.size === 1, s"query $name did not run exactly once")
      assert(ended.containsKey(ids.keys.nextElement()),
        s"no termination event for $name")
    } finally spark.streams.removeListener(listener)
    (progress.asScala.toSeq, sessionParts.asScala.toSeq)
  }

  test("hourlyStats' state runs on 8 shuffle partitions while the " +
      "session keeps its own value") {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    assert(sessionParts !== "8", "the session must differ from the override")
    val (progress, seen) = progressOf("drain_hourly") {
      EventsStream.hourlyStats(spark, sf(), "drain_hourly").collect()
    }
    val ops = progress.flatMap(_.stateOperators)
    assert(ops.nonEmpty)
    assert(ops.map(_.numShufflePartitions).toSet === Set(8L))
    assert(seen.nonEmpty && seen.forall(_ == sessionParts))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === sessionParts)
  }

  test("a transformWithState lane's state runs on RocksDB while the " +
      "session keeps its own provider") {
    val before = spark.conf.getOption(providerKey)
    val (progress, _) = progressOf("drain_tws_rocks") {
      StatefulCounters.runningTotals(spark, sf(),
        queryName = "drain_tws_rocks").collect()
    }
    val metrics = progress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet.asScala)
    assert(metrics.exists(_.startsWith("rocksdb")), metrics.distinct)
    assert(spark.conf.getOption(providerKey) === before)
  }
}
