package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark stage as the [[Tracer]]'s listener saw it. Times are epoch
  * ms; `runMs`/`gcMs` are summed over tasks, `cpuNs` likewise. */
final class StageRec(val stageId: Int, val span: Int) {
  var submitMs = 0L
  var doneMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  def ran: Boolean = submitMs > 0 && doneMs >= submitMs
}

/** A finished query execution: planning phase durations (ms, keyed by
  * `QueryPlanningTracker` phase name) and the action's execution time. */
final case class QueryRec(phases: Map[String, Long], execMs: Double)

/** A closed span: wall interval, the queries that finished inside it and
  * its parent (0 = none). */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    wallMs: Double, queries: Seq[QueryRec])

/** Spans around each call the benchmark makes into an engine layer, plus
  * the Spark-side counts those calls caused. With `on = false` nothing is
  * registered and `span` just runs its body, so untraced runs carry no
  * listener and no bus drains.
  *
  * Attribution: the open span id rides on the SparkContext local property
  * [[Tracer.SpanProp]], which every job inherits, so a stage belongs to
  * the innermost span that launched it. Query events are asynchronous; the
  * bus is drained at both span edges, so the events that arrive between
  * them belong to the span. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val jobsBySpan = mutable.HashMap[Int, Int]().withDefaultValue(0)
  private val queries = mutable.ArrayBuffer[QueryRec]()
  private val closed = mutable.ArrayBuffer[Span]()
  private val parentOf = mutable.HashMap[Int, Int]()
  private var stack: List[Int] = Nil
  private var nextId = 1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      jobsBySpan(span) += 1
      e.stageInfos.foreach(si =>
        stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, span)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stages.get(e.stageInfo.stageId).foreach(r =>
          r.submitMs = e.stageInfo.submissionTime.getOrElse(0L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach(_.taskMs += e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stages.get(si.stageId).foreach { r =>
          r.submitMs = si.submissionTime.getOrElse(r.submitMs)
          r.doneMs = si.completionTime.getOrElse(0L)
          val m = si.taskMetrics
          if (m != null) {
            r.runMs = m.executorRunTime
            r.cpuNs = m.executorCpuTime
            r.gcMs = m.jvmGCTime
            r.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
            r.shuffleRead = m.shuffleReadMetrics.totalBytesRead
            r.spill = m.memoryBytesSpilled + m.diskBytesSpilled
            r.inputBytes = m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Tracer.this.synchronized {
      queries += QueryRec(
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
        durationNs / 1e6)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def close(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  /** Run `f` inside a span named `name`; returns f's value. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      synchronized(parentOf(id) = parent)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val q0 = synchronized(queries.size)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        drain()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        synchronized {
          closed += Span(id, name, parent, startMs, wall,
            queries.slice(q0, queries.size).toSeq)
        }
      }
    }

  /** Id of the span most recently closed under `name`. */
  def lastId(name: String): Int =
    closed.reverseIterator.find(_.name == name).map(_.id).getOrElse(0)

  def spans: Seq[Span] = synchronized(closed.toSeq)

  /** Every span named `name` (completed), oldest first. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Spans named `name` nested inside span `root`. */
  def namedIn(name: String, root: Int): Seq[Span] =
    named(name).filter(s => ancestors(s.id).contains(root))

  /** Spans whose name starts with `prefix`, nested inside span `root`. */
  def prefixedIn(prefix: String, root: Int): Seq[Span] =
    spans.filter(s => s.name.startsWith(prefix) && ancestors(s.id).contains(root))

  /** `id` and every span it is nested in. */
  private def ancestors(id: Int): List[Int] = synchronized {
    Iterator.iterate(id)(parentOf.getOrElse(_, 0)).takeWhile(_ != 0).toList
  }

  /** Stages launched by span `id` or any span nested in it. */
  def stagesOf(id: Int): Seq[StageRec] = synchronized {
    val inside = mutable.HashMap[Int, Boolean]()
    def under(s: Int): Boolean =
      inside.getOrElseUpdate(s, s != 0 && ancestors(s).contains(id))
    stages.values.filter(r => r.ran && under(r.span)).toSeq
  }

  /** Jobs launched by span `id` or any span nested in it. */
  def jobsOf(id: Int): Int = synchronized {
    jobsBySpan.iterator.collect {
      case (s, n) if s != 0 && ancestors(s).contains(id) => n
    }.sum
  }

  /** Wall time of span `s` not covered by any of its stages' run
    * intervals: driver-side planning, listing, scheduling and waiting. */
  def driverGapMs(s: Span): Double = {
    val end = s.startMs + s.wallMs
    val ivs = stagesOf(s.id)
      .map(r => (math.max(r.submitMs.toDouble, s.startMs.toDouble),
        math.min(r.doneMs.toDouble, end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = -1.0
    var curB = -1.0
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallMs - covered)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
