package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. `kind` names what it was
  * (a load, a query kind, a commit kind, a lane); `ok` is false when it
  * threw. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** What a workload hands back after its loop: checks for the Python side
  * to verify, per-layer figures (traced runs only) and free-form info. */
final case class Outcome(checks: Map[String, Any], layers: Map[String, Double],
    info: Map[String, Any])

trait Workload {
  /** One set-up repetition: build the state the loop needs from nothing
    * under a fresh directory. Called `setupReps` times; the loop uses the
    * state of the last call. */
  def prepare(rep: Int): Unit
  /** Untimed operations that let JIT and caches settle before timing. */
  def warmup(): Unit
  /** One closed-loop iteration; returns the operations it timed. */
  def step(i: Int): Seq[Op]
  /** Called once after the loop (untimed). */
  def finish(ops: Seq[Op], measureSpan: Int): Outcome
}

/** Shared state for a workload: session, tracer, the seeded input
  * directory, the scratch root the benchmark owns, and the seeded plan. */
final class Ctx(val spark: SparkSession, val trace: Tracer, val in: String,
    val work: String, val plan: Map[String, Any]) {

  /** A new empty directory under the scratch root. */
  def fresh(name: String): String = {
    val d = new File(work, name)
    graft.util.Fs.deleteRecursively(d)
    d.mkdirs()
    d.getPath
  }

  def strs(key: String): Seq[String] =
    plan(key).asInstanceOf[Seq[Any]].map(_.toString)
}

/** Benchmark driver: one JVM, one closed-loop client thread.
  *
  * {{{
  * perfbench.Main <workload> <inputDir> <scratchDir> <plan.json>
  *   <seconds> <trace 0|1> <setupReps> <result.json>
  * perfbench.Main train <scratchDir> (<workload> <inputDir> <plan.json>)...
  * }}}
  *
  * Creates the session, runs `setupReps` set-ups, a warm-up, then whole
  * iterations of the workload back to back for about `seconds`, and
  * writes the raw timings, the outputs to check and (traced) the
  * per-layer figures as JSON. perfbench/run.py turns that into metrics. */
object Main {

  private def readPlan(path: String): Map[String, Any] =
    toScala(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(path), classOf[java.util.Map[String, Object]]))
      .asInstanceOf[Map[String, Any]]

  private def session(work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "taxi_olap" => new TaxiOlap(ctx)
    case "snapshot_dml" => new SnapshotDml(ctx)
    case "dataprep_ops" => new DataprepOps(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  /** `train <scratchDir> (<workload> <inputDir> <plan.json>)...`: one
    * set-up and the warm-up of each workload in one JVM, so that a class
    * archive dumped at its exit holds the classes every workload loads. */
  private def train(work: String, rest: Seq[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cpus)
    val trace = new Tracer(spark, on = false)
    rest.grouped(3).foreach { case Seq(name, in, plan) =>
      val wl = workload(name,
        new Ctx(spark, trace, in, s"$work/$name", readPlan(plan)))
      wl.prepare(0)
      wl.warmup()
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit =
    if (args.head == "train") train(args(1), args.drop(2).toSeq)
    else measure(args)

  private def measure(args: Array[String]): Unit = {
    val Array(name, in, work, planPath, secondsArg, traceArg, repsArg,
      outPath) = args
    val seconds = secondsArg.toDouble
    val cpus = Runtime.getRuntime.availableProcessors()
    val plan = readPlan(planPath)

    val t0 = System.nanoTime()
    val spark = session(work, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Tracer(spark, traceArg == "1")
    val wl = workload(name, new Ctx(spark, trace, in, work, plan))

    val errors = mutable.ArrayBuffer[String]()
    val setupS = (0 until repsArg.toInt).map { r =>
      val t = System.nanoTime()
      trace.span("setup")(wl.prepare(r))
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9

    // Between iterations, untimed: a full collection, then the heap it
    // leaves is the program's live set at that point.
    def liveHeapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    liveHeapMb() // start the loop from a collected heap
    val ops = mutable.ArrayBuffer[Op]()
    val iterationS = mutable.ArrayBuffer[Double]()
    var peakHeapMb = 0.0
    val tm = System.nanoTime()
    def elapsed = (System.nanoTime() - tm) / 1e9
    var i = 0
    // Whole iterations for about `seconds`: another one starts only if it
    // is expected to end less than half an iteration past the limit.
    def another = i == 0 ||
      elapsed + 0.5 * iterationS.sum / iterationS.size < seconds
    trace.span("measure") {
      while (another && errors.isEmpty) {
        val ti = System.nanoTime()
        try ops ++= trace.span("iteration")(wl.step(i))
        catch {
          case e: Throwable =>
            errors += s"step $i: ${e.getClass.getName}: ${e.getMessage}"
            ops += Op("error", 0.0, ok = false)
        }
        iterationS += (System.nanoTime() - ti) / 1e9
        peakHeapMb = math.max(peakHeapMb, liveHeapMb())
        i += 1
      }
    }
    val wallS = elapsed

    val outcome =
      try wl.finish(ops.toSeq, trace.lastId("measure"))
      catch {
        case e: Throwable =>
          errors += s"finish: ${e.getClass.getName}: ${e.getMessage}"
          Outcome(Map.empty, Map.empty, Map.empty)
      }
    trace.close()
    val spark0 = sparkLayer(trace, i, iterationS.sum, cpus)
    val result = Map[String, Any](
      "workload" -> name,
      "cpus" -> cpus,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "wall_s" -> wallS,
      "iteration_s" -> iterationS.toSeq,
      "peak_heap_mb" -> peakHeapMb,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok)),
      "errors" -> errors.toSeq,
      "checks" -> outcome.checks,
      "layers" -> (if (trace.on) outcome.layers ++ spark0 else Map.empty),
      "info" -> outcome.info)
    Files.writeString(Paths.get(outPath), Json(result))
    spark.stop()
  }

  /** `spark.*` figures over the measured iterations, per iteration where
    * a sum. */
  private def sparkLayer(trace: Tracer, iterations: Int, wallS: Double,
      cpus: Int): Map[String, Double] =
    if (!trace.on) Map.empty
    else {
      val span = trace.named("measure").last
      val iters = trace.namedIn("iteration", span.id)
      val st = trace.stagesOf(span.id)
      val n = math.max(iterations, 1).toDouble
      val cpuMs = st.map(_.cpuNs).sum / 1e6
      val skew = st.filter(_.taskMs.size >= 2).map { r =>
        val med = Tracer.median(r.taskMs.map(_.toDouble).toSeq)
        r.taskMs.max / math.max(med, 1.0)
      }
      Map(
        "spark.task_cpu_ms" -> cpuMs / n,
        "spark.gc_ms" -> st.map(_.gcMs).sum / n,
        "spark.spill_bytes" -> st.map(_.spill).sum / n,
        "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "spark.cpu_util" -> cpuMs / (wallS * 1000.0 * cpus),
        "spark.driver_gap_ms" -> iters.map(trace.driverGapMs).sum / n)
    }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case x => x
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
