package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Shared local SparkSession for suites (one per suite, lazy), built
  * by [[graft.GraftSession]] exactly like the production Verify/Bench
  * sessions — the MERGE INTO statement rewrite and the SQL function
  * registrations are part of the engine's session contract, so specs
  * must run under them. (Extensions apply at CREATION; every suite
  * shares one builder, so the first suite in the JVM fixes them for
  * all.) Fixed at `local[4]` whatever the host, so plan shapes the
  * specs assert do not depend on the core count. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started while `f` runs. Listener events arrive
    * asynchronously, so a fence job after `f` closes the count: once the
    * listener has seen the fence start, it has seen every job `f`
    * started. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val fence = s"graft-spec-job-fence-${java.util.UUID.randomUUID()}"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      var jobs = 0
      var seen = started.poll(60, TimeUnit.SECONDS)
      while (seen != fence) {
        assert(seen != null, "fence job never reached the listener")
        jobs += 1
        seen = started.poll(60, TimeUnit.SECONDS)
      }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `f` against a FRESH session built with [[graft.GraftExtensions]]
    * (getOrCreate would return a shared extension-less session), then
    * restore the previous default/active sessions so extension state
    * never leaks into later suites in the same JVM. The new session is
    * deliberately not stopped — that would kill the shared
    * SparkContext. */
  def withExtensionSession(f: SparkSession => Unit): Unit = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = GraftSession.local(4)
    try f(s2)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
