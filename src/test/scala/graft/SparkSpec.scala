package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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
