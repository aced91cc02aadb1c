package graft

import org.apache.spark.sql.SparkSession

/** The one place a local graft session is configured: every main
  * ([[Bench]], [[ScaleSmoke]], [[Verify]], [[Scratch]],
  * [[etl.ChainStressWorker]]) and the test trait build through
  * [[local]], so the master, the extensions and the SQL settings cannot
  * drift between the harness that times a plan and the suite that
  * asserts its shape.
  *
  * `getOrCreate` semantics: when a default session already exists the
  * builder returns it and applies only the runtime SQL settings below;
  * the master and the extensions are fixed by the first session of the
  * JVM. */
object GraftSession {

  /** Worker threads for the mains: `$SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with [[GraftExtensions]], one shuffle
    * partition per thread, AQE on, UTC session time, no UI and WARN
    * logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
