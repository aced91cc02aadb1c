package graft

/** Local-dev plan/timing probe (not part of the library surface):
  *   sbt "runMain graft.Scratch <query>..."
  * Data dir from SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * threads from SPARK_GRAFT_CPUS — the same env contract as Bench. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args) {
      val df = SparkEntry.allQueries(name)(spark, d)
      println(s"===== $name formatted plan =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      println(f"===== $name time: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
