package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local dev only): either a comma-separated
    // query-name filter, or "shard=i/n" — run every i-th lane of the
    // sorted registry. tools/verify_sharded.sh launches n isolated
    // JVMs (own tmpdir + warehouse) so the full gate runs in parallel
    // wall time; the driver's plain 2-arg invocation is unchanged.
    val shardSpec = args.lift(2).filter(_.startsWith("shard="))
      .map { s =>
        val Array(i, n) = s.stripPrefix("shard=").split("/").map(_.toInt)
        require(n > 0 && i >= 0 && i < n, s"bad shard spec $s"); (i, n)
      }
    val only: Option[Set[String]] =
      if (args.length > 2 && shardSpec.isEmpty) Some(args(2).split(",").toSet)
      else None
    val errFileName = shardSpec match {
      case Some((i, n)) => s"verify_errors_shard_${i}_of_$n.json"
      case None => "verify_errors.json"
    }
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    // Sequential on purpose: a 4-way worker pool was measured SLOWER
    // (2m45s serial → 5m39s, 23 min of sys time) — concurrent heavy jobs
    // on a local[N] master thrash the scheduler/GC instead of
    // overlapping usefully. One query at a time keeps each job's
    // parallelism = the executor threads.
    // A lane that throws must stay VISIBLE: it is skipped from the
    // parquet dump (so the driver's compare just omits it), which is
    // exactly how a round-5 testdata re-encoding silently dropped 8
    // green lanes. Collect failures and dump them as an artifact.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .filter { case (_, idx) =>
        shardSpec.forall { case (i, n) => idx % n == i } }
      .map(_._1)
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/$errFileName"), errJson)
    // rc stays 0 — the 159 dumped lanes must still reach the driver's
    // compare; the artifact + stderr line carry the failure signal.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} lane(s) FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
