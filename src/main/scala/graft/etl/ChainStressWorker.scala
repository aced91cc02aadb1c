package graft.etl

/** Worker process for the REAL multi-process commit stress
  * (`CrossProcessChainSpec`): a separate JVM — its own SparkSession,
  * its own file locks, nothing shared with the test JVM but the table
  * root — appending batches through the public
  * [[SnapshotStore.appendPartitions]] API with per-writer idempotence
  * tokens. The spec runs several of these concurrently and then
  * proves every batch landed exactly once and the commit chain is
  * dense: the same-host writer story (JVM monitor → FileLock → chain)
  * exercised end to end across real OS processes, not simulated by a
  * seam.
  *
  *   args: <tableRoot> <workerId> <nBatches>
  *
  * Exits nonzero on any failure so the spec sees it. */
object ChainStressWorker {
  def main(args: Array[String]): Unit = {
    val Array(root, workerId, nBatches) = args
    val spark = graft.GraftSession.local(2)
    import spark.implicits._
    try {
      for (b <- 0 until nBatches.toInt) {
        // two rows in two months per batch: every append commit
        // carries prior entries AND adds parts to both partitions
        val df = Seq(
          (s"$workerId-$b-a", "2024-01", b),
          (s"$workerId-$b-b", "2024-02", b)).toDF("k", "m", "v")
        SnapshotStore.appendPartitions(df, root, partCol = "m",
          sortCol = "v", idempotence = Some((workerId, s"b$b")))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[chain-stress $workerId] FAILED: $e")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    sys.exit(0)
  }
}
