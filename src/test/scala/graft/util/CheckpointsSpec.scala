package graft.util

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

/** Lifecycle contract of the checkpoint-release util: pin materializes
  * and registers blocks, release drops exactly them (idempotently),
  * and releaseAll leaves the session's persistent-RDD registry empty —
  * the properties the bench sweep and the iterative operators'
  * round-N−1 releases rely on. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def pinnedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("pin registers blocks; release drops exactly its own") {
    Checkpoints.releaseAll(spark)
    val before = pinnedCount
    val (a, releaseA) = Checkpoints.pin(
      (1 to 1000).toDF("x").withColumn("y", col("x") * 2))
    val (b, releaseB) = Checkpoints.pin((1 to 500).toDF("z"))
    assert(pinnedCount > before, "pin must register persistent RDDs")
    val afterBoth = pinnedCount
    // the checkpointed frames are live and correct
    assert(a.count() === 1000L && b.count() === 500L)
    releaseA()
    assert(pinnedCount < afterBoth, "releaseA must drop a's blocks")
    // b survives a's release untouched
    assert(b.count() === 500L)
    releaseA() // idempotent: second call is a no-op, not an error
    releaseB()
    assert(pinnedCount === before)
  }

  test("releaseAll empties the registry; rebuilt frames still compute") {
    val (a, _) = Checkpoints.pin((1 to 100).toDF("x"))
    assert(a.count() === 100L)
    assert(pinnedCount > 0)
    Checkpoints.releaseAll(spark)
    assert(pinnedCount === 0,
      "releaseAll must unpersist every registered RDD")
    // a lane rebuilding from source (the bench contract) is unaffected
    val (b, releaseB) = Checkpoints.pin((1 to 100).toDF("x"))
    assert(b.count() === 100L)
    releaseB()
  }

  test("iterative release pattern: dropping round N-1 keeps round N valid") {
    Checkpoints.releaseAll(spark)
    var (cur, release) = Checkpoints.pin(Seq(1L).toDF("v"))
    (1 to 5).foreach { _ =>
      val (next, releaseNext) =
        Checkpoints.pin(cur.select((col("v") * 2).as("v")))
      release()
      cur = next; release = releaseNext
    }
    assert(cur.head().getLong(0) === 32L)
    release()
    assert(pinnedCount === 0)
  }

  test("concurrent pins: each handle releases only its own blocks") {
    def registry = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = registry
    val n = 4
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { i =>
        pool.submit(new Callable[(DataFrame, () => Unit)] {
          def call(): (DataFrame, () => Unit) = {
            go.await()
            Checkpoints.pin((1 to 100 * i).toDF("x"))
          }
        })
      }
      go.countDown()
      val pins = futures.map(_.get(120, TimeUnit.SECONDS))
      assert((registry -- before).size === n, "one pinned RDD per pin")
      pins.indices.foreach { i =>
        val live = registry
        pins(i)._2()
        assert((live -- registry).size === 1,
          s"handle $i must release exactly its own RDD")
        // the frames not yet released still read their own blocks
        (i + 1 until n).foreach(j =>
          assert(pins(j)._1.count() === 100L * (j + 1)))
      }
      assert(registry === before)
    } finally pool.shutdownNow()
  }
}
