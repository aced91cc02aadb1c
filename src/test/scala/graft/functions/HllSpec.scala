package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The oracle-able HyperLogLog: custom-aggregate registers must equal
  * the declarative per-row pipeline, estimates must hit standard HLL
  * accuracy, merges must be layout-independent, and the small-range
  * linear-counting path must engage. */
class HllSpec extends SparkSpec {

  import spark.implicits._

  private val b = 8

  test("aggregate registers equal the declarative (bucket, max rho) twin") {
    val df = spark.range(5000).select(col("id").cast("string").as("k"))
    val viaAgg = df.agg(HllFunctions.hll(col("k"), b).as("regs"))
      .collect().head.getSeq[Int](0)
    val viaSql = df
      .select(HllFunctions.hllBucket(col("k"), b).as("bucket"),
        HllFunctions.hllRho(col("k"), b).as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("mj"))
      .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
    val expected = (0 until (1 << b)).map(i => viaSql.getOrElse(i, 0))
    assert(viaAgg === expected)
  }

  test("estimate within standard error (1.04/sqrt(m) ~ 6.5%) at 20k keys") {
    val n = 20000
    val df = spark.range(n).select(concat(lit("user_"), col("id")).as("k"))
      // duplicates must not move the estimate
      .union(spark.range(n / 2).select(concat(lit("user_"), col("id"))))
    val est = df.agg(HllFunctions.hllEstimate(
      HllFunctions.hll(col("k"), b), b).as("e")).collect().head.getDouble(0)
    assert(math.abs(est - n) / n < 0.15, s"estimate $est vs true $n")
  }

  test("merge is layout-independent") {
    val df = spark.range(3000).select(col("id").cast("string").as("k"))
    def regs(parts: Int) = df.repartition(parts)
      .agg(HllFunctions.hll(col("k"), b)).collect().head.getSeq[Int](0)
    assert(regs(1) === regs(17))
  }

  test("small cardinalities take the linear-counting path, near-exact") {
    val df = spark.range(40).select(col("id").cast("string").as("k"))
    val est = df.agg(HllFunctions.hllEstimate(
      HllFunctions.hll(col("k"), b), b)).collect().head.getDouble(0)
    // linear counting at n << m is typically exact to the integer
    assert(math.abs(est - 40.0) < 3.0, s"linear-counting estimate $est")
  }

  test("streaming HLL equals batch HLL (micro-batch-cut invariance)") {
    val streamed = graft.streaming.EventsStream
      .streamingHllDistinct(spark, sf(), queryName = "hll_spec_stream")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = graft.Tables.events(spark, sf())
      .groupBy("event_type")
      .agg(HllFunctions.hll(col("user_id"), b).as("regs"))
      .select(col("event_type"),
        round(HllFunctions.hllEstimate(col("regs"), b), 2).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("merged per-group registers equal one global sketch exactly") {
    // the mergeability identity the hll_union lane rests on: element-
    // wise max of per-type register arrays == the registers of a
    // single HLL over all rows, bit for bit — so the union ESTIMATE
    // is exactly the global estimate, not an approximation of it
    val ev = graft.Tables.events(spark, sf())
    val merged = ev.groupBy("event_type")
      .agg(HllFunctions.hll(col("user_id"), b).as("regs"))
      .select(posexplode(col("regs")).as(Seq("idx", "mj")))
      .groupBy("idx").agg(max(col("mj")).as("mj"))
      .orderBy("idx").collect().map(_.getAs[Int]("mj")).toSeq
    val global = ev.agg(HllFunctions.hll(col("user_id"), b))
      .collect().head.getSeq[Int](0)
    assert(merged === global)
    val lane = graft.queries.EventQueries.hllUnion(spark, sf()).collect()
    val unionRow = lane.filter(_.getString(0) == "__all")
    assert(unionRow.length === 1)
    val directEst = ev.agg(round(HllFunctions.hllEstimate(
      HllFunctions.hll(col("user_id"), b), b), 2))
      .collect().head.getDouble(0)
    assert(unionRow.head.getAs[Double]("hll_est") === directEst)
  }

  test("windowed streaming HLL equals the batch windowed aggregation") {
    val streamed = graft.streaming.EventsStream
      .streamingWindowedHll(spark, sf(), queryName = "hll_win_spec")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val batch = graft.Tables.events(spark, sf())
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(HllFunctions.hll(col("user_id"), b).as("regs"))
      .select(col("window.start"), col("event_type"),
        round(HllFunctions.hllEstimate(col("regs"), b), 2))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(streamed === batch && streamed.size > batch.keySet.map(_._2).size,
      "multiple windows per type expected")
  }

  test("SQL registration: hll over a non-string key") {
    withExtensionSession { s2 =>
      s2.range(100).createOrReplaceTempView("t")
      try {
        val regs = s2.sql("SELECT hll(id, 8) AS r FROM t")
          .collect().head.getSeq[Int](0)
        assert(regs.length === 256 && regs.exists(_ > 0))
      } finally s2.catalog.dropTempView("t")
    }
  }
}
