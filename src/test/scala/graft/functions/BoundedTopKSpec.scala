package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bounded top-k TypedImperativeAggregate: exact k-smallest + total
  * count, O(k) buffers, layout independence, and SQL registration. */
class BoundedTopKSpec extends SparkSpec {

  import spark.implicits._

  test("k smallest values and exact count per group; nulls ignored") {
    val df = Seq(
      ("a", Some(5L)), ("a", Some(1L)), ("a", Some(9L)), ("a", Some(3L)),
      ("a", Some(7L)), ("a", None),
      ("b", Some(2L))).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(BoundedTopKAgg.boundedTopK(col("v"), 3).as("tk"))
      .select(col("g"), col("tk.cnt"), col("tk.ids"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(got("a") === ((5L, Seq(1L, 3L, 5L))))
    assert(got("b") === ((1L, Seq(2L))))
  }

  test("result is independent of partition layout (merge order)") {
    val base = spark.range(1000).select(
      pmod(col("id"), lit(7)).as("g"),
      // a value order decorrelated from id order
      pmod(col("id") * 37L + 11L, lit(1000L)).as("v"))
    def run(parts: Int) = base.repartition(parts)
      .groupBy("g").agg(BoundedTopKAgg.boundedTopK(col("v"), 5).as("tk"))
      .select(col("g"), col("tk.cnt"), col("tk.ids"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(run(1) === run(13))
  }

  test("SQL registration: bounded_topk and its arity/literal gates") {
    withExtensionSession { s2 =>
      import s2.implicits._
      Seq(("a", 5L), ("a", 1L), ("a", 9L)).toDF("g", "v")
        .createOrReplaceTempView("t")
      try {
        val row = s2.sql(
          "SELECT bounded_topk(v, 2) AS tk FROM t").select("tk.cnt", "tk.ids")
          .collect().head
        assert(row.getLong(0) === 3L && row.getSeq[Long](1) === Seq(1L, 5L))
        // an INT column must widen, not ClassCastException in the task
        Seq(("a", 3)).toDF("g", "i").createOrReplaceTempView("ti")
        val narrow = s2.sql("SELECT bounded_topk(i, 1) AS tk FROM ti")
          .select("tk.ids").collect().head.getSeq[Long](0)
        assert(narrow === Seq(3L))
        val e0 = intercept[org.apache.spark.sql.AnalysisException] {
          s2.sql("SELECT bounded_topk() FROM t").collect()
        }
        assert(e0.getMessage.contains("bounded_topk(col, k)"))
        val e1 = intercept[org.apache.spark.sql.AnalysisException] {
          s2.sql("SELECT bounded_topk(v) FROM t").collect()
        }
        assert(e1.getMessage.contains("bounded_topk(col, k)"))
        val e2 = intercept[org.apache.spark.sql.AnalysisException] {
          s2.sql("SELECT bounded_topk(v, v) FROM t").collect()
        }
        assert(e2.getMessage.contains("integer literal"))
        val e3 = intercept[org.apache.spark.sql.AnalysisException] {
          s2.sql("SELECT bounded_topk(v, 2.5) FROM t").collect()
        }
        assert(e3.getMessage.contains("integer literal"))
      } finally {
        s2.catalog.dropTempView("t")
        s2.catalog.dropTempView("ti")
      }
    }
  }
}
