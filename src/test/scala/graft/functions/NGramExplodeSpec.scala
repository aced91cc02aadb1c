package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The custom Generator: semantics, plan shape, and SQL registration. */
class NGramExplodeSpec extends SparkSpec {

  test("generates positioned n-grams; short/null/empty inputs yield none") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, ""), (4L, null))
      .toDF("id", "text")
    val got = df.select(col("id"),
      NGramFunctions.ngramExplode(col("text"), 3).as(Seq("pos", "ngram")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq === Seq((1L, 1, "a b c"), (1L, 2, "b c d")))
  }

  test("whitespace runs collapse like the tokenizer's") {
    import spark.implicits._
    val df = Seq((1L, "  a\t b \n c  ")).toDF("id", "text")
    val got = df.select(NGramFunctions.ngramExplode(col("text"), 2)
      .as(Seq("pos", "ngram"))).collect().map(_.getString(1))
    assert(got.toSeq === Seq("a b", "b c"))
  }

  test("plans as GenerateExec — a real generator, not a HOF pipeline") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("id", "text")
      .select(NGramFunctions.ngramExplode(col("text"), 2)
        .as(Seq("pos", "ngram")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"))
    assert(!plan.contains("transform(")) // no interpreted lambda stage
  }

  test("SQL registration: ngram_explode works in plain SQL") {
    withExtensionSession { s2 =>
      import s2.implicits._
      Seq((1L, "the quick brown fox")).toDF("id", "text")
        .createOrReplaceTempView("t")
      try {
        val rows = s2.sql(
          "SELECT pos, ngram FROM t LATERAL VIEW ngram_explode(text, 2) g AS pos, ngram")
          .collect().map(r => (r.getInt(0), r.getString(1)))
        assert(rows.toSeq === Seq((1, "the quick"), (2, "quick brown"),
          (3, "brown fox")))
      } finally s2.catalog.dropTempView("t")
    }
  }

  test("matches the HOF-pipeline formulation on real documents") {
    val d = graft.Tables.documents(spark, sf())
      .withColumn("norm_text", TextFunctions.normalize(col("text")))
    val gen = d.select(NGramFunctions.ngramExplode(col("norm_text"), 3)
      .as(Seq("pos", "ngram"))).select("ngram")
    val hof = d.select(TextFunctions.tokens(col("norm_text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))).as("ngram"))
    assert(gen.exceptAll(hof).isEmpty && hof.exceptAll(gen).isEmpty)
  }
}
