package graft

class GraftExtensionsSpec extends SparkSpec {

  test("cosine_similarity callable from pure SQL via extensions") {
    withExtensionSession { spark =>
      val r = spark.sql(
        """SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c1,
          |       cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c2
          |""".stripMargin).head()
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 0.0)
      val t = spark.sql(
        """SELECT token_count('a b  c') AS tc,
          |       quality_score('hello world, a decent sentence.') AS q,
          |       lang_id('the quick brown fox and the lazy dog') AS lid,
          |       doc_fingerprint('Hello,  WORLD') AS fp,
          |       sample_hash(42) AS h1,
          |       sample_hash(42, 'x') AS h2
          |""".stripMargin).head()
      assert(t.getLong(0) === 3L)
      assert(t.getDouble(1) > 0.0 && t.getDouble(1) <= 1.0)
      assert(t.getString(2) === "en")
      // same fingerprint as the Column API on normalized text
      assert(t.getString(3) ===
        spark.sql("SELECT md5(CAST('hello world' AS BINARY))").head()
          .getString(0))
      assert(t.getDouble(4) >= 0.0 && t.getDouble(4) < 1.0)
      assert(t.getDouble(4) !== t.getDouble(5)) // salt changes the hash
      val hh = spark.sql(
        """SELECT heavy_hitters(tok, 10) AS hh FROM
          |  (SELECT explode(array('a','a','b')) AS tok)""".stripMargin)
        .head().getMap[String, Long](0)
      assert(hh("a") === 2L && hh("b") === 1L)
      val bw = spark.sql(
        "SELECT banned_hits('the spam and the dup and spam', 'dup,spam')")
        .head().getLong(0)
      assert(bw === 3L)
      val cu = spark.sql(
        """SELECT canonical_url(
          |  'HTTP://WWW.Site.com:80/a/?utm_source=x&b=2&a=1#top')"""
          .stripMargin).head().getString(0)
      assert(cu === "http://site.com/a?a=1&b=2")
      // count_min: 1 key, depth 2 — each row holds exactly one 3-count
      val cm = spark.sql(
        """SELECT count_min(tok, 2, 16) FROM
          |  (SELECT explode(array('x','x','x')) AS tok)""".stripMargin)
        .head().getSeq[scala.collection.Seq[Long]](0)
      assert(cm.length === 2)
      cm.foreach { row => assert(row.sum === 3L && row.max === 3L) }
      // the native as-of strategy arrives via injectPlannerStrategy:
      // the custom exec appears in a plan built on this session
      import org.apache.spark.sql.functions.col
      val aLeft = spark.range(3).select(col("id"), (col("id") * 10).as("t"))
      val aRight = spark.range(2).select(col("id"), (col("id") * 10).as("t"),
        (col("id") + 100).as("v"))
      val asof = graft.plans.AsOfJoinNative.leftAsOf(
        aLeft.toDF, aRight.toDF, "id", "id", "t", "t", Seq("v"))
      assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(asof.count() === 3L)
    }
  }
}
