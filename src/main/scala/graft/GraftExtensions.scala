package graft

import graft.functions.{CosineSimilarityExpr, TextFunctions => TF}
import graft.operators.Sampling
import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point (SURVEY.md §7.4 preference order
  * (c) registration path): injects the engine's custom Catalyst
  * expressions into the SQL function registry so pure-SQL users get them
  * too:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)...
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Also usable via `spark.sql.extensions=graft.GraftExtensions` on a
  * cluster, which is how a 1000-executor deployment would pick these up
  * without code changes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import org.apache.spark.sql.GraftExpressionBridge.{catalystExpression, column}
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** Arity gate + literal-int extraction for registrations whose shape
    * parameters (k, depth, width, n) compile into the operator at plan
    * time: a wrong arg count or a non-foldable parameter must surface
    * as a clean `AnalysisException` naming the expected signature, not
    * an IndexOutOfBounds/ClassCast from inside the builder. */
  private def litInt(fn: String, usage: String, exprs: Seq[Expression],
      arity: Int, idx: Int): Int = {
    if (exprs.length != arity)
      throw org.apache.spark.sql.GraftExpressionBridge.analysisException(
        s"$fn expects $arity arguments ($usage), got ${exprs.length}")
    val e = exprs(idx)
    if (!e.foldable)
      throw org.apache.spark.sql.GraftExpressionBridge.analysisException(
        s"$fn: argument ${idx + 1} of $usage must be an integer literal")
    e.eval() match {
      // integral types only: a 2.5 must error, not silently truncate
      case n @ (_: java.lang.Byte | _: java.lang.Short |
                _: java.lang.Integer | _: java.lang.Long) =>
        n.asInstanceOf[Number].intValue()
      case other =>
        throw org.apache.spark.sql.GraftExpressionBridge.analysisException(
          s"$fn: argument ${idx + 1} of $usage must be an integer " +
            s"literal, got ${if (other == null) "NULL" else other}")
    }
  }

  /** Register a Column-combinator as a SQL function: unwrap argument
    * expressions into Columns, apply the combinator, re-wrap. The
    * resulting SQL function is the EXACT expression tree the Scala API
    * builds — same codegen, same oracle parity. */
  private def injectColumnFn(ext: SparkSessionExtensions, name: String,
      f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(getClass.getCanonicalName, name),
      (exprs: Seq[Expression]) => catalystExpression(f(exprs.map(column)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // fork-free local file modes: applied here, when the builder takes
    // the extensions, so a context created by that builder caches the
    // NIO filesystem as its first `file:` FileSystem
    graft.util.NioLocalFileSystem.install()
    // METADATA-ONLY AGGREGATES: whole-table COUNT(*)/MIN/MAX over
    // snapshot relations answered from manifest stats — zero data-file
    // scans. MUST run before SnapshotDvReadRewrite: count(*) is exact
    // on DV-bearing tables (live-row accounting), but only while the
    // relation is still a relation
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotMetadataOnlyAgg)
    // DELETION-VECTOR reads: batch relations over DV-bearing snapshot
    // tables are replaced by the DV-applied plan. Injected before the
    // MERGE rewrite so a MERGE statement's SOURCE side is rewritten
    // before the MERGE rewrite below evaluates it
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotDvReadRewrite)
    // native SQL MERGE INTO over snapshot tables: intercepted after
    // resolution (clauses and star-assignments already expanded) but
    // before the analyzer's DML-rewrite batch would reject the table
    // for not implementing SupportsRowLevelOperations — routed through
    // the same locked, stats-pruned commit as CALL system.merge_into
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotMergeRewrite)
    // dynamic-partition INSERT OVERWRITE over snapshot tables — the
    // OverwritePartitionsDynamic plan has no V1 fallback, so it is
    // intercepted the same way and routed through the locked atomic
    // partition restatement
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotOverwriteRewrite)
    // native SQL UPDATE and row-level DELETE over snapshot tables —
    // copy-on-write restatement of only the touched partitions;
    // partition-value DELETEs keep the metadata-only SupportsDelete
    // fast path (the rewrite mirrors the planner's filter translation
    // to decide which path serves the predicate)
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotUpdateRewrite)
    ext.injectPostHocResolutionRule(_ => graft.plans.SnapshotRowDeleteRewrite)
    ext.injectFunction(
      (FunctionIdentifier("cosine_similarity"),
        new ExpressionInfo(
          classOf[CosineSimilarityExpr].getCanonicalName,
          "cosine_similarity"),
        (exprs: Seq[Expression]) =>
          CosineSimilarityExpr(exprs(0), exprs(1))))
    // custom TypedImperativeAggregate: heavy_hitters(col, k) — k must
    // be a literal (evaluated at registration)
    ext.injectFunction((FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(
        classOf[graft.functions.HeavyHittersAgg].getCanonicalName,
        "heavy_hitters"),
      (exprs: Seq[Expression]) => {
        // arity gate BEFORE exprs(0): constructor args evaluate left to
        // right, so touching exprs(0) first would turn a zero-arg call
        // into an IndexOutOfBounds instead of litInt's clean error
        val k = litInt("heavy_hitters", "heavy_hitters(col, k)",
          exprs, 2, 1)
        graft.functions.HeavyHittersAgg(exprs(0), k)
          .toAggregateExpression()
      }))
    // second custom TypedImperativeAggregate: count_min(col, d, w) —
    // d/w must be literals (evaluated at registration)
    ext.injectFunction((FunctionIdentifier("count_min"),
      new ExpressionInfo(
        classOf[graft.functions.CountMinAgg].getCanonicalName,
        "count_min"),
      (exprs: Seq[Expression]) => {
        val d = litInt("count_min", "count_min(col, d, w)", exprs, 3, 1)
        val w = litInt("count_min", "count_min(col, d, w)", exprs, 3, 2)
        graft.functions.CountMinAgg(exprs(0), d, w).toAggregateExpression()
      }))
    // third custom TypedImperativeAggregate: bounded_topk(col, k) —
    // exact k-smallest + total count in O(k) state (k a literal)
    ext.injectFunction((FunctionIdentifier("bounded_topk"),
      new ExpressionInfo(
        classOf[graft.functions.BoundedTopKAgg].getCanonicalName,
        "bounded_topk"),
      (exprs: Seq[Expression]) => {
        val k = litInt("bounded_topk", "bounded_topk(col, k)", exprs, 2, 1)
        // widen any integral input to the aggregate's long contract
        // (the update path does v.asInstanceOf[Long])
        graft.functions.BoundedTopKAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(exprs(0),
            org.apache.spark.sql.types.LongType), k)
          .toAggregateExpression()
      }))
    // fourth custom TypedImperativeAggregate: hll(col, b) — the
    // oracle-able HyperLogLog (2^b md5-derived registers, b a literal)
    ext.injectFunction((FunctionIdentifier("hll"),
      new ExpressionInfo(
        classOf[graft.functions.HllAgg].getCanonicalName, "hll"),
      (exprs: Seq[Expression]) => {
        val b = litInt("hll", "hll(col, b)", exprs, 2, 1)
        graft.functions.HllAgg(
          org.apache.spark.sql.catalyst.expressions.Cast(exprs(0),
            org.apache.spark.sql.types.StringType), b)
          .toAggregateExpression()
      }))
    // custom GENERATOR (table function): ngram_explode(text, n) — n
    // must be a literal (evaluated at registration). SQL users get
    // `SELECT ngram_explode(text, 3) FROM docs` / LATERAL VIEW.
    ext.injectFunction((FunctionIdentifier("ngram_explode"),
      new ExpressionInfo(
        classOf[graft.functions.NGramExplode].getCanonicalName,
        "ngram_explode"),
      (exprs: Seq[Expression]) => {
        val n = litInt("ngram_explode", "ngram_explode(text, n)",
          exprs, 2, 1)
        graft.functions.NGramExplode(exprs(0), n)
      }))
    // the text-analysis and sampling surface for pure-SQL users
    injectColumnFn(ext, "canonical_url",
      cs => graft.functions.UrlFunctions.canonicalizeUrl(cs(0)))
    injectColumnFn(ext, "token_count", cs => TF.tokenCount(cs(0)))
    injectColumnFn(ext, "bpe_token_count", cs => TF.regexTokenCount(cs(0)))
    injectColumnFn(ext, "quality_score", cs => TF.qualityScore(cs(0)))
    injectColumnFn(ext, "lang_id", cs => TF.langId(cs(0)))
    injectColumnFn(ext, "doc_fingerprint", cs => TF.fingerprint(cs(0)))
    injectColumnFn(ext, "rolling_hash", cs => TF.rollingHash(cs(0)))
    // sample_hash(key) or sample_hash(key, salt_literal-as-column):
    // the [0,1) deterministic hash behind Sampling — WHERE
    // sample_hash(id) < 0.1 is a reproducible 10% sample in plain SQL
    injectColumnFn(ext, "sample_hash", {
      case Seq(k) => Sampling.hashFraction(k)
      case Seq(k, salt) =>
        org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.concat(
                k.cast("string"), salt.cast("string"))), 1, 8), 16, 10)
          .cast("long") / 4294967296.0
      case cs => throw new IllegalArgumentException(
        s"sample_hash takes 1 or 2 args, got ${cs.size}")
    })
    // banned_hits(text, 'w1,w2,...') — whole-token banned-list counting;
    // the word list must be a literal (compiled into the regex once)
    injectColumnFn(ext, "banned_hits", {
      case Seq(t, words) =>
        val list = org.apache.spark.sql.GraftExpressionBridge
          .expression(words) match {
          case lit if lit.foldable =>
            lit.eval().toString.split(",").map(_.trim).toSeq
          case _ => throw new IllegalArgumentException(
            "banned_hits word list must be a literal")
        }
        TF.bannedHits(t, list)
      case cs => throw new IllegalArgumentException(
        s"banned_hits takes 2 args, got ${cs.size}")
    })
    // the whole-operator tier: a cluster setting
    // spark.sql.extensions=graft.GraftExtensions gets the native as-of
    // strategy without any code (the Scala API registers it lazily via
    // experimental.extraStrategies instead)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinNative.Strategy)
    // the optimizer-rule tier: naive |Δt| <= tol non-equi joins are
    // rewritten to the bucketized hash join (pure-SQL users included)
    ext.injectOptimizerRule(_ =>
      graft.plans.ProximityJoinRewrite.RewriteRule)
  }
}
