package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan audit (the ".explain and iterate" discipline from the
  * build brief): for each audited query, assert the plan properties that
  * matter at 100 TB — dimension joins broadcast (no sort-merge on a
  * dim), column pruning reaching the parquet scan, aggregates
  * partial+final, whole-stage codegen present. One test per plan
  * property, so a plan regression fails the suite by name:
  *   sbt "testOnly graft.PlanAuditSpec"
  * Lanes are built lazily in declaration order, so they run in the same
  * sequence on the shared session as the tests that first read them.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = sf()

  private def occurrences(haystack: String, needle: String): Int = {
    var n = 0; var i = haystack.indexOf(needle)
    while (i >= 0) { n += 1; i = haystack.indexOf(needle, i + 1) }
    n
  }

  private def executedPlan(p: SparkPlan): String = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case other => other.toString
  }

  /** Files a DSV2 (catalog) read will scan. `Dataset.inputFiles` only
    * collects from FileTable-backed relations, and the snapshot
    * catalog's table is deliberately NOT a FileTable — a FileTable
    * INSERT gets rewritten by Spark's `FallBackFileSourceV2` into the
    * direct-file V1 write path, bypassing the snapshot commit (the
    * same reason Iceberg/Delta tables aren't FileTables, and why
    * `inputFiles` is empty on theirs too) — so the audit reads the
    * file list off the planned scan itself. */
  private def dsv2ScanFiles(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.collect {
      case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
        f.fileIndex.inputFiles.toSeq
    }.flatten

  private def planOf(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ()) // finalize AQE plan
    executedPlan(df.queryExecution.executedPlan)
  }
  private def plan(q: String): String =
    planOf(SparkEntry.allQueries(q)(spark, sfDir))

  /** Leaf descriptions of every subtree under an explicit broadcast
    * hint in the analyzed plan — the code-level intent, before AQE's
    * runtime size decisions overwrite it. */
  private def hintedLeaves(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint =>
      h.child.collectLeaves().map(_.simpleString(200))
    }.flatten

  private lazy val q1 = plan("q1_count_by_flag")
  test("q1: partial+final hash aggregate") {
    assert(occurrences(q1, "HashAggregate") >= 2, "two HashAggregate levels")
  }
  // codegen'd operators carry a "*(stageId)" prefix in plan strings
  test("q1: whole-stage codegen") {
    assert(q1.contains("*("))
  }
  test("q1: scan prunes to 1 column") {
    assert(q1.contains("ReadSchema: struct<l_returnflag:string>"),
      "only l_returnflag read")
  }

  private lazy val q7df = SparkEntry.queries("q7_denorm_join")(spark, sfDir)
  private lazy val q7 = planOf(q7df)
  test("q7: nation dims broadcast") {
    assert(occurrences(q7, "BroadcastHashJoin") >= 2,
      "both nation role joins are broadcast")
  }
  // the scale rule: explicit broadcast() hints may target ONLY tables
  // whose size is constant in the scale factor (nation: 25 rows).
  // orders/customer/supplier grow with the fact side — a hint there is
  // an OOM at 100 TB even if AQE would broadcast them at toy scale.
  // "[n_nationkey#" pins the nation RELATION itself (its first output
  // column), not merely any table carrying a *_nationkey column.
  private lazy val q7hints = hintedLeaves(q7df)
  test("q7: no broadcast hint on fact-proportional table") {
    assert(q7hints.nonEmpty && q7hints.forall(_.contains("[n_nationkey#")),
      s"hinted leaves: ${q7hints.map(_.take(60)).mkString("; ")}")
  }

  private lazy val q9 = plan("q9_projection")
  test("q9: no shuffle in pure projection") {
    assert(!q9.contains("Exchange"), "map-only stage")
  }

  private lazy val q10 = plan("q10_isin_predicate")
  test("q10: filter pushed to parquet scan") {
    assert(q10.contains("PushedFilters: [In(l_returnflag"),
      "In-filter reaches the scan")
  }

  private lazy val ann = plan("ann_bruteforce")
  test("ann: probe side broadcast") {
    assert(ann.contains("BroadcastNestedLoopJoin")
      || ann.contains("BroadcastHashJoin"),
      "corpus never shuffled for probes")
  }
  // the scoring expression must sit INSIDE a whole-stage-codegen span:
  // every plan line mentioning the native cosine expression carries a
  // "*(stage)" codegen marker.
  private lazy val cosLines = ann.linesIterator
    .filter(_.toLowerCase.contains("cosinesimilarity")).toSeq
  test("ann: native cosine in codegen") {
    assert(cosLines.nonEmpty && cosLines.forall(_.contains("*(")),
      s"${cosLines.size} plan lines score cosine, all codegen'd")
  }

  // r15: the signature aggregate is GONE — band keys are a row-local
  // scan-stage projection (minhash_band_keys, bit-identical family),
  // so the candidate stage's only shuffle is the banded self-join.
  // The old check pinned "HashAggregate >= 2" for the partial+final
  // signature mins; pin the STRONGER shape instead.
  private lazy val dm = plan("dedup_minhash")
  test("minhash: row-local band keys in the scan stage") {
    assert(dm.contains("minhash_band_keys"),
      "candidate keys are a projection, not an aggregate")
  }
  test("minhash: no signature min-aggregate") {
    assert(!dm.contains("partial_min(xxhash64"),
      "the k min(xxhash64(i, hs)) aggregates are gone")
  }

  private lazy val se = plan("sessionize")
  test("sessionize: single shuffle on user_id") {
    assert(occurrences(se, "Exchange hashpartitioning(user_id") >= 1,
      "window + agg share the user_id partitioning")
  }

  // the as-of operator in isolation (the driver query adds a dedup
  // window over the right side, which legitimately shuffles once
  // more): union + key-partitioned window = exactly ONE exchange.
  private lazy val asofOp = planOf(graft.operators.AsOfJoin.leftAsOf(
    Tables.events(spark, sfDir).select("event_id", "user_id", "ts"),
    Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderdate", "o_orderkey"),
    "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey")))
  test("asof operator: exactly one exchange") {
    assert(occurrences(asofOp, "Exchange") == 1,
      "one shuffle of |L|+|R| on the key, no broadcast, no second sort")
  }

  private lazy val rj = plan("range_join")
  test("range_join: equi-join, no nested-loop/cartesian") {
    assert(!rj.contains("BroadcastNestedLoopJoin") &&
        !rj.contains("CartesianProduct") &&
        (rj.contains("SortMergeJoin") || rj.contains("ShuffledHashJoin") ||
          rj.contains("BroadcastHashJoin")),
      "(key,bucket) hash join carries the proximity predicate")
  }

  // reference Q1 on the taxi-schema analytic table: the scan must
  // read ONLY the grouping column (pickup_month is partition
  // metadata, not data), with a partial+final aggregate on top.
  private lazy val tq1 = plan("taxi_e2e_q1")
  test("taxi_q1: scan prunes to cab_type") {
    assert(tq1.contains("ReadSchema: struct<cab_type:string>"),
      "51-column table, 1 column read")
  }
  test("taxi_q1: partial+final hash aggregate") {
    assert(occurrences(tq1, "HashAggregate") >= 2)
  }

  // per-group quota: the rank filter must compile to map-side
  // WindowGroupLimit so giant groups are pruned before the shuffle
  private lazy val gq = plan("sample_group_quota")
  test("group_quota: map-side WindowGroupLimit") {
    assert(gq.contains("WindowGroupLimit"), "rank<=n pruned before exchange")
  }

  // bucketed fact⋈fact join: the ONLY exchange in the whole query is
  // the final tiny aggregate on o_orderpriority — the join itself
  // consumes both bucketed layouts with no shuffle and no sort.
  private lazy val bj = plan("bucketed_join")
  test("bucketed_join: SMJ with no join-side exchange") {
    assert(bj.contains("SortMergeJoin") && occurrences(bj, "Exchange") == 1 &&
        bj.contains("Exchange hashpartitioning(o_orderpriority"),
      "single exchange is the 5-row priority aggregate")
  }

  // native as-of join (custom Strategy) in isolation — the driver
  // lane adds a right-side dedup window, which legitimately brings
  // its own exchange+window; the operator itself must contribute the
  // merge exec, no Window state, no Union, one exchange per side.
  private lazy val an = planOf(graft.plans.AsOfJoinNative.leftAsOf(
    Tables.events(spark, sfDir).select("event_id", "user_id", "ts"),
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_ts"),
        col("o_orderkey")),
    "user_id", "o_custkey", "ts", "o_ts", Seq("o_orderkey")))
  test("asof_native: custom exec, no window/union") {
    assert(an.contains("AsOfJoin") && !an.contains("Window") &&
        !an.contains("Union"),
      "merge exec with O(1) state")
  }
  test("asof_native: one exchange per side") {
    assert(occurrences(an, "Exchange hashpartitioning") == 2,
      "left on user_id, right on o_custkey")
  }

  // resample: the forward-fill rides the native as-of merge exec; the
  // only nested-loop join is the deliberate broadcast of the tiny day
  // list against the entity set (the grid construction).
  private lazy val rs = plan("resample_ffill")
  test("resample: fill uses the native as-of exec") {
    assert(rs.contains("AsOfJoin"), "grid->events fill is the merge exec")
  }
  test("resample: grid cross join broadcasts the day list") {
    assert(occurrences(rs, "BroadcastNestedLoopJoin") <= 1 &&
        !rs.contains("CartesianProduct"),
      "days broadcast; no unbounded cartesian")
  }

  // chunk packing: one shuffle on the shard key feeds the running-sum
  // window; everything downstream is map-side arithmetic.
  private lazy val pc = plan("pack_chunk")
  test("pack_chunk: single shard-key exchange") {
    assert(occurrences(pc, "Exchange hashpartitioning(shard") == 1 &&
        occurrences(pc, "Exchange") == 1,
      "window cumsum rides the shard partitioning")
  }
  test("pack_chunk: placement arithmetic codegen'd") {
    assert(pc.contains("*("))
  }

  // next-fit packing: exactly one exchange (the shard repartition);
  // the per-partition fold adds no second shuffle.
  private lazy val pn = plan("pack_nextfit")
  test("pack_nextfit: single shard-key exchange") {
    assert(occurrences(pn, "Exchange") == 1, "sorted fold is partition-local")
  }

  // boilerplate: dictionary + cleaning join, no nested-loop anywhere;
  // the per-doc report aggregates partial+final.
  private lazy val bp = plan("boilerplate_clean")
  test("boilerplate: no nested-loop/cartesian join") {
    assert(!bp.contains("BroadcastNestedLoopJoin") &&
        !bp.contains("CartesianProduct"),
      "segment-fingerprint equi-join only")
  }
  test("boilerplate: partial+final aggregates") {
    assert(occurrences(bp, "HashAggregate") >= 2)
  }

  // export manifest: one aggregate over the shard key — map-side
  // partial combine (partial_min/partial_max markers) before a single
  // exchange. The string min/max buffer is immutable, so the planner
  // picks SortAggregate — still partial+final, still one shuffle.
  private lazy val em = plan("export_manifest")
  test("export_manifest: partial+final aggregate, one exchange") {
    assert(em.contains("partial_min") && em.contains("partial_max") &&
        occurrences(em, "Exchange") == 1)
  }

  // interval lookup: the whole point of the bucketized rewrite — the
  // range predicate rides a broadcast HASH join, never nested-loop.
  private lazy val il = plan("interval_lookup")
  test("interval_lookup: broadcast hash join, no nested-loop") {
    assert(il.contains("BroadcastHashJoin") &&
        !il.contains("BroadcastNestedLoopJoin"),
      "bucket equi-key carries the BETWEEN predicate")
  }

  // bigram LM: model counts are partial+final aggregates; the scoring
  // joins shuffle on the vocabulary key (they must NOT broadcast — the
  // model grows with the corpus); only the 1-row V aggregate may
  // broadcast.
  private lazy val lmDf = SparkEntry.queries("text_lm_score")(spark, sfDir)
  private lazy val lm = planOf(lmDf)
  test("text_lm_score: partial+final count aggregates") {
    assert(occurrences(lm, "HashAggregate") >= 4, "c12/c1 map-side combined")
  }
  // code-level policy: the ONLY explicit broadcast hint is the 1-row
  // vocab-size aggregate; the model-count joins carry no hint (their
  // tables grow with the corpus — at toy scale AQE may still
  // broadcast them at runtime, which is AQE's call, not ours).
  private lazy val lmHints = lmDf.queryExecution.analyzed.collect {
    case h: ResolvedHint => h
  }
  test("text_lm_score: only the vocab aggregate is hinted") {
    assert(lmHints.size == 1 &&
        lmHints.head.child.schema.fieldNames.sameElements(Array("vocab")),
      s"${lmHints.size} hints; model joins decided by size at runtime")
  }

  // sliding chunks: map-only — chunks are emitted inside the scan
  // stage, no exchange anywhere.
  private lazy val ps = plan("pack_sliding")
  test("pack_sliding: map-only, no shuffle") {
    assert(!ps.contains("Exchange"),
      "chunk emission fused into the scan stage")
  }

  // CDC chunking: the imperative boundary pass makes the operator
  // map-side — the ONLY exchange is the lane's explicit parallelism
  // spread (repartition of the single-file testdata scan), and the
  // old lag-window span construction (Sort + Window over doc_id) is
  // gone: chunk predecessors come from the boundary array itself.
  private lazy val cc = plan("cdc_chunks")
  test("cdc_chunks: map-side after the spread repartition") {
    assert(occurrences(cc, "Exchange") == 1 && !cc.contains("Window"),
      "boundary array, not a lag window, supplies chunk spans")
  }

  // SemDeDup: since r14 the centroid argmax is FOLDED INTO the scan
  // projection (the collected groups × dims table is constant-size
  // at any corpus), so no nested-loop — or ANY join — exists in the
  // assignment at all; the near-dup pair join is an equi-join on the
  // assigned cluster, never a cartesian.
  private lazy val semd = plan("semantic_dedup")
  test("semantic_dedup: map-only assignment, no cartesian") {
    assert(occurrences(semd, "BroadcastNestedLoopJoin") == 0 &&
        !semd.contains("CartesianProduct"),
      "assignment is one codegen'd argmax projection, no join")
  }

  // DSIR: the top-k selection must plan as TakeOrderedAndProject
  // (map-side partial top-k per partition, k rows to the driver) —
  // a global Sort before limit would shuffle the whole corpus.
  private lazy val ir = plan("importance_resample")
  test("importance_resample: top-k via TakeOrderedAndProject") {
    assert(ir.contains("TakeOrderedAndProject"),
      "Gumbel selection prunes map-side, never a full global sort")
  }

  // custom DataSource V2: the per-cab aggregate needs 3 of 5 columns
  // — SupportsPushDownRequiredColumns must keep the rest out of the
  // BatchScan entirely.
  private lazy val gs = plan("gen_source_agg")
  test("gen_source: V2 scan with pruned columns") {
    assert(gs.contains("BatchScan") && !gs.contains("pickup_ts") &&
        !gs.contains("trip_id"),
      "3 of 5 generated columns reach the scan")
  }

  // V2 filter pushdown: the trip_id range conjuncts must be absorbed
  // into the generator range (visible in the scan description) with
  // no residual Filter node above the scan.
  private lazy val gp = plan("gen_source_pruned")
  test("gen_source_pruned: range absorbed, no residual Filter") {
    assert(gp.contains("range=[90000,95000)") && !gp.contains("Filter ("),
      "trip_id conjuncts prune partitions at plan time")
  }

  // Gopher battery: a pure scan-stage projection — regexes must not
  // introduce any exchange, and the plan must stay codegen'd.
  private lazy val gr = plan("gopher_rules")
  test("gopher_rules: map-only, zero exchanges") {
    assert(occurrences(gr, "Exchange") == 0 && gr.contains("*("),
      "quality flags compute at read speed")
  }

  // Sparse cosine: the df table joins on term (vocab-keyed — must
  // NOT be a broadcast of the full posting table) and no cartesian
  // shape anywhere in the pair join.
  private lazy val sc = plan("sparse_cosine_pairs")
  test("sparse_cosine: no nested-loop/cartesian pair generation") {
    assert(!sc.contains("BroadcastNestedLoopJoin") &&
        !sc.contains("CartesianProduct"),
      "pairs come from the term-keyed equi-join only")
  }

  // proximity-join rewrite: the NAIVE |Δt| <= tol join (no equi
  // conjunct — nested-loop territory without the optimizer rule) must
  // come out as a bucketized hash join with the marker columns in the
  // optimized plan.
  private lazy val rrDf = SparkEntry.queries("range_rewrite")(spark, sfDir)
  test("range_rewrite: optimizer rule fired") {
    assert(rrDf.queryExecution.optimizedPlan.toString
        .contains(graft.plans.ProximityJoinRewrite.marker),
      "naive non-equi join rewritten to bucket equi-join")
  }
  private lazy val rr = planOf(rrDf)
  test("range_rewrite: hash join, no nested-loop/cartesian") {
    assert(!rr.contains("BroadcastNestedLoopJoin") &&
        !rr.contains("CartesianProduct") &&
        (rr.contains("SortMergeJoin") || rr.contains("ShuffledHashJoin") ||
          rr.contains("BroadcastHashJoin")),
      "rewrite output plans like the hand-bucketized join")
  }

  // incremental dedup: fingerprint screening is hash equi-joins; the
  // near stage is the block-bounded equi-join — no nested-loop.
  private lazy val di = plan("dedup_incremental")
  test("dedup_incremental: equi-joins only") {
    assert(!di.contains("BroadcastNestedLoopJoin") &&
        !di.contains("CartesianProduct"),
      "anti-joins + block join, all hash-keyed")
  }

  // fuzzy linkage (Pass-Join form): the candidate join must be a
  // HASH join on the (L, i, segment) key. The only nested-loop joins
  // allowed are the deliberate bounded crosses against the 3-row
  // segment-index sequence (each input row × 3 segment slots) — a
  // constant fan-out, not a data×data cross.
  private lazy val fz = plan("fuzzy_link")
  test("fuzzy_link: segment candidates via hash equi-join") {
    assert(!fz.contains("CartesianProduct") && fz.contains("BroadcastHashJoin") &&
        occurrences(fz, "BroadcastNestedLoopJoin") <= 2,
      "levenshtein runs on segment-bucket candidates only")
  }
  test("fuzzy_link: map-side WindowGroupLimit for best-match") {
    assert(fz.contains("WindowGroupLimit"), "rank=1 pruned before exchange")
  }

  // PMI: pair/unigram counts partial+final; the only nested-loop joins
  // are the two deliberate 1-row broadcasts (B and T totals).
  private lazy val pm = plan("text_pmi")
  test("text_pmi: partial+final count aggregates") {
    assert(occurrences(pm, "HashAggregate") >= 4)
  }
  test("text_pmi: only 1-row totals cross-join") {
    assert(occurrences(pm, "BroadcastNestedLoopJoin") <= 2 &&
        !pm.contains("CartesianProduct"),
      "pair->unigram joins are hash equi-joins")
  }

  // custom Generator: n-grams must stream through GenerateExec — no
  // interpreted higher-order lambda, no token-array materialization.
  private lazy val ng = plan("text_ngrams")
  test("text_ngrams: GenerateExec, no HOF lambda") {
    assert(ng.contains("Generate") && !ng.contains("transform("),
      "custom generator in the scan stage")
  }

  // repeated spans: explode + md5 + one fingerprint-keyed aggregate
  // chain — no join anywhere.
  // (min over strings uses the immutable-buffer SortAggregate, like
  // export_manifest — still partial+final, still one logical shuffle)
  private lazy val sd = plan("span_dedup")
  test("span_dedup: no join, aggregate-only pipeline") {
    assert(!sd.contains("Join") &&
        occurrences(sd, "HashAggregate") +
          occurrences(sd, "SortAggregate") +
          occurrences(sd, "ObjectHashAggregate") >= 2,
      "explode -> fingerprint groupBy, partial+final")
  }

  // inverted index: the bounded top-k TypedImperativeAggregate must
  // plan partial+final (ObjectHashAggregate) around exactly ONE
  // token-keyed exchange — O(k) buffers both sides of the shuffle.
  private lazy val ii = plan("inverted_index")
  test("inverted_index: partial+final ObjectHashAggregate") {
    assert(occurrences(ii, "ObjectHashAggregate") >= 2)
  }
  test("inverted_index: single token exchange") {
    assert(occurrences(ii, "Exchange hashpartitioning") == 1)
  }

  // weighted A-ES sample: same WindowGroupLimit contract as
  // group_quota — the top-n-by-key cut prunes map-side.
  private lazy val ws = plan("weighted_sample")
  test("weighted_sample: map-side WindowGroupLimit") {
    assert(ws.contains("WindowGroupLimit"),
      "A-ES rank cut pruned before exchange")
  }

  // interpolation: BOTH directions ride the native as-of merge exec.
  private lazy val ri = plan("resample_interp")
  test("resample_interp: two native as-of merge execs") {
    assert(occurrences(ri, "AsOfJoin") >= 2 && !ri.contains("CartesianProduct"),
      "prev + next fills are merge joins")
  }

  // audio framing: pure partition-local pipeline — typed mapPartitions
  // fan-out, no exchange anywhere.
  private lazy val au = plan("multimodal_audio")
  test("multimodal_audio: map-only, no shuffle") {
    assert(!au.contains("Exchange"), "windows emitted inside the scan stage")
  }

  // pagerank top-20: the bounded cut must be TakeOrderedAndProject
  // (per-partition heaps + driver merge), never a global sort.
  private lazy val pr = plan("pagerank")
  test("pagerank: top-k via TakeOrderedAndProject") {
    assert(pr.contains("TakeOrderedAndProject") && !pr.contains("Sort "),
      "no global sort for the top-20 cut")
  }

  // salted join: hash equi-join on (key, salt); no cartesian, no
  // nested loop — the salt is part of the join key.
  private lazy val sj = plan("salted_join")
  test("salted_join: hash equi-join carries the salt") {
    assert(!sj.contains("CartesianProduct") &&
        !sj.contains("BroadcastNestedLoopJoin"),
      "(key, salt) equi-join")
  }

  // array battery: every lambda combinator folds in the scan
  // projection — no exchange, no generate/explode.
  private lazy val af = plan("array_funcs")
  test("array_funcs: map-only, no exchange, no explode") {
    assert(!af.contains("Exchange") && !af.contains("Generate"),
      "HOFs fold in place of an explode+reaggregate")
  }

  // histogram quantile: the FACT rows shuffle once, as (group,bin)
  // partial aggregates; windows + quantile pick run over the tiny bin
  // table (second exchange carries aggregated rows only).
  private lazy val qh = plan("quantile_hist")
  test("quantile_hist: partial+final bin aggregate") {
    assert(occurrences(qh, "HashAggregate") >= 2, "map-side combine on bins")
  }
  test("quantile_hist: quantile list broadcast, no nested loop") {
    assert(occurrences(qh, "BroadcastNestedLoopJoin") <= 1 &&
        !qh.contains("CartesianProduct"),
      "literal quantile table broadcast to bin rows")
  }

  // e2e funnel: ONE scan of documents; the dedup fingerprint window
  // is the only row-level exchange (the final 1-row aggregate's
  // exchange carries a single row).
  private lazy val fe = planOf(SparkEntry.queries("pipeline_e2e")(spark, sfDir))
  test("pipeline_e2e: single documents scan") {
    assert(occurrences(fe, "Scan parquet") == 1,
      "all stage flags ride one shared scan")
  }
  test("pipeline_e2e: one row-level exchange (fingerprint window)") {
    assert(occurrences(fe, "Exchange hashpartitioning") == 1,
      "dedup window; the funnel agg exchanges 1 row")
  }

  // portable minhash: same contract as the xxhash64 path — banded
  // equi-join candidates, never an all-pairs product.
  private lazy val mo = plan("dedup_minhash_oracle")
  test("dedup_minhash_oracle: banded equi-join, no cross product") {
    assert(!mo.contains("CartesianProduct") &&
        !mo.contains("BroadcastNestedLoopJoin"),
      "(band, key) hash join")
  }
  test("dedup_minhash_oracle: codegen'd min aggregates partial+final") {
    assert(occurrences(mo, "HashAggregate") >= 2)
  }

  // portable simhash: explode -> 60 partial sums -> final; no join
  // other than the empty-doc left join back to ids.
  private lazy val so = plan("dedup_simhash_oracle")
  test("dedup_simhash_oracle: partial+final vote aggregate") {
    assert(occurrences(so, "HashAggregate") >= 2)
  }

  // portable LSH buckets: constant plane fan-out must be a broadcast,
  // and bucket assembly a partial+final aggregate.
  private lazy val lo = plan("ann_lsh_oracle")
  test("ann_lsh_oracle: planes broadcast, buckets partial+final") {
    assert(lo.contains("Broadcast") &&
        occurrences(lo, "HashAggregate") >= 2 &&
        !lo.contains("CartesianProduct"),
      "corpus x broadcast(planes), one id-keyed aggregate")
  }

  // PIT join: interval containment must ride the native as-of merge
  // exec — no interval explode, no BETWEEN nested-loop.
  private lazy val pj = plan("pit_join")
  test("pit_join: native as-of exec, no nested loop") {
    assert(pj.contains("AsOfJoin") && !pj.contains("BroadcastNestedLoopJoin") &&
        !pj.contains("CartesianProduct"),
      "backward as-of on interval starts")
  }

  // nested battery: collect_list plans as partial+final
  // ObjectHashAggregate around one customer-keyed exchange.
  private lazy val nb = plan("q39_nested")
  test("q39_nested: partial+final collect aggregate") {
    assert(occurrences(nb, "ObjectHashAggregate") >= 2 &&
        occurrences(nb, "Exchange hashpartitioning") == 1,
      "bounded per-entity history, one exchange")
  }

  // runtime pruning lanes: partition-level (DPP subquery in the fact
  // scan's PartitionFilters) and row-level (Bloom might_contain in the
  // probe's scan stage, before its exchange).
  private lazy val dpp = plan("dpp_join")
  test("dpp_join: dynamic partition pruning in fact scan") {
    assert(dpp.contains("dynamicpruning"), "3 of 84 month partitions read")
  }
  private lazy val qbj = plan("q42_bloom_join")
  private lazy val bjFilterBeforeJoin = {
    val fi = qbj.indexOf("might_contain")
    val ji = qbj.indexOf("Join")
    fi >= 0 && ji >= 0 && fi > ji // plan strings print top-down: the
    // join node appears ABOVE (before) its scan-stage children, so the
    // probe-side filter must occur after it textually
  }
  test("q42_bloom_join: bloom prune inside probe scan stage") {
    assert(bjFilterBeforeJoin,
      "might_contain below the join in the plan tree")
  }

  // round-6 shape, tightened r15: code ASSIGNMENT is now a map-only
  // native argmin over the collected codebook (pq_argmin_code) — the
  // encode plan must carry NO join at all (the old check pinned the
  // broadcast codebook join this replaced); ADC pricing still rides
  // the broadcast distance table + partial+final sum, no nested loop.
  private lazy val pqe = plan("pq_encode")
  test("pq_encode: map-only native argmin, no join") {
    assert(pqe.contains("pq_argmin_code") && !pqe.contains("Join"),
      "encode assignment is a projection over the collected codebook")
  }
  private lazy val apq = plan("ann_pq")
  test("ann_pq: ADC equi-joins broadcast, no nested loop") {
    assert(occurrences(apq, "BroadcastHashJoin") >= 1 &&
        apq.contains("pq_argmin_code") &&
        !apq.contains("CartesianProduct") &&
        !apq.contains("BroadcastNestedLoopJoin"),
      "distance table rides a broadcast; assignment is the native argmin")
  }
  test("ann_pq: partial+final distance aggregation") {
    assert(occurrences(apq, "HashAggregate") >= 2,
      "per-(probe,cand) sums combine map-side")
  }

  // round-6 third wave: the deflate quality signal must stay a
  // single-scan map + one aggregate exchange, with the custom
  // expression inside a codegen span (defineCodeGen, not fallback)
  private lazy val qc = plan("quality_compress")
  test("quality_compress: one exchange, codegen'd scan stage") {
    assert(occurrences(qc, "Exchange") <= 2 && qc.contains("*(") &&
        occurrences(qc, "HashAggregate") >= 2,
      "deflate_len runs in the scan stage; partial+final agg")
  }
  test("quality_compress: scan prunes to lang+text") {
    assert(qc.contains("ReadSchema: struct<text:string,lang:string>") ||
        qc.contains("ReadSchema: struct<lang:string,text:string>"),
      "only the two used columns leave parquet")
  }

  // round-6 fourth wave: the sliding-window lane must be the Expand
  // (6× window fan-out) → partial agg → ONE exchange → final agg
  // pipeline, never a self-join of time-shifted copies; the anomaly
  // lane is one count shuffle + one window sort — RANGE frames add a
  // sort inside the partition, not another exchange.
  private lazy val sw = plan("sliding_window_stats")
  test("sliding_window_stats: expand + partial/final agg, one exchange") {
    assert(sw.contains("Expand") && occurrences(sw, "Exchange") <= 2 &&
        occurrences(sw, "HashAggregate") >= 2,
      "window fan-out via Expand; no self-join")
  }
  test("sliding_window_stats: scan prunes to ts+type+value") {
    assert(sw.contains("ReadSchema: struct<ts:") &&
        !sw.contains("props") && !sw.contains("event_id"),
      "only the three used columns leave parquet")
  }
  private lazy val az = plan("anomaly_zscore")
  test("anomaly_zscore: one agg + one window exchange, no join") {
    assert(occurrences(az, "Exchange") <= 2 && az.contains("Window") &&
        !az.contains("Join"),
      "hourly count shuffle then in-partition RANGE-frame sort")
  }

  // round-6 wave 1: funnel fold = ONE user shuffle (collect_list →
  // object-hash agg), no window over the full table, no per-stage
  // self-joins; entropy = pure projection inside the scan stage.
  private lazy val fc = plan("funnel_conversion")
  test("funnel_conversion: one user-keyed exchange, no join") {
    assert(occurrences(fc, "Exchange") <= 1 && !fc.contains("Join") &&
        !fc.contains("Window"),
      "sorted-fold funnel shuffles once for any depth")
  }
  private lazy val ce = plan("char_entropy")
  test("char_entropy: zero exchanges, codegen'd scan projection") {
    assert(occurrences(ce, "Exchange") == 0 && ce.contains("*(1) Project"),
      "entropy computed row-locally at read speed")
  }
  test("char_entropy: scan prunes to doc_id+text") {
    assert(ce.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "no lang/source/n_chars off parquet")
  }
  private lazy val tc = plan("triangle_count")
  test("triangle_count: equi-joins only (1-row stat cross-join aside)") {
    assert(!tc.contains("CartesianProduct"),
      "wedge + closing joins are hash equi-joins; orientation caps fan-out")
  }
  // struct-ordered max_by/min_by plans as SortAggregate (partial +
  // final, in-partition pre-sorts only — `Sort [...], false`)
  private lazy val am = plan("argminmax")
  test("argminmax: one partial+final aggregation, no window") {
    assert(occurrences(am, "Exchange") <= 1 && !am.contains("Window") &&
        occurrences(am, "Aggregate") >= 2 && !am.contains("], true, 0"),
      "max_by/min_by fold in the aggregate, never a global sort")
  }
  private lazy val wq = plan("weighted_quantile")
  test("weighted_quantile: group-keyed window, no SinglePartition") {
    assert(wq.contains("Window") && !wq.contains("SinglePartition"),
      "cumulative weight sorts within flag partitions only")
  }
  private lazy val gd = plan("geo_distance")
  // r14: +1 exchange is the adaptive unsplittable-input spread
  // (Tables.spreadIfNarrow) — on the one-row-group testdata the trig
  // stage would otherwise run on a single core; on a many-row-group
  // production scan the spread disengages and the plan has one
  // exchange again
  test("geo_distance: agg + at most the spread exchange, codegen trig") {
    assert(occurrences(gd, "Exchange") <= 2 && !gd.contains("Window") &&
        gd.contains("*(1)"),
      "haversine stays in a codegen'd projection; agg shuffle is 3 rows")
  }
  private lazy val gc = plan("geo_gridcells")
  test("geo_gridcells: one cell-keyed exchange") {
    assert(occurrences(gc, "Exchange") <= 1 && !gc.contains("Join"),
      "grid shuffle bounded by cell cardinality")
  }
  private lazy val sp = plan("shortest_path")
  test("shortest_path: equi-joins only across relax rounds") {
    assert(!sp.contains("CartesianProduct") && !sp.contains("NestedLoop"),
      "frontier x adjacency hash joins; min fold per round")
  }

  // snapshot store: a time-travel read plans ONLY the dirs its
  // manifest lists — later snapshots' data must be invisible to it,
  // and the read is one multi-root scan + partial/final agg, no join
  private lazy val ttDf = SparkEntry.allQueries("snapshot_timetravel")(spark, sfDir)
  private lazy val ttFiles = ttDf.inputFiles
  test("snapshot_timetravel: scan limited to the as-of manifest") {
    assert(ttFiles.nonEmpty && ttFiles.forall(_.contains("/snap-1/")),
      s"${ttFiles.length} files, all under snap-1")
  }
  private lazy val tt = planOf(ttDf)
  test("snapshot_timetravel: one agg exchange over the manifest scan") {
    assert(occurrences(tt, "Exchange") <= 1 && !tt.contains("Join") &&
        occurrences(tt, "HashAggregate") >= 2)
  }
  private lazy val sbDf = SparkEntry.allQueries("snapshot_backfill")(spark, sfDir)
  test("snapshot_backfill: current read mixes carried + restated dirs") {
    assert(sbDf.inputFiles.exists(_.contains("/snap-1/")) &&
        sbDf.inputFiles.exists(_.contains("/snap-2/")),
      "partition-level reuse: backfill wrote only the restated month")
  }
  // MERGE commit: the copy-on-write rewrite is partition-pruned, so
  // the post-merge read must mix base dirs (untouched months carried
  // by reference from snap-1) with the merge's snap-2 dirs — a MERGE
  // that rewrote every partition would show no snap-1 files at all
  private lazy val smDf = SparkEntry.allQueries("snapshot_merge")(spark, sfDir)
  test("snapshot_merge: untouched partitions carried by reference") {
    assert(smDf.inputFiles.exists(_.contains("/snap-1/")) &&
        smDf.inputFiles.exists(_.contains("/snap-2/")),
      "copy-on-write rewrote only the touched months")
  }
  private lazy val sm = planOf(smDf)
  test("snapshot_merge: read is one multi-root scan + agg, no join") {
    assert(occurrences(sm, "Exchange") <= 1 && !sm.contains("Join") &&
        occurrences(sm, "HashAggregate") >= 2,
      "the merge resolve happened at COMMIT time, reads pay nothing")
  }
  // pure-SQL catalog path: the same committed history through
  // spark.sql must plan Spark's own vectorized parquet DSV2 scan
  // (BatchScan) over the manifest's carried + restated dirs — i.e.
  // the catalog reuses the full pushdown machinery, not a fallback
  // (one shared shape check per catalog lane: the mix assertion says
  // the manifest-resolved dir list spans both snapshots; the plan
  // assertion says the read rides Spark's own vectorized parquet
  // DSV2 machinery, with the commit resolve cost paid at COMMIT time)
  // (registers the lane's two tests; returns its scan files, built on
  // first use)
  private def catalogLaneAudit(lane: String, mixName: String,
      mixDetail: String): () => Seq[String] = {
    lazy val df = SparkEntry.allQueries(lane)(spark, sfDir)
    lazy val files = dsv2ScanFiles(df)
    test(s"$lane: $mixName") {
      assert(files.exists(_.contains("/snap-1/")) &&
        files.exists(_.contains("/snap-2/")), mixDetail)
    }
    test(s"$lane: DSV2 BatchScan + one agg exchange, no join") {
      val p = planOf(df)
      assert(p.contains("BatchScan") && occurrences(p, "Exchange") <= 1 &&
          !p.contains("Join") && occurrences(p, "HashAggregate") >= 2,
        "spark.sql path rides the parquet vectorized reader")
    }
    () => files
  }
  catalogLaneAudit("snapshot_sql",
    "catalog read mixes carried + restated dirs",
    "one pointer resolve fixed the dir list at table load")
  private val insFiles = catalogLaneAudit("snapshot_sql_insert",
    "append adds parts alongside the originals",
    "INSERT INTO = appendPartitions: nothing dropped, nothing restated")
  // the append-vs-restate distinguisher: under APPEND, a month that
  // received an inserted row KEEPS its original snap-1 dir and gains
  // a snap-2 dir beside it — the same month reads from both
  // snapshots. A restating write leaves every month in exactly one.
  // (The snap-1+snap-2 mix alone can't tell: a partial restatement
  // also leaves its untouched months on snap-1.)
  private def partMonths(files: Seq[String], snap: String): Set[String] =
    files.flatMap(
      s"/$snap/__part=([^/]+)/".r.findFirstMatchIn(_).map(_.group(1))
    ).toSet
  test("snapshot_sql_insert: a touched month reads BOTH snapshots") {
    assert((partMonths(insFiles(), "snap-1")
        intersect partMonths(insFiles(), "snap-2")).nonEmpty,
      "append keeps the original dir and adds a new one beside it")
  }
  catalogLaneAudit("snapshot_sql_merge",
    "untouched partitions carried by reference",
    "CALL merge_into = mergeCommit: copy-on-write, touched months only")
  catalogLaneAudit("snapshot_sql_merge_stmt",
    "untouched partitions carried by reference",
    "native MERGE INTO statement = the same stats-pruned COW commit")
  private val owFiles = catalogLaneAudit("snapshot_sql_overwrite",
    "dynamic INSERT OVERWRITE mixes carried + restated dirs",
    "OverwritePartitionsDynamic routed through overwritePartitions")
  // restate-vs-append distinguisher for the overwrite lane: every
  // month reads from exactly ONE snapshot (the restated month moved
  // wholesale to snap-2; untouched months stayed on snap-1) — an
  // append would leave the touched month reading both
  test("snapshot_sql_overwrite: each month reads exactly one snapshot") {
    assert((partMonths(owFiles(), "snap-1")
        intersect partMonths(owFiles(), "snap-2")).isEmpty,
      "dynamic overwrite REPLACES the restated month's dirs")
  }
  // SQL partition DELETE (DROP PARTITION analogue): metadata-only —
  // the survivors' files are all the ORIGINAL snap-1 dirs (nothing
  // was rewritten; the dropped months are simply absent from the
  // manifest), and the read is the same vectorized scan + agg
  private lazy val delDf = SparkEntry.allQueries("snapshot_sql_delete")(spark, sfDir)
  private lazy val delFiles = dsv2ScanFiles(delDf)
  test("snapshot_sql_delete: survivors are the original dirs only") {
    assert(delFiles.nonEmpty && delFiles.forall(_.contains("/snap-1/")),
      "DELETE = one ~KB manifest commit, zero data IO at any table size")
  }
  private lazy val dl = planOf(delDf)
  test("snapshot_sql_delete: DSV2 BatchScan + one agg exchange, no join") {
    assert(dl.contains("BatchScan") && occurrences(dl, "Exchange") <= 1 &&
        !dl.contains("Join") && occurrences(dl, "HashAggregate") >= 2)
  }
  // native UPDATE / row-level DELETE: these lanes' mutations touch
  // ~10% of each hit month — UNDER graft.dv.maxDeleteFraction — so
  // they take the MERGE-ON-READ path: the commit attaches deletion
  // vectors (no partition restated), and the read anti-applies them
  // through ONE BROADCAST LeftAnti join (a map-side filter over the
  // scan — no shuffle of the data; the one shuffle left is the agg)
  // (registers the lane's two tests; returns its non-vector files)
  private def dvLaneAudit(lane: String): () => Seq[String] = {
    lazy val df = SparkEntry.allQueries(lane)(spark, sfDir)
    lazy val files = df.inputFiles.toSeq
    test(s"$lane: the deletion vector is read (merge-on-read)") {
      assert(files.exists(_.contains("/_dv/")),
        "small-fraction row-level DML must route to the DV path")
    }
    test(s"$lane: one broadcast anti-join, agg-only shuffle") {
      val p = planOf(df)
      val shuffles = occurrences(p, "Exchange") -
        occurrences(p, "BroadcastExchange")
      assert(p.contains("LeftAnti") && !p.contains("SortMergeJoin") &&
          shuffles <= 1 && occurrences(p, "HashAggregate") >= 2,
        "DV application is a broadcast anti-join, never a data shuffle")
    }
    () => files.filterNot(_.contains("/_dv/"))
  }
  private val updFiles = dvLaneAudit("snapshot_sql_update")
  test("snapshot_sql_update: sources keep their dirs; post-images " +
      "land as additive parts") {
    assert((partMonths(updFiles(), "snap-1")
        intersect partMonths(updFiles(), "snap-2")).nonEmpty,
      "a DV UPDATE = positions deleted in place + appended post rows")
  }
  // a DELETE has no additive parts: DV-routed months keep their
  // snap-1 dirs; any month a tiny-SF fraction pushed over the
  // threshold restates WHOLESALE (never reads both snapshots)
  private val delrFiles = dvLaneAudit("snapshot_sql_delete_rows")
  test("snapshot_sql_delete_rows: DV months carried, COW months " +
      "moved wholesale") {
    assert(delrFiles().exists(_.contains("/snap-1/")) &&
        (partMonths(delrFiles(), "snap-1")
          intersect partMonths(delrFiles(), "snap-2")).isEmpty,
      "a DV DELETE commits O(positions); an over-fraction month " +
        "restates copy-on-write")
  }
  // CTAS-created table: the read rides the same vectorized DSV2
  // machinery as every other entry point — lifecycle via SQL DDL
  // must not degrade the scan
  private lazy val ctasDf = SparkEntry.allQueries("snapshot_sql_ctas")(spark, sfDir)
  private lazy val ctasPlan = planOf(ctasDf)
  test("snapshot_sql_ctas: DSV2 BatchScan + one agg exchange, no join") {
    assert(ctasPlan.contains("BatchScan") &&
        occurrences(ctasPlan, "Exchange") <= 1 &&
        !ctasPlan.contains("Join") &&
        occurrences(ctasPlan, "HashAggregate") >= 2,
      "a DDL-created table reads like a Scala-created one")
  }
  // rollback (Delta RESTORE analogue): publishing the restored head
  // is a ~KB manifest commit — the read after rolling back two bad
  // DML commits scans the ORIGINAL snap-1 dirs only, nothing copied
  private lazy val rbDf = SparkEntry.allQueries("snapshot_rollback")(spark, sfDir)
  private lazy val rbFiles = dsv2ScanFiles(rbDf)
  test("snapshot_rollback: the restore is metadata-only") {
    assert(rbFiles.nonEmpty && rbFiles.forall(_.contains("/snap-1/")),
      "the restored head carries the original dirs by reference")
  }

  // the two r11-verdict weak marks, de-windowed in round 12: vocab
  // id assignment rides GlobalIndex (range shuffle + offset fold —
  // NO window operator at all), and model_auc's cumulative count
  // rides PrefixSum (a window PARTITIONED by the range id — never
  // an empty partition spec funneling the score set into one task)
  // (the range shuffle itself lives inside the pinned checkpoint's
  // subplan — validated by GlobalIndexSpec/PrefixSumSpec — so the
  // audit fingerprints what the FINAL plan must and must not show)
  private lazy val vb = plan("vocab_build")
  test("vocab_build: GlobalIndex ids, no window, no single partition") {
    assert(!vb.contains("Window") && !vb.contains("SinglePartition") &&
        vb.contains("shiftrightunsigned"),
      "token ids from per-range local ranks + offsets, zero Window ops")
  }
  private lazy val ma = plan("model_auc")
  test("model_auc: prefix sums ride a PARTITIONED window") {
    assert(ma.contains("Window") && ma.contains("[__pid") &&
        occurrences(ma, "Window") == 1,
      "cumulative counts per __pid range, lifted by literal offsets")
  }

  // the row-exact CDC feed reads ONLY sidecar files for a DML-only
  // range — the restated partition dirs must be invisible to it
  private lazy val cdfDf = SparkEntry.allQueries("snapshot_cdf_rowlevel")(spark, sfDir)
  private lazy val cdfFiles = cdfDf.inputFiles
  test("snapshot_cdf_rowlevel: feed reads sidecars only") {
    assert(cdfFiles.nonEmpty && cdfFiles.forall(_.contains("/_cdc/")),
      "DML change rows come from _cdc sidecars, never restated dirs")
  }

  // storage-partitioned join: two bucket(16,o_orderkey) snapshot
  // tables report KeyGroupedPartitioning, so the fact-to-fact
  // sort-merge join plans with ZERO exchanges — the only shuffle in
  // the whole query is the month aggregation after the join
  private lazy val spj = plan("snapshot_spj")
  test("snapshot_spj: no exchange under the co-bucketed join") {
    assert(spj.contains("SortMergeJoin") && occurrences(spj, "Exchange") == 1,
      "KeyGroupedPartitioning scans; only the agg shuffles")
  }
  // the TIME-transform SPJ: two months(date)-partitioned tables —
  // the reference's own MergeTree month layout — join exchange-free
  // through the graft V2 years/months/days/hours functions
  private lazy val spjT = plan("snapshot_spj_time")
  test("snapshot_spj_time: no exchange under the months(date) join") {
    assert(spjT.contains("SortMergeJoin") &&
        occurrences(spjT, "Exchange") == 1,
      "time-transform KeyGroupedPartitioning; only the agg shuffles")
  }

  // metadata-only aggregates: whole-table count/min/max answered
  // from manifest stats — the plan must contain NO scan node of any
  // kind (the lane itself also hard-requires this, but the audit
  // pins the DV-count variant's plan too)
  private lazy val maggStats = plan("snapshot_agg_stats")
  test("snapshot_agg_stats: scan-free manifest-stats aggregate") {
    assert(!maggStats.contains("BatchScan") && !maggStats.contains("FileScan") &&
        occurrences(maggStats, "Exchange") == 0,
      "COUNT/MIN/MAX fold to literals; zero scans, zero shuffles")
  }
  private lazy val maggDv = plan("snapshot_agg_dv_count")
  test("snapshot_agg_dv_count: DV-exact count without a scan") {
    assert(!maggDv.contains("BatchScan") && !maggDv.contains("FileScan") &&
        occurrences(maggDv, "Exchange") == 0,
      "live rows = stats rows − DV positions, answered on the driver")
  }

  // manifest-stats file skipping: the planned scan's FilePartitions
  // (not the file index — deliberately unpruned) carry ONLY the
  // month dirs whose [min,max] overlap the probe's time range. The
  // lane itself hard-requires this; the audit re-derives it from
  // the planned partitions so a lane-side assertion regression is
  // caught independently.
  private lazy val pruneDf = SparkEntry.allQueries("snapshot_stats_prune")(spark, sfDir)
  private lazy val pruneDirs = pruneDf.queryExecution.optimizedPlan.collect {
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.scan
  }.collect {
    case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      f.planInputPartitions().toSeq.collect {
        case fp: org.apache.spark.sql.execution.datasources
            .FilePartition => fp.files.toSeq
      }.flatten.map(_.filePath.toPath.getParent.getName)
  }.flatten.toSet
  test("snapshot_stats_prune: scan plans only range-overlapping dirs") {
    assert(pruneDirs.nonEmpty && pruneDirs.forall(dir =>
        Seq("1997-06", "1997-07", "1997-08", "1997-09")
          .exists(dir.contains)),
      s"planned dirs after manifest-stats skipping: ${pruneDirs.size}")
  }

  // FILE-grain skipping: the 7-day probe inside one binpacked month
  // plans a strict subset of that month's slice files — the dir
  // stays, the non-overlapping slices drop (the lane hard-requires
  // the exact subset relation; the audit fingerprints the plan's
  // file count against the dir's on-disk count independently)
  private lazy val fpDf = SparkEntry.allQueries("snapshot_file_prune")(spark, sfDir)
  private lazy val fpFiles = fpDf.queryExecution.optimizedPlan.collect {
    case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.scan
  }.collect {
    case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      f.planInputPartitions().toSeq.collect {
        case fp: org.apache.spark.sql.execution.datasources
            .FilePartition => fp.files.toSeq
      }.flatten.map(_.filePath.toPath)
  }.flatten
  private lazy val fpDirs = fpFiles.map(_.getParent).distinct
  private lazy val fpOnDisk = fpDirs.map(d =>
    Option(new java.io.File(d.toString.stripPrefix("file:"))
      .listFiles()).map(_.count(_.getName.endsWith(".parquet")))
      .getOrElse(0)).sum
  test("snapshot_file_prune: planned files ⊂ the kept dir's slices") {
    assert(fpDirs.size == 1 && fpFiles.nonEmpty && fpFiles.size < fpOnDisk,
      s"one June dir, ${fpFiles.size} of $fpOnDisk slices planned")
  }

  // equality-delete read shape: displacement is ONE broadcast
  // anti-join over the data scan — a map-side filter, never a
  // shuffle of the data side (SortMergeJoin/exchange would mean the
  // whole table shuffles to drop a handful of displaced rows)
  private lazy val eqDf = SparkEntry.allQueries("stream_upsert_eqdel")(spark, sfDir)
  private lazy val eqPlan = eqDf.queryExecution.executedPlan.toString
  test("stream_upsert_eqdel: displacement is a broadcast anti-join") {
    assert(eqPlan.contains("LeftAnti") &&
        eqPlan.contains("BroadcastHashJoin") &&
        !eqPlan.contains("SortMergeJoin"),
      "eq-delete keys broadcast; the state scan never shuffles")
  }
}
