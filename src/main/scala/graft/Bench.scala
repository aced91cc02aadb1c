package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness (SURVEY.md §3 E1): mirrors the reference's
  * `perf stat -r N` discipline (reference src/benchmark_clickhouse.sh:26,
  * README.md:696-699 — mean ± stddev over 10 runs, <1% variance treated
  * as "measurement is trustworthy") — per-query warmups then repeated
  * measured runs.
  *
  * Robustness (this host has documented intermittent ~10× stalls):
  *   - ≥5 measured runs per query, MEDIAN reported (outlier-immune);
  *   - when max/min > 3× the sample is contaminated — up to `repeats`
  *     extra runs are taken so the median sits on healthy samples;
  *   - stddev over the retained samples is emitted alongside;
  *   - all numbers formatted under Locale.ROOT (a comma-decimal default
  *     locale would emit invalid JSON).
  *
  * Headline queries are the four reference benchmark aggregations
  * (SURVEY.md §2.4 A1-A4) plus one representative of each extension
  * family (join, dedup, ANN, text, streaming-equivalent sessionize) so
  * the bench tracks the whole operator surface, not just the easy scans.
  *
  * Output: ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"stddev":{...},"sf":...}
  * printed to stdout AND written verbatim to $SPARK_GRAFT_BENCH_OUT
  * (default bench_result.json in the cwd) so the driver can machine-read
  * it even when a build tool prefixes stdout lines.
  */
object Bench {

  /** Queries timed per round. Order fixed for stable output. */
  val headline: Seq[String] = Seq(
    "q1_count_by_flag", "q2_avg_by_status", "q3_count_by_flag_year",
    "q4_count_3key_sorted", "q7_denorm_join", "q9_projection",
    "dedup_exact", "dedup_minhash", "ann_bruteforce",
    "text_stats", "sessionize", "asof_join", "range_join",
    // reference-schema pipeline: warmup triggers the one-time
    // CSV→staging→transform→MergeTree chain; measured runs then time the
    // benchmark queries against the materialized analytic table, exactly
    // like the reference (load once, benchmark queries after).
    "taxi_e2e_q1", "taxi_e2e_q4",
    // round-2 operator lanes: iterative connected components, BM25
    // scoring, and the co-located bucketed join (bucket write happens
    // once in warmup — the amortization the layout exists for)
    "dedup_clusters", "text_bm25", "bucketed_join",
    // round-3 lanes: whole-doc sequence packing (shuffle + sorted
    // partition fold), cross-doc boilerplate removal (explode +
    // dictionary join), and the native-vs-compositional as-of A/B
    // (asof_join above is the union+window form; this is the custom
    // merge exec on the same data and oracle)
    "pack_nextfit", "boilerplate_clean", "asof_join_native",
    // round-3 second wave: bigram-LM scoring (two vocabulary-keyed
    // shuffle joins — the heaviest new lane) and the bucketized
    // interval lookup (broadcast hash join replacing nested-loop)
    "text_lm_score", "interval_lookup",
    // third wave: the optimizer-rule tier — the NAIVE non-equi
    // proximity join, auto-rewritten to the bucketized hash join
    "range_rewrite",
    // fourth wave: the explode-heavy text operators (skip-gram PMI,
    // repeated-span fingerprints) and the blocked edit-distance
    // linkage — the three heaviest round-3 additions
    "text_pmi", "span_dedup", "fuzzy_link",
    // round-4 lanes: the bounded-top-k inverted index (one token
    // shuffle, O(k) buffers), the A-ES weighted sampler
    // (WindowGroupLimit prune), and the double as-of interpolation
    "inverted_index", "weighted_sample", "resample_interp",
    // content-defined chunking: the per-position hash stage is the
    // heaviest new map stage (element_at char array, NOT O(p)
    // substrings — the 16s→2.5s lesson)
    "cdc_chunks",
    // round-4 second wave: the bounded-state histogram quantile (one
    // fact shuffle of (group,bin) pairs), the one-scan end-to-end
    // preprocessing funnel (langid+quality+dedup flags in one pass),
    // and the point-in-time feature join (SCD-2 build + native as-of
    // merge — two window passes and one merge join)
    "quantile_hist", "pipeline_e2e", "pit_join",
    // round-4 third wave: runtime pruning (partition-level DPP with the
    // partitioned fact written once in warmup; row-level Bloom-pruned
    // join building its filter per run — the build IS the operator) and
    // the full-outer-join MERGE resolve
    "dpp_join", "q42_bloom_join", "merge_upsert",
    // round-5: SemDeDup — centroid train + broadcast assignment +
    // within-assigned-cluster pairs + star-contraction components —
    // and DSIR importance resampling (one bigram pass scored under two
    // merged LM count tables + Gumbel top-k)
    "semantic_dedup", "importance_resample",
    // round-6: distributed GD training — iters+2 aggregation jobs over
    // a checkpointed standardized-feature frame (the model-in-the-loop
    // trainer behind quality_model_score's weights) — and PQ ADC search
    // (train fan-out against broadcast codebooks + table-lookup pricing)
    "lr_train", "ann_pq",
    // round-6 second wave: the Gopher regex battery (pure map — tracks
    // scan-stage regex throughput), the df-capped sparse-cosine pair
    // join (term-keyed self-join, the all-pairs fan-out under its
    // bound), and whole-vector KMeans (iterative trainer: per-iteration
    // assignment fan-out + pinned codebook chain)
    "gopher_rules", "sparse_cosine_pairs", "kmeans_train",
    // round-6 third wave: per-row zlib in the scan stage — the
    // compression-ratio quality signal's cost is one native deflate
    // per document, the whole-doc redundancy probe
    "quality_compress",
    // the codegen'd row-local MinHash band stage (the streaming gate's
    // hot path: n string hashes + n·k long mixes per doc, no HOF
    // dispatch) and a full streaming drain (file source → watermark →
    // windowed agg → memory sink at sf0.1 — micro-batch overhead is
    // the dominant term, the engine cost a live deployment pays)
    "neardup_bands", "stream_hourly_stats",
    // round-6 fourth wave: the Expand-based 6× sliding-window fan-out
    // (tracks the pre-shuffle row-expansion cost the tumbling lanes
    // never pay) and the RANGE-frame rolling z-score monitor (one
    // count shuffle + one in-partition window sort)
    "sliding_window_stats", "anomaly_zscore",
    // round-6 fifth wave: global contiguous row index at fact-table
    // volume (range shuffle + in-partition sort + offset lift — the
    // no-single-partition-window total order)
    "global_index_big",
    // round-6 sixth wave: the sorted-fold windowed funnel (one user
    // shuffle + per-user HOF fold — funnel depth adds zero shuffles),
    // degree-oriented triangle counting (wedge join volume capped at
    // m^1.5 by orientation), the codegen'd char-entropy scan
    // projection, and the one-pass DQ constraint battery + FK
    // anti-join
    "funnel_conversion", "triangle_count", "char_entropy",
    "dq_constraints",
    // round-6 seventh wave: the geo surface — haversine trig fused in
    // the scan stage (pure-map throughput) and the 0.01° grid heatmap
    // (one cell-keyed shuffle bounded by grid cardinality)
    "geo_distance", "geo_gridcells",
    // round-7: the manifest-pointer snapshot read — warmup builds the
    // two-snapshot history once; measured runs price resolve-pointer →
    // multi-root scan → aggregate, i.e. the read-side overhead the
    // atomic-commit layer adds over a plain parquet read (the answer
    // should be ≈ nothing: one ~KB file read before planning)
    "snapshot_backfill",
    // round-8: the same committed history through the pure-SQL catalog
    // (GraftSnapshotCatalog → ParquetTable DSV2 BatchScan) — prices
    // what the SQL front-end adds over the Scala read path above
    // (the answer should again be ≈ nothing)
    "snapshot_sql",
    // round-9: the full table-format write surface — warmup commits
    // the copy-on-write MERGE (stats-pruned discovery) / SQL INSERT /
    // SQL CALL merge once; measured runs price the read of the
    // resulting multi-commit manifests (restated + carried-by-
    // reference + appended entries), which must stay ≈ a plain
    // multi-root parquet read
    "snapshot_merge", "snapshot_sql_insert", "snapshot_sql_merge",
    // round-10: the statement-form write surface — native MERGE INTO
    // and dynamic-partition INSERT OVERWRITE commit in warmup; the
    // measured read must stay ≈ a plain multi-root parquet read
    "snapshot_sql_merge_stmt", "snapshot_sql_overwrite",
    // round-11: row-level copy-on-write DML — native UPDATE and
    // row-granular DELETE commit in warmup; measured reads price the
    // carried + restated manifest exactly like the other DML lanes
    "snapshot_sql_update", "snapshot_sql_delete_rows",
    // round-13: the storage-partitioned join — the co-bucketed
    // fact-to-fact sort-merge join runs with ZERO join exchanges
    // (KeyGroupedPartitioning scans); the measured body is the join
    // itself, the one lane whose cost model CHANGES with SPJ
    "snapshot_spj",
    // round-14: the metadata-query economics — whole-table
    // COUNT/MIN/MAX folding to manifest-stat literals (the measured
    // body is ~a manifest read: the number should be near-constant in
    // data size), and the stats-skipped time-range probe (the scan
    // plans only range-overlapping month dirs — the cost model is
    // O(selected months), not O(table))
    "snapshot_agg_stats", "snapshot_stats_prune",
    // round-14: targeted maintenance — the fold/vector-fold/
    // carry-by-reference rewrite runs in warmup; the measured read
    // prices the post-maintenance layout, which must again be ≈ a
    // plain multi-root parquet read (binpacked files, no vectors)
    "snapshot_rewrite_files",
    // round-14: file-grain skipping — the 7-day probe plans a strict
    // subset of one month's binpacked slices; the cost model is
    // O(overlapping slices), the finest skipping grain in the engine
    "snapshot_file_prune")

  private[graft] def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Execute the full plan without collecting rows to the driver beyond
    * the aggregate result: count() on a cached-nothing plan would let
    * Catalyst prune work, so materialize via a no-op foreach instead. */
  private[graft] def run(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def stddev(xs: Seq[Double]): Double = {
    val m = xs.sum / xs.size
    math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
  }

  private[graft] def fmt(v: Double): String = String.format(Locale.ROOT, "%.4f", v)

  /** Bench lanes resolve from the full registry: oracle-swept lanes
    * plus the spec-pinned production-hash lanes (e.g. dedup_minhash). */
  private def benchQuery(name: String) = SparkEntry.allQueries.get(name)

  /** One timed run of `f`, then the UNTIMED sweep of every pinned
    * checkpoint block (see main), so no sample pays for its
    * predecessors' leftovers. */
  private[graft] def timedRun(spark: SparkSession)(f: => Unit): Double = {
    val t = time(f)
    graft.util.Checkpoints.releaseAllAndGc(spark)
    t
  }

  /** Measure one query: `repeats` samples (each evaluation of `sample`
    * is one run's seconds), then while the spread looks contaminated
    * (max/min > 3×) take extra samples, up to 2×`repeats` more.
    * The reported median/stddev are computed over the HEALTHY samples
    * only — those within 3× of the minimum. The workload is
    * deterministic, so on an idle host every run costs the same; the
    * minimum is the cleanest estimate of true plan cost and anything 3×
    * above it is the host's documented intermittent stall, not the
    * query. All raw samples are still logged to stderr for audit.
    * Returns (median, stddev, all samples). */
  private[graft] def measure(repeats: Int)(
      sample: => Double): (Double, Double, Seq[Double]) = {
    require(repeats >= 1,
      s"repeats must be at least 1 (SPARK_GRAFT_REPEATS), got $repeats")
    var times = (1 to repeats).map(_ => sample)
    def healthy = times.filter(_ <= math.max(times.min, 1e-9) * 3.0)
    var extra = 0
    while (healthy.size < repeats && extra < 2 * repeats) {
      times :+= sample
      extra += 1
    }
    // sub-second lanes sit on the ~0.1-0.4 s scheduling floor, where a
    // 5-sample median jitters 1.3-1.5× round-over-round from host noise
    // alone (r8 trends flagged geo_gridcells/anomaly_zscore/char_entropy
    // on exactly this). More samples, not wider tolerance: cheap lanes
    // are cheap to re-run, so take 3× (under 0.2 s) or 2× (under 0.5 s)
    // the usual count and let the median converge.
    // target counts HEALTHY samples (times.size would double-count the
    // contaminated retries above and starve the exact noisy-cheap case
    // this exists for); the hard cap bounds a pathologically stalling
    // host
    // r9 trends still flagged 1.3× host-noise drift on 0.7-2 s lanes
    // (global_index_big, q2-class) at 5 samples — extend the ladder
    // with a 1.5× tier up to 2 s medians
    val target =
      if (median(healthy) < 0.2) repeats * 3
      else if (median(healthy) < 0.5) repeats * 2
      else if (median(healthy) < 2.0) math.ceil(repeats * 1.5).toInt
      else repeats
    while (healthy.size < target && times.size < target + 2 * repeats)
      times :+= sample
    val h = healthy
    (median(h), stddev(h), times)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "5").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    // local-dev override: bench only the named queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").toSet)
    val spark = GraftSession.local(GraftSession.envCpus)

    val results = headline
      .filter(n => only.forall(_.contains(n)))
      .flatMap { name =>
        benchQuery(name).map { fn =>
          try {
            // every lane construction eagerly localCheckpoints working
            // frames; left in place they accumulate across the 37-lane
            // × (warmups + ≥5 runs) sweep and contaminate later lanes
            // (r4: dedup_clusters recorded 4.23 s mid-sequence vs
            // 1.22 s clean-session). Each run rebuilds its frames from
            // source, so sweeping ALL pinned blocks after every sample
            // is safe — and untimed, so the sweep never pollutes the
            // measurement itself.
            (1 to warmups).foreach { _ =>
              run(fn(spark, sfDir)); graft.util.Checkpoints.releaseAllAndGc(spark)
            }
            val (med, sd, samples) =
              measure(repeats)(timedRun(spark)(run(fn(spark, sfDir))))
            System.err.println(s"[bench] $name median=${fmt(med)}s " +
              s"sd=${fmt(sd)} samples=${samples.map(fmt).mkString(",")}")
            (name, med, sd)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              (name, -1.0, 0.0)
          }
        }
      }
    val qs = results.map { case (k, v, _) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val sds = results.map { case (k, _, sd) => s""""$k":${fmt(sd)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"stddev":$sds,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] json written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stdout carries a COMPACT summary line only: the full 57-lane line
    // (~3.5 KB) outgrew the driver's bounded stdout-tail capture, so
    // BENCH_r06/r07 recorded parsed:null even though the run was clean.
    // The per-lane detail lives in the artifact file above (and on
    // stderr per lane); this line stays well under any tail window. The
    // four reference headline medians ride along so the driver record
    // is self-contained for the numbers BASELINE.md gates on.
    // a failed lane is ABSENT here, not -1: a gate comparing these
    // medians against baseline thresholds would read -1 as
    // faster-than-baseline and false-pass (n_failed flags the run)
    // r15: four COMPUTE-BOUND lanes ride along (additions only — q1-q4
    // and the total/sf contract unchanged). The driver's CPU-scaling
    // probe compares this map across core counts; q1-q4 are
    // single-row-group scan-bound (one scan task at ANY core count,
    // PERF_r14 ratios ≈1 → suspect_cpus_ignored), while these four
    // spread/shuffle above the scan and so actually move with cores.
    val headline4 = results.filter(r => Set("q1_count_by_flag",
      "q2_avg_by_status", "q3_count_by_flag_year",
      "q4_count_3key_sorted", "geo_distance", "semantic_dedup",
      "triangle_count", "text_lm_score").contains(r._1) && r._2 >= 0)
      .map { case (k, v, _) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""n_lanes":${results.size},""" +
        s""""n_failed":${results.count(_._2 < 0)},""" +
        s""""queries":$headline4,"sf":"$sfDir","detail":"$outPath"}""")
    spark.stop()
  }
}
