package graft.streaming

import graft.functions.{TextFunctions => TF}
import graft.operators.QualityRules
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming tier over the DOCUMENTS corpus — the streaming
  * ingest shape of an LLM data pipeline (documents arrive continuously
  * from a crawler; the quality gate runs on the stream, not in a nightly
  * batch). File-stream source with an explicit schema (no inference job
  * on the stream), same discipline as [[EventsStream]].
  */
object DocsStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-stream over documents.parquet. */
  def docsRawStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  /** Streaming NEAR-DUP ingestion gate — the always-on form of
    * incremental dedup ([[graft.operators.Dedup.incrementalDedup]]):
    * documents arrive as a stream ("today's increment", doc_id ≡ 0
    * mod 5) and are probed against the LSH band index of the
    * already-ingested corpus (doc_id ≢ 0 mod 5, a STATIC table). The
    * portable MinHash family is computed ROW-LOCALLY on the stream
    * ([[graft.operators.Dedup.portableBandKeysFromHashes]] — a
    * signature needs no aggregation, so the probe is a stateless
    * projection + explode + stream-static broadcast join; the only
    * state is the per-doc-id dedup of multi-band matches, which
    * production would bound with `dropDuplicatesWithinWatermark`).
    * At 100 TB/day this is the ingestion-time dedup gate: the band
    * index is the thing that fits in memory (distinct (band, key)
    * pairs, refreshed as the corpus grows), and each arriving doc
    * costs `bands` index lookups — never a corpus scan.
    *
    * Deterministic end to end (md5 mod-arith family, disjoint id
    * split, match-or-not is cut-invariant), so the drained stream
    * equals the batch replay exactly — the DuckDB oracle re-derives
    * both sides' band keys and applies the same semi-join. */
  def streamingNearDupGate(spark: SparkSession, sfDir: String,
      queryName: String = "doc_neardup_gate"): DataFrame = {
    import graft.operators.Dedup
    val corpus = graft.Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("norm_text", TF.normalize(col("text")))
    val corpusBands = Dedup
      .shingleSets(corpus, "doc_id", "norm_text", shingleLen = 3)
      .filter(size(col("sh")) > 0)
      .withColumn("h0", Dedup.portableShingleHashes(col("sh")))
      .select(posexplode(Dedup.portableBandKeysFromHashes(col("h0")))
        .as(Seq("band", "bkey")))
      .distinct()
    val streamBands = docsRawStream(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("source"),
        graft.functions.ShingleFunctions.distinctShingles(
          TF.tokens(TF.normalize(col("text"))), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("h0", Dedup.portableShingleHashes(col("sh")))
      .select(col("doc_id"), col("source"),
        posexplode(Dedup.portableBandKeysFromHashes(col("h0")))
        .as(Seq("band", "bkey")))
    val matched = streamBands
      .join(broadcast(corpusBands), Seq("band", "bkey"))
      .select(col("doc_id"), col("source"))
      .dropDuplicates("doc_id")
    val flagged = StreamDrain.toMemory(matched, "append", queryName)
      .groupBy(col("source")).agg(count(lit(1)).as("n_flagged"))
    graft.Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n_stream"))
      .join(flagged, Seq("source"), "left")
      .select(col("source"), col("n_stream"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (col("n_stream") - coalesce(col("n_flagged"), lit(0L)))
          .as("n_pass"))
  }

  /** Streaming quality gate: the [[QualityRules]] Gopher battery
    * applied per arriving micro-batch (a pure projection — no state),
    * with a complete-mode (lang, gopher_pass) count on top. The
    * projection+count composition is micro-batch-cut invariant, so the
    * drained stream equals the batch aggregation row for row — which is
    * the oracle. At 100 TB/day this is the always-on ingest monitor:
    * per-language pass rates maintained continuously, rejected docs
    * filterable in the same pass. */
  def streamingQualityGate(spark: SparkSession, sfDir: String,
      queryName: String = "doc_quality_gate"): DataFrame = {
    val flagged = QualityRules.gopherMetrics(
      docsRawStream(spark, sfDir)
        .withColumn("norm_text", TF.normalize(col("text"))),
      keep = Seq("lang"))
    val counts = flagged.groupBy(col("lang"), col("gopher_pass"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"))
    StreamDrain.toMemory(counts, "complete", queryName)
  }
}
