package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.util.ParquetOpen
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN — the centroid-partitioned scale path the
  * build brief names alongside LSH: cluster the corpus once (Spark ML
  * KMeans, seeded → deterministic), store each vector under its nearest
  * centroid, and search only the `nProbe` centroids closest to the
  * query.
  *
  * At 100 TB the cell id is the partition/bucket key: the corpus is
  * written `partitionBy(cell)` once, a probe touches nProbe/k of the
  * data, and the tiny centroid table broadcasts. Here the index is built
  * inline (testdata-sized); a production pipeline persists
  * [[IvfIndex.build]]'s output and reuses it across queries.
  */
object IvfIndex {

  case class Index(centroids: DataFrame, assigned: DataFrame)

  /** Fit k centroids and assign every corpus vector to its nearest.
    * The float array column converts declaratively via
    * `array_to_vector` (double-cast first — the converter is typed),
    * keeping the whole pipeline columnar: no RDD hop, no positional
    * row access. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, seed: Long = 42L): Index = {
    import spark.implicits._
    val ml = corpus.select(col(idCol),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .fit(ml)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq.toDF("cell", "centroid")
    val assigned = model.transform(ml)
      .select(col(idCol), col("prediction").as("cell"))
      .join(corpus, Seq(idCol))
    Index(centroids, assigned)
  }

  /** Persist the index partitioned by cell — at scale a probe then
    * touches only its nProbe cell directories (partition pruning on the
    * equi-join key), and the index is built once and reused across
    * query batches. */
  def write(index: Index, path: String): Unit = {
    index.centroids.write.mode("overwrite")
      .parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/assigned")
  }

  /** Reload a persisted index. `cell` comes back as a partition column
    * (int). */
  def read(spark: SparkSession, path: String): Index =
    Index(
      ParquetOpen.read(spark, s"$path/centroids"),
      ParquetOpen.read(spark, s"$path/assigned"))

  /** Top-k cosine search over the nProbe nearest cells per probe. */
  def search(index: Index, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pvec"))
    // rank cells per probe by centroid distance; keep nProbe
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val probeCells = p.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", VF.l2DistanceSq(col("pvec"), col("centroid")))
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= nProbe)
      .select(col("probe_id"), col("pvec"), col("cell"))
    // scan only the selected cells
    val cand = index.assigned
      .select(col("cell"), col(idCol).as("cand_id"), col(vecCol).as("cvec"))
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    cand
      .withColumn("cos", round(VF.cosineSimilarity(col("pvec"), col("cvec")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("cand_id"), col("cos"))
  }
}
