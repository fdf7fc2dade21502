package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{cents, dist2, dot, r6}
import graft.operators.{IvfIndex, KnnSearch, LshAnn}

/** In-memory ANN searches over the corpus, each rebuilding its index
  * family's layout inside the scan: the references the installed-layout
  * searches (`IvfIndex.search`, `LshAnn.search`, `PqIndex.searchIvfPq`,
  * `PqIndex.searchIvfPqResidual`) are compared against. Same query
  * (vec 0), parameters, output rows and ordering contract; the PQ
  * scores come from the [[PqHof]] folds. The relational probes
  * ([[nearestClusters]], [[probeClusters]]) are the spec references of
  * the native `IvfIndex.probe` (AnnParitySpec).
  */
object InMemoryAnn {

  /** The posexplode formulation of `IvfIndex.meanVectors` — the numeric
    * spec the oracle mirrors (per-(cluster, pos) integerized sums,
    * reassembled by sorted pos).
    */
  def meanVectorsExploded(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(sum(cents(col("v").cast("double"), 1e9)).as("s"), count(lit(1)).as("n"))
      .withColumn("m", col("s") / (lit(1e9) * col("n")))
      .groupBy(col("cluster_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cvec"))

  /** The probe rule, single-query form: the `nprobe` centroids of
    * `cents` (cluster_id, cvec) nearest the one-row (qvec) `query`,
    * ordered by (d², cluster_id) — a TakeOrdered over the centroid ×
    * query cross, as a lazy (cluster_id) frame.
    */
  def nearestClusters(cents: DataFrame, query: DataFrame, nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(query))
      .withColumn("cd2", dist2(col("cvec"), col("qvec")))
      .orderBy(col("cd2").asc, col("cluster_id").asc)
      .limit(nprobe)
      .select("cluster_id")

  /** The probe rule, per-query form: of the (query_id, qvec) ×
    * (cluster_id, cvec) `pairs`, each query's `nprobe` nearest clusters
    * under the same (d², cluster_id) order, as (query_id, cluster_id,
    * qvec, rn) probe rows — `rn` the probe's rank, 1 for the nearest.
    */
  def probeClusters(pairs: DataFrame, nprobe: Int): DataFrame =
    pairs
      .withColumn("cd2", dist2(col("cvec"), col("qvec")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cd2").asc, col("cluster_id").asc)))
      .filter(col("rn") <= nprobe)
      .select("query_id", "cluster_id", "qvec", "rn")

  /** IVF: the corpus assigned to the seed centroids in the scan, the
    * nprobe nearest clusters kept, brute-force top-k inside them.
    */
  def ivfSearch(spark: SparkSession, dir: String, nprobe: Int = 3, k: Int = 10): DataFrame = {
    val q = KnnSearch.queryVec(spark, dir)
    val probed = nearestClusters(IvfIndex.centroids(spark, dir), q, nprobe)
    IvfIndex.assignedEmbeddings(spark, dir)
      .join(broadcast(probed), "cluster_id")
      .crossJoin(broadcast(q))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("cluster_id"), col("vec_id"), r6(col("score")).as("score"))
  }

  /** LSH: the corpus bucketed in the scan, the query's bucket kept,
    * top-k by dot.
    */
  def lshSearch(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"), LshAnn.bucketOf(col("embedding")).as("qbucket"))
    LshAnn.bucketedOf(Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding")))
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("qbucket"))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("bucket"), col("vec_id"), r6(col("score")).as("score"))
  }

  /** IVF+PQ: cluster assignment and the fused encode+ADC score in one
    * corpus scan, the probed clusters' top `candidates` by approximate
    * score, exact rescore.
    */
  def searchIvfPq(spark: SparkSession, dir: String, nprobe: Int = 3,
      candidates: Int = 50, k: Int = 10): DataFrame = {
    val q = KnnSearch.queryVec(spark, dir)
    val probed = nearestClusters(IvfIndex.centroids(spark, dir), q, nprobe)
    val cand = PqHof.adcScoredHof(spark, dir, q)
      .withColumn("cluster_id",
        IvfIndex.nearest(col("embedding"), IvfIndex.centroids(spark, dir))
          .getField("cluster_id"))
      .join(broadcast(probed), "cluster_id")
      .select(col("cluster_id"), col("vec_id"), col("embedding"), col("approx_e9"))
      .orderBy(col("approx_e9").desc, col("vec_id").asc)
      .limit(candidates)
    KnnSearch.rescore(cand.crossJoin(broadcast(q)), "qvec", k)
      .select(col("cluster_id"), col("vec_id"),
        r6(col("approx_e9") / 1e9).as("approx_score"), r6(col("exact")).as("score"))
  }

  /** Residual IVF+PQ: score = dot(q, c) + Σ_s dot(q_s, r̂_s), the
    * per-cluster constant plus the fused residual ADC score, over the
    * probed clusters; top `candidates`, exact rescore.
    */
  def searchIvfPqResidual(spark: SparkSession, dir: String, nprobe: Int = 3,
      candidates: Int = 50, k: Int = 10): DataFrame = {
    val q = KnnSearch.queryVec(spark, dir)
    val cents0 = IvfIndex.centroids(spark, dir)
    val probed = nearestClusters(cents0, q, nprobe)
    val constDf = cents0.crossJoin(broadcast(q))
      .select(col("cluster_id"), cents(dot(col("cvec"), col("qvec")), 1e9).as("const_e9"))
    val cand = PqHof.residualScoredHof(spark, dir, q)
      .join(broadcast(probed), "cluster_id")
      .join(broadcast(constDf), "cluster_id")
      .withColumn("approx_e9", col("const_e9") + col("res_e9"))
      .select(col("cluster_id"), col("vec_id"), col("embedding"), col("approx_e9"))
      .orderBy(col("approx_e9").desc, col("vec_id").asc)
      .limit(candidates)
    KnnSearch.rescore(cand.crossJoin(broadcast(q)), "qvec", k)
      .select(col("cluster_id"), col("vec_id"),
        r6(col("approx_e9") / 1e9).as("approx_score"), r6(col("exact")).as("score"))
  }
}
