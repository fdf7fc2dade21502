package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The reference's WHOLE asset graph, composed on Spark — what a user
  * of the reference runs after switching engines:
  *
  *   download dir of HTML issues
  *     → markdown            (Ingest.fromHtml ≙ markdown_assets.py)
  *     → categorized chunks  (Newsletter.parseNewsletter ≙ utils.py:93-187)
  *     → L2-normalized vectors (SearchApi.embedText ≙ encode_assets.py,
  *                              deterministic stub for the external model)
  *     → cluster-partitioned vector store with payload alongside
  *                           (≙ store_assets.py:40-77 — Qdrant keeps
  *                            vector + payload together; here it's one
  *                            parquet row, partition-pruned by IVF cell)
  *     → encoded-query search with payload filters + rerank + labels
  *                           (≙ query.py:50-97, mcp_server.py:80-215).
  *
  * NewsletterPipelineSpec drives it end-to-end from fixture HTML files
  * and asserts the search plan prunes to the probed cluster partitions.
  */
object NewsletterPipeline {

  /** Parsed chunks with stable ids and stub embeddings — the encode
    * step's output table (chunk_id, doc_id, category, idx, text,
    * source, source_name, date, embedding).
    */
  def chunkVectors(spark: SparkSession, htmlPath: String): DataFrame = {
    val docs = graft.sources.Ingest.fromHtml(spark, htmlPath)
    Newsletter.parseNewsletter(docs, mdCol = "md_text", dateCol = "issue_date")
      .withColumn("chunk_id",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("category"), col("idx"))),
          1, 15), 16, 10).cast("long"))
      .withColumn("embedding", SearchApi.embedText(col("text")))
  }

  /** Build the persisted store: IVF assignment against deterministic
    * seed centroids (the k lowest-chunk_id vectors), vectors written
    * WITH their payload partitioned by cluster — the layout that turns
    * search into an nprobe-partition scan at any corpus size.
    */
  def buildIndex(spark: SparkSession, htmlPath: String, indexPath: String,
      nClusters: Int = 4): Unit = {
    // the parse+embed chain feeds three consumers (the centroid-literal
    // collect, the centroid write, the vector write) — without the
    // persist the corpus would be parsed and encoded three times per
    // build (measured ~3× the build time on the 331-page real archive)
    val cv = chunkVectors(spark, htmlPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = cv.orderBy(col("chunk_id").asc).limit(nClusters)
      // bounded: nClusters rows by construction
      .withColumn("cluster_id",
        (row_number().over(boundedWindow(col("chunk_id").asc)) - 1).cast("long"))
      .select(col("cluster_id"), col("embedding").as("cvec"))
    val best = IvfIndex.nearest(col("embedding"), cents)
    cv.withColumn("cluster_id", best.getField("cluster_id"))
      .select("chunk_id", "doc_id", "category", "idx", "text", "source",
        "source_name", "date", "embedding", "cluster_id")
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$indexPath/vectors")
    cents.write.mode("overwrite").parquet(s"$indexPath/centroids")
    cv.unpersist(false)
  }

  /** The user-facing search over the persisted store, with the
    * reference's payload filters (category, date range) and min-score
    * cut applied AFTER rerank, exactly like mcp_server.py:150-215:
    * encode query → probe nprobe cells (partition-pruned scan) →
    * dot-product top-`retrieveK` → rerank logit/prob/label →
    * filters → limit.
    */
  def search(spark: SparkSession, indexPath: String, queryText: String,
      k: Int = 5, nprobe: Int = 2, retrieveK: Int = 20,
      category: Option[String] = None,
      fromDate: Option[String] = None, toDate: Option[String] = None,
      minLogit: Option[Double] = None): DataFrame = {
    val q = SearchApi.defaultEncoder.encodeQuery(spark, queryText)
    val scored = IvfIndex.probedScores(spark, indexPath, q, nprobe)
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(retrieveK)
      .withColumn("logit", KnnSearch.rerankLogit(col("score"), length(col("text")).cast("long")))
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
      .withColumn("label", KnnSearch.relevanceLabel(col("logit")))
    Seq(
      category.map(c => col("category") === c),
      fromDate.map(d => col("date") >= d),
      toDate.map(d => col("date") <= d),
      minLogit.map(m => col("logit") >= m))
      .flatten.foldLeft(scored)((df, p) => df.filter(p))
      .orderBy(col("logit").desc, col("chunk_id").asc)
      .limit(k)
      .select(col("chunk_id"), col("doc_id"), col("category"), col("date"),
        col("text"), r6(col("score")).as("score"), r6(col("logit")).as("logit"),
        r6(col("prob")).as("prob"), col("label"))
  }
}
