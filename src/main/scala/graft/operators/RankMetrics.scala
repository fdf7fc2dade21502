package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.{cents, r6}

/** The eval core shared by the index families' quality harnesses
  * (IVF `vs_ivf_recall`/`vs_ndcg`, LSH `vs_lsh_recall`/`vs_lsh_ndcg`,
  * PQ `vs_pq_recall`): one brute-force ground truth and the recall and
  * nDCG folds over it. The numeric contract (tiebreaks, integerized DCG
  * terms, in-engine ideal-DCG fold) lives here once so the families
  * cannot drift.
  */
object RankMetrics {

  /** Exact brute-force top-k (query_id, vec_id, brnk) of the eval
    * queries `qs` (query_id, qvec — [[KnnSearch.evalQueries]]) over the
    * corpus: dot-product score, vec_id tiebreak. The brute pass is
    * |qs| × corpus by construction; the [[graft.plans.TopK]] bound keeps
    * its rank Exchange at partitions×|qs|×k rows.
    */
  def groundTruth(spark: SparkSession, dir: String, qs: DataFrame, k: Int): DataFrame =
    graft.plans.TopK(KnnSearch.scored(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        qs.select(col("query_id"), col("qvec")))
      .select(col("query_id"), col("vec_id"), col("score")),
      "query_id", "score", "vec_id", k, "brnk")
      .select("query_id", "vec_id", "brnk")

  /** Recall@k of `approx` (query_id, vec_id — the approximate top-k)
    * against `truth` ([[groundTruth]]), per query: (query_id, n_hit,
    * recall).
    */
  def recall(approx: DataFrame, truth: DataFrame, k: Int): DataFrame =
    truth.select("query_id", "vec_id")
      .join(approx.select("query_id", "vec_id").withColumn("hit", lit(1L)),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        r6(col("n_hit") / lit(k.toDouble)).as("recall"))

  /** nDCG@k of `approx` (query_id, vec_id, pos — the approximate
    * ranking, pos 1-based ≤ k) against `brute` (query_id, vec_id,
    * brnk — the exact top-k). Graded relevance rel = k+1 − brnk, 0
    * beyond the true top-k; DCG terms rel·ln2/ln(pos+1) integerize at
    * 1e6 BEFORE the per-query sum (order-independent), and the ideal
    * DCG folds from the same integerized terms inside the engine —
    * never a Scala-side libm literal.
    */
  def ndcg(spark: SparkSession, approx: DataFrame, brute: DataFrame,
      k: Int): DataFrame = {
    val rel = coalesce(lit(k.toLong) + 1L - col("brnk"), lit(0L))
    val idcg = spark.range(1, k + 1).select(
      sum(cents((lit(k + 1) - col("id")) * log(lit(2.0)) / log(col("id") + lit(1.0)),
        1e6)).as("idcg_e6"))
    approx.join(brute, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        cents(rel * log(lit(2.0)) / log(col("pos") + lit(1.0)), 1e6).as("term_e6"),
        when(col("brnk").isNotNull, 1L).otherwise(0L).as("hit"))
      .groupBy(col("query_id"))
      .agg(sum(col("term_e6")).as("dcg_e6"), sum(col("hit")).as("n_hit"))
      .crossJoin(broadcast(idcg))
      .select(col("query_id"), col("n_hit"),
        r6(col("dcg_e6") / (lit(1.0) * col("idcg_e6"))).as("ndcg"))
  }
}
