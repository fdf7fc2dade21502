package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions._

/** Lexical (BM25) search and hybrid lexical+vector fusion — the search
  * modalities a production vector-search system runs next to ANN
  * (Qdrant/Elasticsearch-style hybrid retrieval; the reference's search
  * surface is vector-only, reference query.py:50-66, so this completes
  * it the way its own stack would at scale).
  *
  * Scale design: BM25 is one corpus scan. The corpus statistics the
  * score needs (N, Σdl, per-term document frequencies) are a one-row
  * aggregate — index metadata, broadcast back — so scoring is a
  * map-side projection over the scan with a global top-k at the end
  * (k rows per partition move, not the corpus). No inverted index is
  * materialized here; at 100 TB the same plan works with the stats
  * kept as a tiny metadata table updated on ingest.
  *
  * Determinism contract (SURVEY.md §6): per-term contributions are
  * integerized (floor(x·1e6+0.5)) before the cross-term sum, all
  * divisions are IEEE double ops in identical textual order in both
  * engines, and every top-k carries a doc_id tiebreak.
  */
object LexicalSearch {

  /** The fixed lexical query (deterministic; stands in for a user query
    * the way vec_id 0 stands in for the encoded query vector).
    */
  val QueryTerms: Seq[String] = Seq("vector", "hash")

  val K1 = 1.2
  val B = 0.75
  // (k1 + 1) as a decimal literal, NOT computed: `1.2 + 1` in binary
  // doubles need not round to the same double as the literal `2.2` the
  // oracle SQL parses — both sides must start from the identical literal
  val K1Plus1 = 2.2

  /** (doc_id, dl, tf_0.., and the broadcast one-row corpus stats):
    * everything BM25 needs, in one scan + one tiny aggregate.
    */
  private def tfStats(spark: SparkSession, dir: String): DataFrame = {
    val withTf = QueryTerms.zipWithIndex.foldLeft(
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", size(filter(col("toks"), x => x === t)).cast("long"))
    }
    val statAggs = sum(col("dl")).as("sum_dl") +:
      QueryTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    withTf.drop("toks").crossJoin(broadcast(stats))
  }

  /** One term's INTEGERIZED BM25 contribution from explicit stat
    * columns — the ONE formula the brute scorer, the hybrid facade and
    * the persisted posting index ([[LexIndex]]) all share. Written in
    * exactly the operator order the oracle SQL uses, so the doubles
    * agree bitwise across every caller.
    */
  private[graft] def contributionE6(tf: Column, df: Column, dl: Column,
      nDocs: Column, sumDl: Column): Column = {
    val idf = log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))
    val denom = tf + lit(K1) * (lit(1.0) - lit(B) +
      lit(B) * dl * nDocs / sumDl)
    cents(idf * (tf * lit(K1Plus1)) / denom, 1e6)
  }

  /** (doc_id, tf_.., dl, score_e6): integerized BM25 score per doc. */
  private def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    tfStats(spark, dir).withColumn("score_e6",
      QueryTerms.indices.map(i => contributionE6(col(s"tf_$i"), col(s"df_$i"),
        col("dl"), col("n_docs"), col("sum_dl"))).reduce(_ + _))

  /** BM25 top-k for the fixed query: Okapi BM25 (k1=1.2, b=0.75,
    * idf = ln(1 + (N-df+0.5)/(df+0.5))) over whitespace tokens.
    */
  def bm25(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    scoredDocs(spark, dir)
      .filter(col("score_e6") > 0)
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id") +:
        QueryTerms.zipWithIndex.map { case (t, i) => col(s"tf_$i").as(s"tf_$t") } :+
        (col("score_e6") / 1000000.0).as("score"): _*)

  /** Hybrid retrieval: reciprocal-rank fusion (k=60) of the vector
    * top-20 (dot product against query vec 0) and the BM25 top-20 for
    * the fixed lexical query. RRF(d) = Σ 1/(60+rank_m(d)) over the
    * modalities that returned d — rank fusion needs no score
    * calibration between modalities, which is why hybrid engines use it.
    * Both rank lists are ≤20 rows (driver-side small); the corpus is
    * scanned once per modality and never shuffled.
    */
  def hybridRrf(spark: SparkSession, dir: String, perList: Int = 20,
      k: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val vecTop = rankList(KnnSearch.scored(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"), q),
      "score", "vec_id", perList, "rank_vec")
    val lexTop = rankList(scoredDocs(spark, dir).filter(col("score_e6") > 0),
      "score_e6", "doc_id", perList, "rank_lex")
    fuseRrf(vecTop, lexTop, Seq("doc_id"))
      .withColumn("rrf_e9", cents(col("rrf"), 1e9))
      .orderBy(col("rrf_e9").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("rank_vec"), col("rank_lex"),
        (col("rrf_e9") / 1000000000.0).as("rrf"))
  }

  /** The rank constant of reciprocal-rank fusion (the standard k = 60). */
  private[graft] val RrfK = 60

  /** One modality's rank list for fusion: the top `n` rows of `scored`
    * by (`score` desc, `id` asc), keyed as `doc_id` and numbered 1..n in
    * that order into `rank` — (doc_id, rank). The list is ≤ n rows, so
    * its unpartitioned window is bounded.
    */
  private[graft] def rankList(scored: DataFrame, score: String, id: String, n: Int,
      rank: String): DataFrame =
    scored.orderBy(col(score).desc, col(id).asc).limit(n)
      .select(col(id).as("doc_id"), col(score))
      .withColumn(rank,
        row_number().over(boundedWindow(col(score).desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col(rank))

  /** Reciprocal-rank fusion of a `rank_vec` list and a `rank_lex` list:
    * full outer join on `keys`, `rrf` = Σ 1/([[RrfK]] + rank) over the
    * lists that returned the row. Callers order and cut the fused rows.
    */
  private[graft] def fuseRrf(vecTop: DataFrame, lexTop: DataFrame,
      keys: Seq[String]): DataFrame =
    vecTop.join(lexTop, keys, "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)))
}
