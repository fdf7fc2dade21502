package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Random-hyperplane LSH ANN (SURVEY.md §2-A) — the bucketed
  * alternative to IVF: each vector's bucket is the sign pattern of its
  * projections onto `NumPlanes` fixed hyperplanes, so cosine-similar
  * vectors collide with high probability and search scans one bucket
  * instead of the corpus. At scale `bucket` is a partition/bucketing
  * column exactly like IVF's cluster_id.
  *
  * The planes are derived deterministically from md5 (plane p, dim d →
  * centered nibble value), so the DuckDB oracle reproduces them exactly
  * and the whole pipeline is hash-checked; values are multiples of
  * 1/16 — exactly representable, no cross-engine float drift.
  */
object LshAnn {

  val NumPlanes = 4
  val Dim = 64

  /** Plane p as a literal double array (nibble of md5("p,d"), centered). */
  private def planeWeights(p: Int): Seq[Double] =
    (1 to Dim).map { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$p,$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val nib = Integer.parseInt(hex.substring(0, 1), 16)
      (nib - 7.5) / 8.0
    }

  private def planeLit(p: Int): Column =
    array(planeWeights(p).map(lit): _*)

  /** Sign-pattern bucket id of a vector column. */
  def bucketOf(vec: Column): Column =
    (0 until NumPlanes).map(p =>
      when(dot(vec, planeLit(p)) > 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _).cast("long")

  /** (vec_id, embedding, bucket) rows: the projection of [[Layout.Lsh]]. */
  private[graft] def bucketedOf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", bucketOf(col("embedding")))

  /** Persist the LSH index: vectors partitioned by bucket on disk — at
    * 100 TB a query reads exactly one partition directory (multi-probe:
    * a handful) instead of the corpus, the same layout-as-index move as
    * IvfIndex.writeIndex.
    */
  def writeIndex(spark: SparkSession, dir: String, indexPath: String): Unit =
    Layout.Lsh.writeVectors(indexPath,
      Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding")))

  /** The installed LSH layout of a corpus dir
    * ([[IndexMaintenance.corpusLayout]]): every graded LSH key serves
    * off it.
    */
  def lshIndexFor(spark: SparkSession, dir: String): String = synchronized {
    IndexMaintenance.corpusLayout(spark, "lshidx", dir, Seq(NumPlanes, Dim))(
      staging => writeIndex(spark, dir, staging))
  }

  /** The probe-bucket rule: the query vector's own bucket, then its
    * hamming-1 sign-flip neighbors, `probes` buckets in all (at least
    * one) — an array<long> column over `qvec`.
    */
  def probeBuckets(qvec: Column, probes: Int): Column = {
    val qb = bucketOf(qvec)
    array((qb +: (0 until NumPlanes).map(p => qb.bitwiseXOR(lit(1L << p))))
      .take(math.max(1, probes)): _*)
  }

  /** The served rows of an installed layout in `buckets` — the
    * `bucket IN (...)` filter prunes at the parquet-partition level.
    */
  private def probedRows(spark: SparkSession, indexPath: String,
      buckets: Seq[Long]): DataFrame =
    IndexMaintenance.vectorsDf(spark, indexPath) // base + any resume epochs
      .withColumn("bucket", col("bucket").cast("long"))
      .filter(col("bucket").isin(buckets: _*))

  /** Search the persisted index: the query's probe buckets
    * ([[probeBuckets]], evaluated on its one row and collected — index
    * metadata), then a scan of only those partitions. `probes > 1` adds
    * multi-probe: the hamming-adjacent buckets are scanned too, trading
    * a few more partitions for recall.
    */
  def searchIndex(spark: SparkSession, indexPath: String, query: DataFrame,
      k: Int = 5, probes: Int = 1): DataFrame = {
    val buckets = query.select(probeBuckets(col("qvec"), probes)).collect().head
      .getSeq[Long](0)
    probedRows(spark, indexPath, buckets)
      .crossJoin(broadcast(query.select("qvec")))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("bucket"), col("vec_id"), r6(col("score")).as("score"))
  }

  /** Measured recall@k of the multi-probe LSH path against exact
    * brute-force top-k, per query — the LSH twin of
    * [[IvfIndex.recallReport]]: the number an operator actually needs
    * before trusting an approximate index at scale ("is 2-probe recall
    * good enough, or do we pay more probes?").
    *
    * Scale shape: queries are a broadcast-sized set (one per 100
    * vectors) carrying their probe buckets (bucket + hamming-1 flips,
    * bounded by `probes`); the approximate side is an equi-join of the
    * installed layout's probed partitions against that broadcast, so
    * the layout is scanned once and never self-joined. The brute-force side is the same
    * corpus×queries scan every recall measurement must pay — it exists
    * to CERTIFY the cheap path, run on a sample in production.
    */
  def recallReport(spark: SparkSession, dir: String, k: Int = 5,
      probes: Int = 2): DataFrame = {
    // bounded deterministic query sample (r15, r14 verdict #1) — see
    // KnnSearch.evalQueries for the sampling/unbiasedness contract
    val qs = KnnSearch.evalQueries(spark, dir)
    RankMetrics.recall(probedTopK(spark, dir, qs, k, probes),
      RankMetrics.groundTruth(spark, dir, qs, k), k)
  }

  /** nDCG@k of the multi-probe LSH path — [[recallReport]]'s
    * position-aware companion ([[RankMetrics.ndcg]] contract, the
    * `vs_ndcg` twin for the second index family). Same probe set and
    * tiebreaks as the recall surface, so the two metrics are measured
    * on the identical candidate stream.
    */
  def ndcgReport(spark: SparkSession, dir: String, k: Int = 5,
      probes: Int = 2): DataFrame = {
    // bounded deterministic query sample — see recallReport (r15)
    val qs = KnnSearch.evalQueries(spark, dir)
    RankMetrics.ndcg(spark, probedTopK(spark, dir, qs, k, probes),
      RankMetrics.groundTruth(spark, dir, qs, k), k)
  }

  /** The approximate arm both eval harnesses share: per-query top-k
    * (query_id, vec_id, pos) over each query's [[probeBuckets]] — the
    * installed layout ([[lshIndexFor]]) pruned to the union of the
    * probed buckets, equi-joined to the broadcast (query_id, qvec,
    * bucket) probe rows (scale shape: see [[recallReport]]).
    */
  private def probedTopK(spark: SparkSession, dir: String, qs: DataFrame, k: Int,
      probes: Int): DataFrame = {
    val probed = qs.select(col("query_id"), col("qvec"),
      explode(probeBuckets(col("qvec"), probes)).as("bucket"))
    val buckets = probed.select("bucket").distinct().collect().map(_.getLong(0)).sorted
    graft.plans.TopK(probedRows(spark, lshIndexFor(spark, dir), buckets.toIndexedSeq)
        .join(broadcast(probed), "bucket")
        .withColumn("score", dot(col("embedding"), col("qvec")))
        .select(col("query_id"), col("vec_id"), col("score")),
      "query_id", "score", "vec_id", k, "pos")
      .select(col("query_id"), col("vec_id"), col("pos"))
  }

  /** ANN search for query vec 0: its bucket's partition of the installed
    * layout, top-k by dot ([[searchIndex]]).
    */
  def search(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    searchIndex(spark, lshIndexFor(spark, dir), KnnSearch.queryVec(spark, dir), k = k)
}
