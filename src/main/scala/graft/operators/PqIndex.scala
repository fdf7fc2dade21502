package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Product quantization (SURVEY.md §9 → done): the 64-dim space is
  * split into `NumSub` 16-dim subspaces, each with a `NumCodes`-entry
  * codebook; a vector compresses to NumSub byte codes (16× smaller than
  * float32). Search scores against the codebook reconstruction
  * (asymmetric distance computation, Jégou et al., TPAMI 2011) — at
  * scale the per-query code→partial-score lookup table is broadcast and
  * the corpus scan reads only the code columns.
  *
  * Every PQ and residual-IVFPQ search runs on one quantized core:
  *  - [[subspaces]]: the split of a vector column into SubDim windows;
  *  - [[codebookMetaOf]]: a (s, code, cvec|rcvec) codebook table
  *    collected to [s][code][SubDim] doubles for the native expressions;
  *  - [[adcTables]]: the per-query ADC lookup tables (integerized
  *    partial dot products, one `array<bigint>` per subspace and query
  *    row), with [[adcTable]] its collected one-query form,
  *    [[adcLiteral]] that form's literal columns, and [[codeSum]] the
  *    per-subspace lookup sum over stored code columns;
  *  - [[IvfIndex.probedPartitions]]: the probed-partition read of a
  *    persisted layout;
  *  - [[KnnSearch.rescore]]: the exact rescore tail.
  * The interpreted-HOF twins that define the native expressions'
  * semantics (`graft.PqHof`) live with the specs.
  *
  * Codebooks here are deterministic data samples (ids c*17, the PQ
  * analogue of IvfIndex's seed centroids; k-means per subspace is the
  * production refinement), which keeps the whole pipeline
  * oracle-checkable.
  */
object PqIndex {

  val NumSub = 4
  val SubDim = 16
  val NumCodes = 16

  /** The subspace split: `df` crossed with the NumSub subspace ids, its
    * `vec` column cut into SubDim windows — (s, key, out) rows.
    */
  private[graft] def subspaces(df: DataFrame, key: String, vec: String,
      out: String): DataFrame = {
    import df.sparkSession.implicits._
    df.crossJoin(broadcast((0 until NumSub).toDF("s")))
      .select(col("s"), col(key), expr(s"slice($vec, s * $SubDim + 1, $SubDim)").as(out))
  }

  /** The NumCodes corpus rows the codebooks are sampled from. */
  private def codebookSamples(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 17 === 0 && col("vec_id") < NumCodes * 17)

  /** (s, code, cvec): subspace codebooks sampled from the corpus. */
  def codebooks(spark: SparkSession, dir: String): DataFrame =
    subspaces(codebookSamples(spark, dir)
      .select(expr("vec_id div 17").as("code"), col("embedding")), "code", "embedding", "cvec")

  /** A (s, code, `vec`) codebook table — computed, or persisted under an
    * index path — collected to primitive arrays [s][code][SubDim] for
    * the native expressions. Float codewords are widened to double,
    * which is exact (the HOF fold casts per element). Sized by NumSub: a
    * table missing a subspace fails loudly (key miss), never mis-sizes
    * the meta. Index metadata, never data.
    */
  private[graft] def codebookMetaOf(cbDf: DataFrame, vec: String): Array[Array[Array[Double]]] = {
    val bySub = cbDf.select(col("s"), col("code").cast("long"), col(vec).cast("array<double>"))
      .collect().groupBy(_.getInt(0))
    Array.tabulate(NumSub) { s =>
      bySub(s).sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray)
    }
  }

  /** The integerized partial dot product of the query's window `s`
    * against a codeword: one ADC table entry.
    */
  private def partialE9(s: Int, codeword: Column): Column =
    cents(dot(slice(col("qvec"), s * SubDim + 1, SubDim), codeword), 1e9)

  /** The per-query ADC lookup tables: `queries` with its `qvec` replaced
    * by `lut_0..lut_{NumSub-1}`, where lut_s[code] is the partial dot
    * product of the row's window s against codeword (s, code) of the
    * collected codebook `cb` — one row per query, a map-side projection.
    * Computed with the same Spark fold the oracle mirrors, integerized
    * per entry (floor(part·1e9+0.5) — the order-independent integer
    * contract): the table a PQ engine keeps in registers during the
    * scan.
    */
  private[graft] def adcTables(cb: Array[Array[Array[Double]]], queries: DataFrame): DataFrame = {
    require(cb.forall(_.length == NumCodes), "codebook must hold every code of every subspace")
    queries.select(queries.columns.toIndexedSeq.filter(_ != "qvec").map(col) ++
      cb.indices.map(s => transform(lit(cb(s)), cw => partialE9(s, cw)).as(s"lut_$s")): _*)
  }

  /** [[adcTables]] of the one-row (qvec) `query` against the `vec`
    * codebook table `cbDf`, collected: NumSub×NumCodes longs.
    */
  private[graft] def adcTable(cbDf: DataFrame, vec: String, query: DataFrame): Array[Array[Long]] = {
    val row = adcTables(codebookMetaOf(cbDf, vec), query.select("qvec")).head()
    Array.tabulate(NumSub)(s => row.getSeq[Long](s).toArray)
  }

  /** An ADC table as literal columns, one `array<bigint>` per subspace. */
  private[graft] def adcLiteral(lut: Array[Array[Long]]): Seq[Column] =
    lut.toSeq.map(codes => array(codes.toSeq.map(lit): _*))

  /** The literal ADC table of the one-row `query` against an installed
    * layout's `vec` codebooks.
    */
  private def lutOf(spark: SparkSession, indexPath: String, vec: String,
      query: DataFrame): Seq[Column] =
    adcLiteral(adcTable(IndexMaintenance.layoutDf(spark, s"$indexPath/codebooks"), vec, query))

  /** Σ_s lut_s[`prefix`_s]: the approximate score read off a persisted
    * layout's code columns — an `element_at` per subspace, fully
    * codegen'd. `lut` holds one `array<bigint>` per subspace: literals
    * for one query ([[adcLiteral]]), joined [[adcTables]] columns for a
    * batch.
    */
  private[graft] def codeSum(lut: Seq[Column], prefix: String): Column =
    lut.zipWithIndex.map { case (l, s) => element_at(l, col(s"${prefix}_$s") + 1) }.reduce(_ + _)

  private def codeCols(prefix: String): Seq[Column] =
    (0 until NumSub).map(s => col(s"${prefix}_$s"))

  /** The persisted-layout projection — (vec_id, embedding, cluster_id,
    * code_0..code_{NumSub-1}) — for a (vec_id, embedding) frame against
    * explicit index metadata: the row projection of [[Layout.Pq]].
    */
  private[graft] def indexRows(vecs: DataFrame, cents: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val best = IvfIndex.nearest(col("embedding"), cents)
    val codes = graft.functions.AnnExprs.pqCodes(col("embedding"), cb)
    val codeCols = (0 until NumSub).map(s =>
      element_at(col("codes"), s + 1).cast("int").as(s"code_$s"))
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("cluster_id", best.getField("cluster_id"))
      .withColumn("codes", codes)
      .select(col("vec_id") +: col("embedding") +: col("cluster_id") +: codeCols: _*)
  }

  /** Two-stage ANN over the installed PQ layout ([[pqIndexFor]]): PQ
    * approximate scores read off the code columns of every partition
    * (no probe) select a candidate set (ordered on the exact integer
    * partial sums — fully deterministic), then only the candidates
    * fetch their embedding and re-rank with the exact dot product.
    */
  def searchRerank(spark: SparkSession, dir: String, candidates: Int = 50,
      k: Int = 10): DataFrame = {
    val q = KnnSearch.queryVec(spark, dir)
    val idx = pqIndexFor(spark, dir)
    val lut = lutOf(spark, idx, "cvec", q)
    servedFromCodes(IndexMaintenance.vectorsDf(spark, idx), "code", q, candidates, k)(
        _.withColumn("approx_e9", codeSum(lut, "code")))
      .select(col("vec_id"), r6(col("exact")).as("exact_score"),
        r6(col("approx_e9") / 1e9).as("approx_score"))
  }

  /** Composed IVF+PQ search — the production large-scale ANN layout
    * (Faiss IVFPQ / Qdrant-with-quantization) — for query vec 0 over
    * the installed PQ layout ([[searchIndex]] on [[pqIndexFor]]).
    */
  def searchIvfPq(spark: SparkSession, dir: String, nprobe: Int = 3,
      candidates: Int = 50, k: Int = 10): DataFrame =
    searchIndex(spark, pqIndexFor(spark, dir), KnnSearch.queryVec(spark, dir),
      nprobe, candidates, k)

  /** Residual codebooks: the PQ sample vectors minus their assigned IVF
    * centroid (elementwise double subtraction — the same
    * `e[i]::DOUBLE − c[i]::DOUBLE` map the oracle runs), split into
    * subspaces, against an explicit centroid table (the persisted one,
    * at build time). Residuals are the quantity real IVFPQ encodes:
    * they are centered near zero, so a shared codebook fits them far
    * better than raw vectors.
    */
  private[graft] def residualCodebooksFrom(spark: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val centsLit = IvfIndex.centroidLiteral(cents)
    subspaces(codebookSamples(spark, dir)
      .withColumn("best", IvfIndex.nearest(col("embedding"), cents))
      .withColumn("cvec",
        element_at(filter(centsLit,
          c => c.getField("cluster_id") === col("best.cluster_id")), 1).getField("cvec"))
      .select(expr("vec_id div 17").as("code"),
        zip_with(col("embedding"), col("cvec"),
          (a, b) => a.cast("double") - b.cast("double")).as("rvec")), "code", "rvec", "rcvec")
  }

  /** Residual IVF+PQ search — the faithful Faiss-IVFPQ layout: vectors
    * are PQ-encoded as RESIDUALS from their IVF centroid, and the
    * inner-product score decomposes as dot(q, c) + Σ_s dot(q_s, r̂_s) —
    * for query vec 0 over the installed residual layout
    * ([[searchResidualIndex]] on [[residualIndexFor]]).
    */
  def searchIvfPqResidual(spark: SparkSession, dir: String, nprobe: Int = 3,
      candidates: Int = 50, k: Int = 10): DataFrame =
    searchResidualIndex(spark, residualIndexFor(spark, dir), KnnSearch.queryVec(spark, dir),
      nprobe, candidates, k)

  /** The persisted residual layout's row projection — (vec_id,
    * embedding, cluster_id, rcode_0..) — for a (vec_id, embedding)
    * frame against explicit index metadata: the row projection of
    * [[Layout.Residual]].
    */
  private[graft] def residualIndexRows(vecs: DataFrame, cents: DataFrame,
      rcb: Array[Array[Array[Double]]]): DataFrame = {
    val (ids, cvecs) = IvfIndex.centroidMeta(cents)
    val rc = graft.functions.AnnExprs.residualCodes(col("embedding"), ids, cvecs, rcb)
    val codeCols = (0 until NumSub).map(s =>
      element_at(col("rc.codes"), s + 1).cast("int").as(s"rcode_$s"))
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("rc", rc)
      .select(col("vec_id") +: col("embedding") +:
        col("rc.cluster_id").as("cluster_id") +: codeCols: _*)
  }

  /** Persist the RESIDUAL IVFPQ index — the layout a 100 TB deployment
    * of [[searchIvfPqResidual]] actually serves from: one row per
    * vector with its IVF cluster as the partition column, its NumSub
    * RESIDUAL codes as flat int columns (`rcode_0..`), the embedding
    * alongside for rerank fetch. The centroids and the residual
    * codebooks (derived from the persisted centroids) are written
    * first, and the rows are [[Layout.Residual]] against them, so each
    * is computed once. Serving from the index reproduces the in-memory
    * residual chain (`graft.PqHof`) exactly (PqResidualIndexedSpec).
    */
  def writeResidualIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    IvfIndex.centroids(spark, dir).write.mode("overwrite").parquet(s"$indexPath/centroids")
    residualCodebooksFrom(spark, dir, spark.read.parquet(s"$indexPath/centroids"))
      .write.mode("overwrite").parquet(s"$indexPath/codebooks")
    Layout.Residual.writeVectors(indexPath, Tables.embeddings(spark, dir))
  }

  /** Search the persisted residual index: probe list and per-cluster
    * constant dot(q, c) from the stored centroids (nlist longs of
    * metadata), residual LUT from the stored codebooks (same
    * integerized fold the build used), then candidates scored off the
    * RCODE COLUMNS alone over the probed partitions —
    * `approx_e9 = const_e9[cluster] + Σ_s rlut_s[rcode_s]` — and only
    * the top `candidates` rerank with exact dot products. Same output
    * and ordering contract as the in-memory chain.
    */
  def searchResidualIndex(spark: SparkSession, indexPath: String, query: DataFrame,
      nprobe: Int = 3, candidates: Int = 50, k: Int = 10): DataFrame = {
    val vectors = IvfIndex.probedPartitions(spark, indexPath, query, nprobe)
    // one constant per stored centroid; the join keeps the probed ones
    val constDf = IndexMaintenance.layoutDf(spark, s"$indexPath/centroids")
      .crossJoin(broadcast(query))
      .select(col("cluster_id"), cents(dot(col("cvec"), col("qvec")), 1e9).as("const_e9"))
    val lut = lutOf(spark, indexPath, "rcvec", query)
    servedFromCodes(vectors, "rcode", query, candidates, k)(
        _.join(broadcast(constDf), "cluster_id")
          .withColumn("approx_e9", col("const_e9") + codeSum(lut, "rcode")))
      .select(col("cluster_id"), col("vec_id"),
        r6(col("approx_e9") / 1e9).as("approx_score"), r6(col("exact")).as("score"))
  }

  /** The persisted layouts' serving tail: the probed `vectors`' (vec_id,
    * cluster_id, `prefix`_0..) code columns — column pruning drops the
    * embedding — scored into `approx_e9` by `score` and cut to the top
    * `candidates`; only those fetch their embedding by vec_id and
    * rescore exactly.
    */
  private def servedFromCodes(vectors: DataFrame, prefix: String, query: DataFrame,
      candidates: Int, k: Int)(score: DataFrame => DataFrame): DataFrame = {
    val cand = score(vectors.select(col("vec_id") +: col("cluster_id") +: codeCols(prefix): _*))
      .orderBy(col("approx_e9").desc, col("vec_id").asc)
      .limit(candidates)
      .select("vec_id", "cluster_id", "approx_e9")
    KnnSearch.rescore(broadcast(cand).join(vectors.select("vec_id", "embedding"), "vec_id")
      .crossJoin(broadcast(query)), "qvec", k)
  }

  /** The installed residual IVFPQ layout of a corpus dir
    * ([[IndexMaintenance.corpusLayout]], keyed by the quantizer
    * constants too): every graded residual key serves off it.
    */
  def residualIndexFor(spark: SparkSession, dir: String): String = synchronized {
    IndexMaintenance.corpusLayout(spark, "residx", dir,
      Seq(NumSub, NumCodes, IvfIndex.MaxCentroids))(
      staging => writeResidualIndex(spark, dir, staging))
  }

  /** The installed PQ layout of a corpus dir, keyed like
    * [[residualIndexFor]]: every graded PQ key serves off it.
    */
  def pqIndexFor(spark: SparkSession, dir: String): String = synchronized {
    IndexMaintenance.corpusLayout(spark, "pqidx", dir,
      Seq(NumSub, NumCodes, IvfIndex.MaxCentroids))(
      staging => writeIndex(spark, dir, staging))
  }

  /** Persist the PQ index — the 100 TB serving layout (Faiss IVFPQ on
    * parquet): one row per vector with its IVF cluster as the PARTITION
    * column and its NumSub PQ codes as flat int columns
    * (`code_0..code_{NumSub-1}`), the embedding alongside for rerank
    * fetch. A query then (a) prunes to nprobe cluster partitions
    * (PartitionFilters), (b) scans ONLY vec_id + the code columns for
    * candidate generation — column pruning drops the embedding, so
    * stage one reads NumSub smallints per vector instead of dim floats
    * (the 16–64× I/O cut that makes PQ an index rather than a codec) —
    * and (c) fetches full vectors for `candidates` rows only. Centroids
    * and codebooks (index metadata, read once per query) are written
    * first, and the rows are [[Layout.Pq]] against them, so each is
    * computed once. PqIndexedSpec proves result parity with the in-memory
    * fused chain and pins both prunings in the plan.
    */
  def writeIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    IvfIndex.centroids(spark, dir).write.mode("overwrite").parquet(s"$indexPath/centroids")
    codebooks(spark, dir).write.mode("overwrite").parquet(s"$indexPath/codebooks")
    Layout.Pq.writeVectors(indexPath, Tables.embeddings(spark, dir))
  }

  /** Search the persisted index: rank the stored centroids against the
    * query (nprobe probe list — collected index metadata), build the
    * per-query LUT from the stored codebooks with the same integerized
    * fold the build used, then score candidates off the CODE COLUMNS
    * alone — `approx_e9 = Σ_s lut_s[code_s]`, a literal-array
    * `element_at` per subspace, fully codegen'd — and rerank only the
    * top `candidates` with exact dot products fetched by vec_id from
    * the probed partitions.
    */
  def searchIndex(spark: SparkSession, indexPath: String, query: DataFrame,
      nprobe: Int = 3, candidates: Int = 50, k: Int = 10,
      roundScore: Boolean = true): DataFrame = {
    val vectors = IvfIndex.probedPartitions(spark, indexPath, query, nprobe)
    val lut = lutOf(spark, indexPath, "cvec", query)
    servedFromCodes(vectors, "code", query, candidates, k)(
        _.withColumn("approx_e9", codeSum(lut, "code")))
      // roundScore=false keeps full precision so SearchApi.searchQuantized
      // is bit-identical to the brute-force path at nprobe=all
      .select(col("cluster_id"), col("vec_id"),
        r6(col("approx_e9") / 1e9).as("approx_score"),
        (if (roundScore) r6(col("exact")) else col("exact")).as("score"))
  }

  /** Asymmetric-distance scoring against query vec 0 over the installed
    * PQ layout: the approximate dot product is Σ_s dot(q_s,
    * codeword(s, code_s)) read off the stored codes ([[codeSum]]),
    * reported next to the exact score and the absolute quantization
    * error — both computed in the same single scan (no self-join on
    * vec_id).
    */
  def search(spark: SparkSession, dir: String): DataFrame = {
    val q = KnnSearch.queryVec(spark, dir)
    val idx = pqIndexFor(spark, dir)
    val lut = lutOf(spark, idx, "cvec", q)
    IndexMaintenance.vectorsDf(spark, idx)
      .crossJoin(broadcast(q))
      .withColumn("approx_score", codeSum(lut, "code") / 1e9)
      .withColumn("exact_score", dot(col("embedding"), col("qvec")))
      .select(col("vec_id"),
        r6(col("approx_score")).as("approx_score"),
        r6(col("exact_score")).as("exact_score"),
        r6(abs(col("approx_score") - col("exact_score"))).as("abs_err"))
  }

  /** The candidate-generation tuning table for the quantized serving
    * path (PqIndex.searchIndex / SearchApi.searchQuantized): recall@k
    * of the (nprobe, candidates)-pruned PQ search against the exact
    * brute-force top-k, averaged over a query sample, one row per
    * configuration — the number an operator reads before picking how
    * hard to prune a 100 TB index (the PQ sibling of
    * [[IvfIndex.recallReport]] / LshAnn.recallReport; reference
    * semantics: store_assets.py:40-77 quantization + rescore).
    *
    * Scale shape: over the installed PQ layout ([[pqIndexFor]]). The
    * probe ranks ([[IvfIndex.probe]] at the largest nprobe, `crn` its
    * 1-based position) and
    * the per-query ADC tables ([[adcTables]], one row per query) are
    * index metadata, broadcast; the layout is touched by one codes-only
    * scan joined to the probe rows and scored by [[codeSum]] — no
    * (query, vector, subspace) row exists — and every window
    * partitions by (query, config): bounded keys, never a corpus-wide
    * sort.
    */
  def pqRecallReport(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val configRows = Seq((1, 50), (2, 50), (3, 50), (3, 20))
    val configs = broadcast(configRows.toDF("nprobe", "candidates"))
    val maxNprobe = configRows.map(_._1).max
    // the literal bound Spark's InsertWindowGroupLimit needs to plan a
    // partial limit before the candidate-rank Exchange — the per-row
    // `arn <= candidates` alone ships the whole ADC-scored set
    val maxCandidates = configRows.map(_._2).max
    // bounded deterministic query sample (r15, r14 verdict #1) — see
    // KnnSearch.evalQueries for the sampling/unbiasedness contract
    val qs = KnnSearch.evalQueries(spark, dir)
    val idx = pqIndexFor(spark, dir)
    val vectors = IndexMaintenance.vectorsDf(spark, idx)
      .withColumn("cluster_id", col("cluster_id").cast("long"))
    val probe = qs.select(col("query_id"), posexplode(IvfIndex.probe(col("qvec"),
        IvfIndex.installedCentroids(spark, idx), maxNprobe))
        .as(Seq("pos", "cluster_id")))
      .select(col("query_id"), col("cluster_id"), (col("pos") + 1).as("crn"))
    val luts = adcTables(
      codebookMetaOf(IndexMaintenance.layoutDf(spark, s"$idx/codebooks"), "cvec"), qs)
    // approximate scores over probed vectors only
    val approx = vectors.select(col("vec_id") +: col("cluster_id") +: codeCols("code"): _*)
      .join(broadcast(probe), "cluster_id")
      .join(broadcast(luts), "query_id")
      .select(col("query_id"), col("vec_id"), col("crn"),
        codeSum(codeCols("lut"), "code").as("approx_e9"))
    // per-config candidate cut, then exact rerank of candidates only
    val cands = approx.crossJoin(configs).filter(col("crn") <= col("nprobe"))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"), col("candidates"))
          .orderBy(col("approx_e9").desc, col("vec_id").asc)))
      .filter(col("arn") <= maxCandidates && col("arn") <= col("candidates"))
    val topPq = KnnSearch.rescore(cands
        .join(vectors.select("vec_id", "embedding"), "vec_id")
        .join(broadcast(qs), "query_id"), "qvec", k,
        within = Seq(col("query_id"), col("nprobe"), col("candidates")))
      .select(col("query_id"), col("nprobe"), col("candidates"), col("vec_id"),
        lit(1L).as("hit"))
    // exact brute-force truth, same tiebreaks
    val brute = RankMetrics.groundTruth(spark, dir, qs, k).select("query_id", "vec_id")
    brute.crossJoin(configs)
      .join(topPq, Seq("query_id", "nprobe", "candidates", "vec_id"), "left")
      .groupBy(col("nprobe"), col("candidates"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("nprobe"), col("candidates"), col("n_queries"), col("n_hit"),
        r6(col("n_hit") / (col("n_queries") * lit(k.toDouble))).as("recall"))
  }
}
