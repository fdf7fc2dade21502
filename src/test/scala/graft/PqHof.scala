package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dist2
import graft.operators.{IvfIndex, PqIndex}
import graft.operators.PqIndex.{NumSub, SubDim}

/** The PQ expressions' semantic definitions as Spark `transform` /
  * `aggregate` / `array_min` trees over literal metadata — the parity
  * references for the native NearestCentroidExpr, PqCodesExpr and
  * ResidualCodesExpr scored through `PqIndex.codeSum` (AnnParitySpec),
  * and the formulations the DuckDB oracle mirrors.
  * Interpreted per element: spec-only. The metadata itself comes from
  * the production quantized core (`PqIndex.codebookMetaOf`,
  * `PqIndex.adcTable`), so a parity check compares the two folds over
  * the same metadata.
  */
object PqHof {

  /** Per-row nearest centroid: struct(d2, cluster_id) minimized over the
    * literal centroid array (`IvfIndex.centroidLiteral`). Struct
    * ordering is field-by-field, so the minimum is (smallest d², then
    * smallest cluster_id) — exactly the `row_number() OVER (ORDER BY d2,
    * cluster_id) = 1` the oracle computes. The numeric spec of
    * `IvfIndex.nearest` (AnnExprs.NearestCentroidExpr — bitwise parity
    * pinned by AnnParitySpec, including the degenerate-input corners).
    */
  def nearestHof(embedding: Column, centsLit: Column): Column =
    array_min(transform(centsLit, c =>
      struct(dist2(embedding, c.getField("cvec")).as("d2"),
        c.getField("cluster_id").as("cluster_id"))))

  /** A codebook meta [s][code][SubDim] as one literal column: an array
    * (indexed by s+1) of `array<struct<code, vec>>`.
    */
  def codebookLiteral(cb: Array[Array[Array[Double]]], vec: String): Column =
    array(cb.toSeq.map(sub => array(sub.toSeq.zipWithIndex.map { case (v, code) =>
      struct(lit(code.toLong).as("code"), lit(v).as(vec))
    }: _*)): _*)

  /** An ADC table [s][code] as one literal column, indexed by s+1. */
  def lutLiteral(lut: Array[Array[Long]]): Column = array(PqIndex.adcLiteral(lut): _*)

  /** The ADC fold: Σ_s lut[s][argmin over the codewords of subspace s of
    * d²(window s of `v`, codeword)], ties to the lower code.
    */
  def adcE9(v: Column, cbLit: Column, vec: String, lutLit: Column): Column =
    aggregate(sequence(lit(0), lit(NumSub - 1)), lit(0L), (acc, s) =>
      acc + element_at(element_at(lutLit, s + 1),
        array_min(transform(element_at(cbLit, s + 1), c =>
          struct(dist2(slice(v, s * SubDim + 1, lit(SubDim)), c.getField(vec)).as("d2"),
            c.getField("code").as("code"))))
          .getField("code").cast("int") + 1))

  private def cbLiteral(spark: SparkSession, dir: String): Column =
    codebookLiteral(PqIndex.codebookMetaOf(PqIndex.codebooks(spark, dir), "cvec"), "cvec")

  /** (vec_id, s, subvec): the corpus split into subvectors. */
  private def subvectors(spark: SparkSession, dir: String): DataFrame =
    PqIndex.subspaces(Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding")),
      "vec_id", "embedding", "subvec")

  /** The native PQ encode: (vec_id, s, code), all NumSub codes of a
    * row in one PqCodesExpr pass, unrolled with `posexplode`.
    */
  def encode(spark: SparkSession, dir: String): DataFrame = {
    val cb = PqIndex.codebookMetaOf(PqIndex.codebooks(spark, dir), "cvec")
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .select(col("vec_id"),
        posexplode(graft.functions.AnnExprs.pqCodes(col("embedding"), cb)).as(Seq("s", "code")))
  }

  /** Residual codebooks against the seed centroids (an index build
    * derives them from its persisted centroids, the same table).
    */
  def residualCodebooks(spark: SparkSession, dir: String): DataFrame =
    PqIndex.residualCodebooksFrom(spark, dir, IvfIndex.centroids(spark, dir))

  /** HOF twin of [[encode]]: (vec_id, s, code). */
  def encodeHof(spark: SparkSession, dir: String): DataFrame = {
    val cb = cbLiteral(spark, dir)
    subvectors(spark, dir)
      .withColumn("best", array_min(transform(element_at(cb, col("s") + 1), c =>
        struct(dist2(col("subvec"), c.getField("cvec")).as("d2"),
          c.getField("code").as("code")))))
      .select(col("vec_id"), col("s"), col("best.code").as("code"))
  }

  /** The fused in-memory PQ score: (vec_id, embedding, approx_e9) —
    * per row, each subspace's nearest codeword looked up in the query's
    * ADC table; what a query over the stored codes computes.
    */
  def adcScoredHof(spark: SparkSession, dir: String, q: DataFrame): DataFrame = {
    val lut = lutLiteral(PqIndex.adcTable(PqIndex.codebooks(spark, dir), "cvec", q))
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .withColumn("approx_e9", adcE9(col("embedding"), cbLiteral(spark, dir), "cvec", lut))
  }

  /** A (vec_id, embedding) frame with its nearest centroid's
    * `cluster_id` and `cvec`, and the residual `rvec` (elementwise
    * double subtraction), all off the literal centroid table.
    */
  def withResidual(df: DataFrame, centsLit: Column): DataFrame =
    df.withColumn("cluster_id",
        nearestHof(col("embedding"), centsLit).getField("cluster_id"))
      .withColumn("cvec",
        element_at(filter(centsLit,
          c => c.getField("cluster_id") === col("cluster_id")), 1).getField("cvec"))
      .withColumn("rvec", zip_with(col("embedding"), col("cvec"),
        (a, b) => a.cast("double") - b.cast("double")))

  /** The fused in-memory residual IVFPQ score: (vec_id, embedding,
    * cluster_id, res_e9) — nearest centroid, residual, and the residual
    * codewords looked up in the query's residual ADC table.
    */
  def residualScoredHof(spark: SparkSession, dir: String, q: DataFrame): DataFrame = {
    val rcb = residualCodebooks(spark, dir)
    val rcbLit = codebookLiteral(PqIndex.codebookMetaOf(rcb, "rcvec"), "rcvec")
    val lut = lutLiteral(PqIndex.adcTable(rcb, "rcvec", q))
    withResidual(Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding")),
        IvfIndex.centroidLiteral(IvfIndex.centroids(spark, dir)))
      .withColumn("res_e9", adcE9(col("rvec"), rcbLit, "rcvec", lut))
      .select(col("vec_id"), col("embedding"), col("cluster_id"), col("res_e9"))
  }
}
