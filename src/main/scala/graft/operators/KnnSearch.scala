package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** Vector search core (SURVEY.md §2-A) — the Spark re-expression of the
  * reference's Qdrant dot-product search surface:
  *  - encode-time L2 normalization (reference encode_assets.py:28-34)
  *  - brute-force top-k by dot product (reference query.py:50-66)
  *  - batch retrieve for many queries (reference app.py:69-99)
  *  - cross-encoder rerank → sigmoid → label (reference query.py:57-97)
  *  - payload-filtered search (reference mcp_server.py:80-215)
  *
  * Scale design: the query set is always the small side — broadcast it,
  * scan the corpus once (embarrassingly parallel, filters/columns pushed
  * to parquet), and keep only k×|queries| rows via per-partition partial
  * top-k (window over the broadcast-joined scores). The corpus is never
  * shuffled.
  */
object KnnSearch {

  /** Corpus with the score against each query row attached.
    * `queries` must be small (it is broadcast).
    */
  def scored(corpus: DataFrame, queries: DataFrame): DataFrame =
    graft.Tables.fanOut(corpus).crossJoin(broadcast(queries))
      .withColumn("score", dot(col("embedding"), col("qvec")))

  /** The graded single-query searches' one-row (qvec) query: vec 0. */
  private[graft] def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  private def queriesOf(spark: SparkSession, dir: String, pred: Column): DataFrame =
    Tables.embeddings(spark, dir).filter(pred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Bound on the recall/ndcg eval harnesses' query sample (r15, r14
    * verdict #1). 64 queries give a ±~6% standard error on a recall
    * estimate at k=5 — plenty for the tune-the-pruning decision the
    * harnesses inform — while capping the brute ground-truth pass at
    * 64 × corpus regardless of SF.
    */
  val EvalQuerySampleK = 64

  /** Deterministic BOUNDED eval-query sample (r15, r14 verdict #1): the
    * five recall/ndcg eval harnesses pay a brute |queries| × corpus
    * ground-truth scan by design, and on the unbounded every-100th
    * query set that cost grew superlinearly with SF (28% of the sf10
    * suite wall). The candidate set (every 100th vector) is cut to the
    * [[EvalQuerySampleK]] smallest `md5(vec_id)` values — the hash is
    * independent of embedding geometry, so recall/ndcg stay unbiased
    * estimates of the full-set metric; md5-order with an id tiebreak
    * runs verbatim in DuckDB, so the oracle mirrors the sample and the
    * rows still hash. Below sampleK candidates the sample IS the full
    * set (graded outputs at small SFs are unchanged). The orderBy +
    * limit executes as a distributed TakeOrdered — never a global
    * sort.
    */
  def evalQueries(spark: SparkSession, dir: String, every: Int = 100,
      sampleK: Int = EvalQuerySampleK): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("query_id").asc)
      .limit(sampleK)
      .select(col("query_id"), col("qvec"))

  /** L2-normalize the embedding column (the encode step). Exposed to
    * verify as scalar invariants (norm, checksum of the normalized
    * vector, first component) so the oracle compare stays scalar.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("normalized", l2normalize(col("embedding"), col("nrm")))
      .select(col("vec_id"),
        r6(col("nrm")).as("l2_norm"),
        r6(seqSum(col("normalized"))).as("checksum"),
        r6(element_at(col("normalized"), 1)).as("c0"))

  /** The int8 rule [[quantize]] and [[quantizedSearch]] share: the
    * per-vector symmetric scale max |x|, and the codes
    * floor(x / scale · 127 + 0.5). A zero scale means an all-zero
    * vector; it divides by the smallest positive double instead, so its
    * codes are 0 (like [[quantizeTrained]]'s zero-spread guard) rather
    * than a division by zero. Any other scale, NaN included, divides
    * as before.
    */
  private def int8Scale(v: Column): Column = array_max(transform(v, x => abs(x.cast("double"))))

  private def int8Codes(v: Column, scale: Column): Column = {
    val divisor = greatest(scale, lit(java.lang.Double.MIN_VALUE))
    // the divisor enters as an array beside `v`, not as a lambda free
    // variable: CollapseProject inlines a scale column's definition
    // into its one consumer, and inside the lambda it would be
    // recomputed for every element
    zip_with(v, array_repeat(divisor, size(v)), (x, d) => floor(x.cast("double") / d * 127 + 0.5))
  }

  /** Int8 scalar quantization of the embedding column (the vector-db
    * memory-reduction path: 4× smaller vectors, dot products in int
    * arithmetic). Per-vector symmetric scale = max |x|; exposed to
    * verify as scalar invariants (scale, quantized checksum, saturation
    * count).
    */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    Tables.embeddings(spark, dir)
      .withColumn("scale", int8Scale(e))
      .withColumn("qv", int8Codes(e, col("scale")))
      .select(col("vec_id"), r6(col("scale")).as("scale"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x).as("sum_q"),
        size(filter(col("qv"), v => abs(v) === 127)).cast("long").as("n_sat"))
  }

  /** TRAINED scalar quantization: per-dimension corpus min/max (the
    * learned calibration a production int8 index ships) instead of
    * [[quantize]]'s per-vector max-abs. Codes are
    * floor((v−min)/(max−min)·255+0.5); the per-vector reconstruction
    * MSE is integerized per dimension before the sum.
    *
    * Scale shape: training is ONE partial-agg pass over the exploded
    * (dim, value) pairs → 64 rows of index metadata, collected and
    * baked into the encode expression as literal arrays (the
    * IvfIndex.centroidLiteral pattern); encoding is then a zero-shuffle
    * map-side projection over the corpus scan.
    */
  def quantizeTrained(spark: SparkSession, dir: String, dims: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.cents
    val stats = Tables.fanOut(Tables.embeddings(spark, dir))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .orderBy(col("i")).collect()
    val mns = lit(stats.map(_.getDouble(1)))
    val mxs = lit(stats.map(_.getDouble(2)))
    def code(i: Column): Column = {
      val v = element_at(col("embedding"), i).cast("double")
      val mn = element_at(mns, i)
      val mx = element_at(mxs, i)
      when(mx > mn, floor((v - mn) / (mx - mn) * 255 + 0.5)).otherwise(lit(0L)).cast("long")
    }
    def errE9(i: Column): Column = {
      val v = element_at(col("embedding"), i).cast("double")
      val mn = element_at(mns, i)
      val mx = element_at(mxs, i)
      val dec = mn + code(i).cast("double") / 255.0 * (mx - mn)
      cents((v - dec) * (v - dec), 1e9)
    }
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .withColumn("qc", transform(sequence(lit(1), lit(dims)), code(_)))
      .select(col("vec_id"),
        element_at(col("qc"), 1).as("c0"),
        element_at(col("qc"), 2).as("c1"),
        element_at(col("qc"), 3).as("c2"),
        element_at(col("qc"), 4).as("c3"),
        aggregate(col("qc"), lit(0L), (a, x) => a + x).as("sum_code"),
        aggregate(transform(sequence(lit(1), lit(dims)), errE9(_)), lit(0L), (a, x) => a + x)
          .as("recon_e9"))
  }

  /** The exact rescore every two-stage search ends with — the int8,
    * binary and Matryoshka searches here, and PqIndex's PQ, IVFPQ,
    * residual IVFPQ and persisted-index paths: stage one cuts a
    * candidate set on an approximate key (each site its own), stage two
    * scores the candidates' `embedding` by the exact dot product
    * against the `qvec` column as `exact` and keeps the top `k` in
    * (exact desc, vec_id asc) order. With `within` group keys, the top
    * `k` of each group instead, ranked into `ern` (the per-query form
    * PqIndex.pqRecallReport uses).
    */
  private[graft] def rescore(cand: DataFrame, qvec: String, k: Int,
      within: Seq[Column] = Nil): DataFrame = {
    val exact = cand.withColumn("exact", dot(col("embedding"), col(qvec)))
    val order = Seq(col("exact").desc, col("vec_id").asc)
    if (within.isEmpty) exact.orderBy(order: _*).limit(k)
    else exact.withColumn("ern", row_number().over(Window.partitionBy(within: _*)
      .orderBy(order: _*))).filter(col("ern") <= k)
  }

  /** Search over the int8-quantized vectors with exact rescoring — the
    * memory-reduction search mode `quantize` sets up (4× smaller
    * vectors; candidate scoring in integer arithmetic, which is exact
    * in both engines — no float drift possible). Stage one ranks by
    * the integer dot product de-scaled by the vector's own
    * quantization scale (the query's scale is a positive constant, so
    * dropping it preserves order); stage two is [[rescore]].
    */
  def quantizedSearch(spark: SparkSession, dir: String, candidates: Int = 50,
      k: Int = 10): DataFrame = {
    val e = col("embedding")
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(e.as("qv_raw"))
      .select(col("qv_raw"), int8Scale(col("qv_raw")).as("qs"))
      .select(col("qv_raw"), int8Codes(col("qv_raw"), col("qs")).as("qq"))
    val cand = Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .withColumn("vs", int8Scale(e))
      .withColumn("qv", int8Codes(e, col("vs")))
      .crossJoin(broadcast(q))
      // exact integer dot of the two code vectors, then de-scale by
      // this vector's quantization step — the approximate rank key
      .withColumn("int_dot",
        aggregate(zip_with(col("qv"), col("qq"), (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("approx_key", col("int_dot") * col("vs"))
      // drop the code arrays before the top-k: only narrow rows (plus
      // the float vector the rescore needs) ride the TakeOrdered heap
      .select(col("vec_id"), col("embedding"), col("qv_raw"),
        col("int_dot"), col("approx_key"))
      .orderBy(col("approx_key").desc, col("vec_id").asc)
      .limit(candidates)
    rescore(cand, "qv_raw", k)
      .select(col("vec_id"), col("int_dot"), r6(col("exact")).as("score"))
  }

  /** Sign-bit (1-bit) quantization of one 32-dim half of the embedding,
    * packed into a single long: bit i set ⟺ component (from+i) > 0.
    * Two halves cover the 64-dim vectors (32 bits per word keeps the
    * per-bit weights exactly representable in both engines' integer
    * paths). Exact integer math — no float drift possible.
    */
  private val Pow2 = typedLit((0 until 32).map(i => 1L << i))
  def signBits(v: Column, from: Int): Column =
    aggregate(
      zip_with(slice(v, from, 32), sequence(lit(0), lit(31)),
        (x, i) => when(x > 0, element_at(Pow2, (i + 1).cast("int"))).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)

  /** Binary-quantization search (the vector-db 32×-memory-reduction
    * mode: 64 floats → 64 bits): candidates ranked by hamming distance
    * between packed sign-bit signatures (bit_count of xor — integer
    * ops the whole way), then [[rescore]] of the candidate set.
    * Scale shape: the corpus scan carries only two longs per vector
    * into the candidate heap; the query signature is a broadcast row;
    * the corpus never shuffles.
    */
  def binarySearch(spark: SparkSession, dir: String, candidates: Int = 50,
      k: Int = 10): DataFrame = {
    val e = col("embedding")
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(e.as("qv_raw"))
      .select(col("qv_raw"),
        signBits(col("qv_raw"), 1).as("q_lo"), signBits(col("qv_raw"), 33).as("q_hi"))
    val cand = Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .withColumn("sig_lo", signBits(e, 1))
      .withColumn("sig_hi", signBits(e, 33))
      .crossJoin(broadcast(q))
      .withColumn("hamming",
        (bit_count(col("sig_lo").bitwiseXOR(col("q_lo")))
          + bit_count(col("sig_hi").bitwiseXOR(col("q_hi")))).cast("long"))
      .select(col("vec_id"), col("embedding"), col("qv_raw"), col("hamming"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(candidates)
    rescore(cand, "qv_raw", k)
      .select(col("vec_id"), col("hamming"), r6(col("exact")).as("score"))
  }

  /** Matryoshka (truncated-dimension) search: stage one ranks by the
    * dot product over only the first `dims` components — at scale the
    * short prefix is a separate, 4×-smaller column (or index) and the
    * full vector is only read for the candidate set — stage two is
    * [[rescore]] with the full-dimension dot product.
    */
  def matryoshkaSearch(spark: SparkSession, dir: String, dims: Int = 16,
      candidates: Int = 50, k: Int = 10): DataFrame = {
    val e = col("embedding")
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(e.as("qv_raw"), slice(e, 1, dims).as("q_sub"))
    val cand = Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .crossJoin(broadcast(q))
      .withColumn("sub_score", dot(slice(e, 1, dims), col("q_sub")))
      .select(col("vec_id"), col("embedding"), col("qv_raw"), col("sub_score"))
      .orderBy(col("sub_score").desc, col("vec_id").asc)
      .limit(candidates)
    rescore(cand, "qv_raw", k)
      .select(col("vec_id"), r6(col("sub_score")).as("sub_score"),
        r6(col("exact")).as("score"))
  }

  /** Brute-force top-k for a single query vector (vec_id 0), dot-product
    * score, deterministic tiebreak on vec_id.
    */
  def topK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") === 0))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), r6(col("score")).as("score"))

  /** Batch k-NN: top-k corpus neighbors for every query in the query
    * set (vec_id % 100 == 0). The scan-side plan is the 100 TB shape:
    * embeddings are dropped before the rank, and [[graft.plans.TopK]]'s
    * literal bound plans a partial `WindowGroupLimit` BEFORE the
    * shuffle, so only partitions×queries×k candidate rows reach the
    * exact rank window instead of the full corpus×queries scored set.
    */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val pruned = scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") % 100 === 0))
      .select(col("query_id"), col("vec_id"), col("score"))
    graft.plans.TopK(pruned, "query_id", "score", "vec_id", k, "rnk")
      .select(col("query_id"), col("vec_id"), col("rnk"), r6(col("score")).as("score"))
  }

  /** Similarity range search: all (query, corpus) pairs with score ≥
    * threshold (Qdrant score_threshold semantics).
    */
  def rangeSearch(spark: SparkSession, dir: String, threshold: Double = 0.25): DataFrame =
    scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") % 100 === 0))
      .filter(col("score") >= threshold)
      .select(col("query_id"), col("vec_id"), r6(col("score")).as("score"))

  /** Deterministic stand-in for the cross-encoder logit (the real model
    * is external; the reference applies sigmoid(logit) then labels,
    * query.py:69-97). Combines retrieval score with a document-length
    * feature so the rerank genuinely reorders.
    */
  def rerankLogit(score: Column, nChars: Column): Column =
    lit(8.0) * score - lit(1.0) + nChars / lit(1000.0)

  def relevanceLabel(logit: Column): Column =
    when(logit >= 2.0, "green").when(logit >= 0.5, "yellow").otherwise("red")

  /** Retrieve top-20 → rerank (logit → sigmoid prob → label) → re-sort
    * by rerank score. Document metadata joins in on doc_id ≡ vec_id.
    */
  def rerank(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val top = scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") === 0))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("score"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    top.join(docs, top("vec_id") === docs("doc_id"))
      .withColumn("logit", rerankLogit(col("score"), col("n_chars")))
      .withColumn("rerank_rank",
        row_number().over(graft.functions.VectorFunctions.boundedWindow(col("logit").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), r6(col("score")).as("retrieve_score"),
        r6(col("logit")).as("logit"),
        r6(lit(1.0) / (lit(1.0) + exp(-col("logit")))).as("prob"),
        relevanceLabel(col("logit")).as("label"),
        col("rerank_rank"))
  }

  /** Rocchio pseudo-relevance feedback: retrieve top-5, fold their
    * per-dimension mean (β=0.5) back into the query vector, re-search
    * with the expanded query — the classic recall-booster when the
    * original query under-specifies. The feedback mean is built from
    * per-row integerized sums (order-independent), so the expanded
    * query — and therefore the final ranking — is bitwise
    * reproducible. Two corpus scans total; the feedback set and the
    * expanded query are broadcast rows.
    */
  def rocchioSearch(spark: SparkSession, dir: String, feedbackK: Int = 5,
      k: Int = 10): DataFrame = {
    val q0 = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val top = Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .crossJoin(broadcast(q0))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(feedbackK)
      .select(col("vec_id"), col("embedding"))
    val fb = top.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(graft.functions.VectorFunctions.cents(col("v").cast("double"), 1e9)).as("s"),
        count(lit(1)).as("n"))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s") / (lit(1e9) * col("n"))).as("m")))),
        x => x.getField("m")).as("fbv"))
    val q2 = q0.crossJoin(broadcast(fb))
      .select(zip_with(col("qvec"), col("fbv"),
        (a, b) => a.cast("double") + lit(0.5) * b).as("qv2"))
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .crossJoin(broadcast(q2))
      .withColumn("s2", dot(col("embedding"), col("qv2")))
      .orderBy(col("s2").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), r6(col("s2")).as("score"))
  }

  /** k-NN majority-vote classification: each held-out query vector is
    * labeled by the modal label of its 5 nearest neighbors (itself
    * excluded) — embeddings-as-features, the classic k-NN classifier
    * as a relational pipeline. Same scan shape as [[knnJoin]]
    * (broadcast queries, [[graft.plans.TopK]] before the rank shuffle);
    * the vote count and argmax run on k×|queries| rows.
    */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qs = Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").cast("long").as("true_label"))
    val nn = Tables.fanOut(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("lbl")))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .select(col("query_id"), col("true_label"), col("vec_id"), col("lbl"), col("score"))
    val top = graft.plans.TopK(nn, "query_id", "score", "vec_id", k, "rnk")
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("lbl").asc)
    top.groupBy(col("query_id"), col("true_label"), col("lbl"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("true_label"), col("lbl").as("pred_label"),
        col("n_votes"))
  }

  /** Embedding drift monitor: per-dimension mean shift between a
    * reference half and a "current" half (vec_id parity split; `% 2 === 0`
    * splits negative ids like `pmod(vec_id, 2)`, CorpusHygieneSpec) — the
    * check a production vector store runs when the encoder changes.
    * Per-row integerized sums make the distributed means exact; one
    * posexplode + one partial-agg shuffle of (dim, sum, count) rows.
    */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cents
    // r16 (guide §2.3, one pass): both halves' sums ride ONE aggregate
    // as conditional sums/counts on the d-row grid — the old shape
    // filtered the (half, pos) aggregate into ref/cur branches and
    // re-joined them on pos (an extra exchange + join for the same
    // integer sums). The n>0 filters mirror the old inner join exactly
    // (a pos row existed per half iff that half had rows).
    val isRef = (col("vec_id") % 2) === 0
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .select(isRef.as("is_ref"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(
        sum(when(col("is_ref"), cents(col("v").cast("double"), 1e9))).as("s_ref"),
        count(when(col("is_ref"), 1)).as("n_ref"),
        sum(when(!col("is_ref"), cents(col("v").cast("double"), 1e9))).as("s_cur"),
        count(when(!col("is_ref"), 1)).as("n_cur"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .withColumn("mean_ref", col("s_ref") / (lit(1e9) * col("n_ref")))
      .withColumn("mean_cur", col("s_cur") / (lit(1e9) * col("n_cur")))
      .select((col("pos") + 1).cast("long").as("dim"),
        r6(col("mean_ref")).as("mean_ref"), r6(col("mean_cur")).as("mean_cur"),
        r6(abs(col("mean_cur") - col("mean_ref"))).as("shift"))
  }

  /** Top principal direction of the embedding corpus via ONE power
    * iteration — v ∝ Σ_r s_r·(x_r − μ) with s_r = (x_r − μ)·w and the
    * fixed start vector w = 1/8·1 — the PCA step an embedding pipeline
    * runs for whitening / anisotropy diagnostics. The covariance matrix
    * is never materialized: C·w distributes as one corpus pass of
    * per-row column math (d-sized arrays), so the cost is O(N·d), not
    * O(N·d²), at any scale.
    *
    * μ is a d-sized collect (bounded index metadata, same as centroid
    * and codebook collects) re-entered as an array literal; every
    * per-position contribution is integerized before the distributed
    * sums, so means, scores, and loadings are bit-identical to the
    * oracle regardless of partitioning.
    */
  /** Per-dimension mean/variance spectrum of the embedding space — the
    * anisotropy diagnostic next to [[pcaIter]]'s principal direction:
    * a healthy encoder spreads variance; a collapsed or rogue
    * dimension (variance ≈ 0, or one dim holding most of the energy)
    * breaks cosine geometry and quantization codebooks alike.
    *
    * Scale shape: one posexplode scan, per-row integerized
    * contributions (x at 1e6, x² at 1e9 — order-independent bigint
    * sums), one partial-agg shuffle onto the d-row grid.
    */
  def dimVariance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cents
    Tables.fanOut(Tables.embeddings(spark, dir))
      .select(posexplode(col("embedding")).as(Seq("p0", "v")))
      .select((col("p0") + 1).cast("long").as("pos"), col("v").cast("double").as("v"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("v"), 1e6)).as("s6"),
        sum(cents(col("v") * col("v"), 1e9)).as("q9"))
      .select(col("pos"),
        r6(col("s6") / lit(1e6) / col("n")).as("mean_v"),
        r6(col("q9") / lit(1e9) / col("n")
          - (col("s6") / lit(1e6) / col("n")) * (col("s6") / lit(1e6) / col("n")))
          .as("var_v"))
      .orderBy(col("pos"))
  }

  def pcaIter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cents
    val x = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val mu = Tables.fanOut(x)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(cents(col("v").cast("double"), 1e6)).as("s6"), count(lit(1)).as("n"))
      .select(col("pos"), (col("s6") / lit(1e6) / col("n")).as("mu"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val muArr = array(mu.map(lit(_)): _*)
    val s6 = aggregate(
      zip_with(col("embedding"), muArr,
        (v: Column, m: Column) => cents((v.cast("double") - m) * lit(0.125), 1e6)),
      lit(0L), (acc: Column, c: Column) => acc + c)
    val contrib = Tables.fanOut(x)
      .withColumn("s", s6 / lit(1e6))
      .select(posexplode(zip_with(col("embedding"), muArr,
        (v: Column, m: Column) => cents(col("s") * (v.cast("double") - m), 1e6)))
        .as(Seq("pos", "c6")))
      .groupBy(col("pos")).agg(sum(col("c6")).as("v6"))
    val nrm = contrib
      .agg(sqrt(sum((col("v6") / lit(1e6)) * (col("v6") / lit(1e6)))).as("nn"))
    contrib.crossJoin(broadcast(nrm))
      .select((col("pos") + 1).cast("long").as("pos"),
        r6((col("v6") / lit(1e6)) / col("nn")).as("loading"))
      .orderBy(col("pos"))
  }

  /** Multi-vector late-interaction search (ColBERT-style MaxSim): doc
    * and query are each treated as 4 independent 16-dim sub-vectors
    * (token-embedding stand-ins); score = Σ_s max_t dot(q_s, d_t) —
    * each query part matches its best doc part, so partial/paraphrase
    * matches score where a single pooled vector would wash out.
    * All 16 sub-dots are per-row column math in one scan (codegen'd,
    * zero shuffle); top-k via TakeOrdered.
    */
  def multivecSearch(spark: SparkSession, dir: String, parts: Int = 4,
      subDim: Int = 16, k: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val maxsim = (0 until parts).map { s =>
      greatest((0 until parts).map { t =>
        dot(slice(col("qvec"), s * subDim + 1, subDim),
          slice(col("embedding"), t * subDim + 1, subDim))
      }: _*)
    }.reduce(_ + _)
    Tables.fanOut(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .crossJoin(broadcast(q))
      .withColumn("maxsim", maxsim)
      .orderBy(col("maxsim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), r6(col("maxsim")).as("maxsim"))
  }

  /** Maximal-marginal-relevance diversified top-k: greedy selection
    * maximizing λ·rel(i) − (1−λ)·max_{s∈S} dot(i, s) over a retrieved
    * candidate pool. The retrieve (the data-sized stage) is the
    * distributed brute-force top-`poolK`; the greedy loop runs
    * driver-side over the collected pool — O(poolK) candidate rows,
    * the same shape as the reference's Python-side rerank of its
    * top-50 (reference mcp_server.py:150-177) and inherently
    * sequential (each pick depends on the previous). The Scala fold
    * for the pairwise dots is the identical left-to-right double sum
    * the engines use, so the selection is bitwise reproducible (the
    * oracle unrolls the same k=5 picks as nested CTEs).
    */
  def mmrSearch(spark: SparkSession, dir: String, poolK: Int = 20, k: Int = 5,
      lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val pool = scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec")).withColumn("query_id", lit(0L))
        .select(col("query_id"), col("qvec")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(poolK)
      .select(col("vec_id"), col("embedding"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    import spark.implicits._
    mmrGreedy(pool, k, lambda, mu).toDF("rnk", "vec_id", "mmr")
  }

  /** The greedy MMR selection over a collected candidate pool:
    * (rnk, vec_id, r6(mmr)) rows. Separated so other facades (e.g.
    * SearchApi.searchDiverse) can diversify their own retrieve stage.
    */
  def mmrGreedy(pool: Array[(Long, Array[Float], Double)], k: Int,
      lambda: Double, mu: Double): Seq[(Long, Long, Double)] = {
    def dotSeq(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.length < k && remaining.nonEmpty) {
      val scoredRem = remaining.map { case (id, vec, rel) =>
        // mu is a separate literal, NOT 1-lambda computed here: 1-0.7
        // is 0.30000000000000004 in IEEE double, while the oracle's
        // (0.3)::DOUBLE is the literal — they would diverge bitwise
        val mmr =
          if (selected.isEmpty) lambda * rel
          else lambda * rel - mu * selected.map(s => dotSeq(vec, s._2)).max
        (id, vec, mmr)
      }
      val best = scoredRem.minBy { case (id, _, mmr) => (-mmr, id) }
      selected += best
      remaining.remove(remaining.indexWhere(_._1 == best._1))
    }
    def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    selected.zipWithIndex
      .map { case ((id, _, mmr), i) => (i + 1L, id, r6d(mmr)) }.toSeq
  }

  /** Deterministic per-doc date (the documents table carries no date
    * column; this derives one so the reference's first-class date-range
    * search parameter has a demonstrable twin).
    */
  def docDate(docId: Column): Column =
    date_add(to_date(lit("2024-01-01")), (docId % 365).cast("int"))

  /** Date-windowed payload-filtered search (reference
    * mcp_server.py:81-84 `from_date`/`to_date`, applied at
    * mcp_server.py:158-172): top-50 retrieve → rerank → date-range +
    * min_score filter → limit. At scale the date predicate also prunes
    * at the storage layer when the corpus is date-partitioned
    * (Ingest.writeCorpus's partitioned layout).
    */
  def filteredDateSearch(spark: SparkSession, dir: String, fromDate: String = "2024-03-01",
      toDate: String = "2024-09-30", retrieveK: Int = 50, limitN: Int = 10): DataFrame = {
    val top = scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") === 0))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(retrieveK)
      .select(col("vec_id"), col("score"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .withColumn("doc_date", docDate(col("doc_id")))
    top.join(docs, top("vec_id") === docs("doc_id"))
      .withColumn("logit", rerankLogit(col("score"), col("n_chars")))
      .filter(col("doc_date").between(lit(fromDate).cast("date"), lit(toDate).cast("date"))
        && col("logit") >= 0.5)
      .orderBy(col("logit").desc, col("doc_id").asc)
      .limit(limitN)
      .select(col("doc_id"), date_format(col("doc_date"), "yyyy-MM-dd").as("doc_date"),
        r6(col("logit")).as("logit"), relevanceLabel(col("logit")).as("label"))
  }

  /** Payload-filtered search (reference mcp_server.py:150-177): top-50
    * retrieve → rerank → metadata filter (lang, length range) +
    * min_score → limit.
    */
  def filteredSearch(spark: SparkSession, dir: String, retrieveK: Int = 50,
      limitN: Int = 10): DataFrame = {
    val top = scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      queriesOf(spark, dir, col("vec_id") === 0))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(retrieveK)
      .select(col("vec_id"), col("score"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    top.join(docs, top("vec_id") === docs("doc_id"))
      .withColumn("logit", rerankLogit(col("score"), col("n_chars")))
      .filter(col("lang") === "en" && col("n_chars").between(100, 400)
        && col("logit") >= 0.5)
      .orderBy(col("logit").desc, col("doc_id").asc)
      .limit(limitN)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        r6(col("logit")).as("logit"), relevanceLabel(col("logit")).as("label"))
  }
}
