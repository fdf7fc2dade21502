package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.r6

/** Text analysis for LLM training-data pipelines (SURVEY.md §2-D):
  * language ID, quality scoring, token counting, fingerprinting.
  * Everything is per-row `Column` math (codegen'd) except langid's
  * marker join, which broadcasts a ~40-row vocabulary.
  */
object TextAnalysis {

  /** Language ID by stopword-marker scoring: count marker-word hits per
    * candidate language, argmax with lexicographic tiebreak, reported as
    * a (true lang × predicted lang) confusion matrix.
    *
    * Scale shape: scoring is per-row column math (marker sets are
    * compile-time literals — nothing is exploded or joined, so no
    * token shuffle ever happens); the argmax is an array_min over
    * (-score, cand) structs, exactly the (score DESC, cand ASC)
    * tiebreak the relational oracle formulation uses. The only shuffle
    * is the tiny confusion-matrix aggregate.
    */
  /** Per-row predicted language (the argmax column — reused by langId
    * and the corpus-filter pipeline).
    */
  def predLang(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = tokens(textCol)
    val cands = LangMarkers.map(_._1).distinct.sorted
    val scoreStructs = array(cands.map { cand =>
      val words = LangMarkers.filter(_._1 == cand).map(_._2)
      struct((markerCount(toks, words) * -1L).as("negscore"), lit(cand).as("cand"))
    }: _*)
    array_min(scoreStructs).getField("cand")
  }

  /** Per-row quality score (the same r6'd sigmoid `quality` emits —
    * reused by the corpus-filter pipeline so the whole filter is one
    * scan-side projection).
    */
  def qualityScore(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = tokens(text)
    val nToks = size(toks).cast("long")
    val nPunct = (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")
    val nStop = markerCount(toks, StopEn)
    // same zero-length guard as `quality` — the two must stay identical
    val nChars = greatest(length(text).cast("long"), lit(1L))
    r6(lit(1.0) / (lit(1.0) + exp(-(lit(0.02) * nToks
      + lit(4.0) * (nStop / (lit(1.0) * nToks))
      - lit(8.0) * (nPunct / (lit(1.0) * nChars))
      - lit(1.0)))))
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), predLang(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * word length, combined into a sigmoid quality score. All ratios are
    * integer-exact before the final division.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_t"),
        size(toks).cast("long").as("n_toks"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast("long").as("n_punct"),
        markerCount(toks, StopEn).as("n_stop"),
        sumTokenLengths(toks).as("sum_wlen"))
      // greatest(n_chars, 1): empty docs have length 0 and would hit
      // ANSI DIVIDE_BY_ZERO; n_toks is always >= 1 (split of "" is [""])
      .withColumn("punct_ratio",
        r6(col("n_punct") / (lit(1.0) * greatest(col("n_chars_t"), lit(1L)))))
      .withColumn("stop_ratio", r6(col("n_stop") / (lit(1.0) * col("n_toks"))))
      .withColumn("mean_wlen", r6(col("sum_wlen") / (lit(1.0) * col("n_toks"))))
      .withColumn("quality",
        r6(lit(1.0) / (lit(1.0) + exp(-(lit(0.02) * col("n_toks")
          + lit(4.0) * (col("n_stop") / (lit(1.0) * col("n_toks")))
          - lit(8.0) * (col("n_punct") / (lit(1.0) * greatest(col("n_chars_t"), lit(1L))))
          - lit(1.0))))))
      .select("doc_id", "n_chars_t", "n_toks", "punct_ratio", "stop_ratio", "mean_wlen", "quality")
  }

  /** Token counting: whitespace tokens vs BPE-ish regex tokens
    * (letter runs / digit runs / single non-space symbols) and
    * chars-per-token.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_t"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")
          .as("n_re_tokens"))
      .withColumn("chars_per_token", r6(col("n_chars_t") / (lit(1.0) * col("n_ws_tokens"))))

  /** Corpus heavy hitters: the 5 most frequent tokens per language.
    * Frequency analysis genuinely needs the token shuffle, but partial
    * aggregation means only (lang, token, partial-count) rows move, and
    * the per-group top-5 is a window over the aggregated (small) set.
    */
  def heavyHitters(spark: SparkSession, dir: String, topN: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token").asc)
    graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topN)
  }

  /** Deterministic consistent sample per language: the k documents
    * whose md5(doc_id) hashes are smallest (bottom-k sketch via a
    * custom typed Aggregator — order-independent, so the distributed
    * sample is reproducible and oracle-checkable). Output exploded to
    * (lang, rnk, h) rows.
    */
  def bottomKSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val sketch = udaf(new graft.functions.BottomKSketch(k))
    Tables.documents(spark, dir)
      .select(col("lang"), md5(col("doc_id").cast("string")).as("h"))
      .groupBy(col("lang"))
      .agg(sketch(col("h")).as("sample"))
      .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "h")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"), col("h"))
  }

  /** Canonical document fingerprint (sorted distinct token set → md5)
    * plus the fingerprint-collision group size — rolling-hash-style
    * near-identity detection at the document level.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(tokens(col("text"))).as("fingerprint"))
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))).cast("long"))

  /** Approximate heavy hitters per language via the Misra–Gries sketch
    * (O(k) state per group vs the exact query's full-vocabulary
    * groupBy): top-5 surviving tokens by estimated count. A sketch —
    * no SQL oracle; HeavyHitterSketchSpec bounds the error against the
    * exact counts and asserts the guarantee set survives.
    *
    * Determinism caveat (ADVICE r4): the MG merge (sum counters, then
    * subtract the (k+1)-largest) is commutative but NOT associative,
    * and Spark merges partial buffers in shuffle-fetch arrival order —
    * so est_count values (and, near ties, the surviving set) can vary
    * run-to-run on identical input. Only the N/(k+1) error BOUND is
    * stable, which is why this query is declared rows-only.
    */
  def heavySketch(spark: SparkSession, dir: String, counters: Int = 64,
      topN: Int = 5): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(counters))
    graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"))
      .agg(mg(col("token")).as("sk"))
      .select(col("lang"), posexplode(slice(col("sk"), 1, topN)).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("e._1").as("token"), col("e._2").as("est_count"))
  }

  /** Per-document keyword extraction: top-3 tokens by TF-IDF
    * (idf = ln(n_docs/df) over the whole corpus), reported for a fixed
    * doc subset. Scale shape: term frequencies and document frequencies
    * are partial-aggregated token shuffles (the same movement heavy
    * hitters pays — unavoidable for corpus-wide df); the scored subset
    * join is a broadcast of the (tiny) target-doc tf rows against the
    * df table. The score is integerized per row (floor(tf·idf·1e6)) so
    * ranking is integer-exact.
    */
  def tfidfKeywords(spark: SparkSession, dir: String, maxDocId: Long = 20,
      topN: Int = 3): DataFrame = {
    // per-doc tf straight off the scan — NO (doc, token) shuffle: the
    // native GramCountsExpr did that aggregation row-local (measured
    // 0.85 → 0.62 s at sf0.1). The k=1 substitution is kept ONLY where
    // it deletes a corpus shuffle like here: for the plain
    // explode→count family (heavy_hitters, zipf, hapax, js_divergence,
    // vocab_overlap, heaps) it was tried and REVERTED — the
    // codegen'd split+explode beats the CodegenFallback expression when
    // there is no shuffle to remove (lm_score 0.64 → 1.17 s measured;
    // k≥2 grams are different: their HOF construction is interpreted,
    // which is why bigramLm/pmi keep the native counts)
    val tf = graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.gramCounts(tokens(col("text")), 1)).as("gc"))
      .select(col("doc_id"), col("gc.g").as("token"), col("gc.c").as("tf"))
      .transform(graft.plans.ScanShare.shared)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val st = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("token").asc)
    tf.filter(col("doc_id") < maxDocId)
      .join(dfreq, "token")
      .crossJoin(broadcast(st))
      .withColumn("score_e6",
        graft.functions.VectorFunctions.cents(
          col("tf") * log(col("n_docs") / (lit(1.0) * col("df"))), 1e6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"),
        (col("score_e6") / lit(1e6)).as("tfidf"))
  }

  /** Unigram language-model quality scoring (the CCNet-style perplexity
    * filter with the LM trained on the corpus itself): each document is
    * scored by its mean token log-probability under the corpus unigram
    * distribution over HASHED-BUCKET features (the DSIR feature space,
    * [[dsirBucket]] — 256 buckets at the default resolution); the
    * lowest-scoring documents are the most improbable (boilerplate /
    * noise candidates). Bucketing keeps the model bounded by
    * construction, which is what lets the scorer run join-free at any
    * corpus size (see the in-body plan notes).
    */
  def lmScore(spark: SparkSession, dir: String, worstK: Int = 10,
      bucketChars: Int = 2): DataFrame = {
    // r14 (the r13 verdict's #1): the unigram LM is trained over the
    // HASHED-BUCKET vocabulary ([[dsirBucket]], 16^bucketChars buckets)
    // instead of raw tokens. The executed-plan audit showed the old
    // token-keyed probe join WAS broadcast at sf3 (no SMJ flip), but
    // only because AQE measured the materialized vocab under the
    // threshold — a corpus whose vocabulary outgrows the adaptive
    // broadcast cap would flip the probe into a full token-keyed
    // shuffle of the fan-out. Bucketing bounds the model BY
    // CONSTRUCTION (≤256 rows at the default resolution — the same
    // guarantee the DSIR scorer relies on), so the serving pass needs
    // no join at all: the LUT folds into a MapType literal and each
    // document scores map-side via a higher-order fold, exactly like
    // the streaming scorer (DocStream.dsirScore). Plan shape: one
    // bounded-agg pass (partial agg collapses to ≤256 rows per task
    // before the only exchange) + one scan→project→TakeOrdered scoring
    // pass with ZERO exchanges — survives any vocabulary growth.
    // Per-token log-probs stay integerized (1e6) before the per-doc
    // sum, so the fold is order-independent and the ranking exact.
    val nBuckets = math.pow(16, bucketChars).toInt
    val docs = graft.Tables.fanOut(Tables.documents(spark, dir))
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(dsirBucket(col("token"), bucketChars).as("b"))
      .agg(count(lit(1)).as("cnt"))
    val lut: Array[(Long, Long)] = counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("n_total"))))
      .select(col("b"), graft.functions.VectorFunctions.cents(
        log(col("cnt") / (lit(1.0) * col("n_total"))), 1e6).as("lp_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(lut.nonEmpty && lut.length <= nBuckets,
      s"lmScore LUT has ${lut.length} entries for $nBuckets buckets")
    // every scored token's bucket exists in the LUT (trained on the
    // same corpus), so a null lookup is a logic error — left to
    // propagate loudly into the output rather than coalesced away
    val m = typedlit(lut.toMap)
    val toks = tokens(col("text"))
    docs.select(col("doc_id"),
        aggregate(transform(toks, t => element_at(m, dsirBucket(t, bucketChars))),
          lit(0L), (acc, x) => acc + x).as("sum_lp_e6"),
        size(toks).cast("long").as("n_toks"))
      // r15 (r14 advice): zero-token docs (0/0 → NaN) and null-text docs
      // (null n_toks) are excluded BEFORE the rank, restoring the
      // pre-r14 explode-based exclusion semantics the oracle encodes —
      // on a corpus with < worstK tokenized docs the NaN/null rows would
      // otherwise leak into (or reorder) the graded output. The filter
      // is map-side (null > 0 is null → dropped), so the join-free
      // single-pass plan shape is unchanged.
      .where(col("n_toks") > 0)
      .withColumn("avg_logprob", r6(col("sum_lp_e6") / (lit(1e6) * col("n_toks"))))
      .orderBy(col("avg_logprob").asc, col("doc_id").asc)
      .limit(worstK)
      .select(col("doc_id"), col("n_toks"), col("avg_logprob"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each document is
    * scored by the log-likelihood ratio of its hashed-unigram features
    * under a TARGET distribution (here: the `targetLang` slice — the
    * domain you want more of) vs the RAW corpus distribution, with
    * add-one smoothing over the bucket vocabulary. The score is the SUM
    * of per-token log ratios (the paper's log importance weight — on
    * this corpus the tail separates hardest: off-target docs carry
    * strongly negative evidence, spec-pinned). Resampling by these
    * weights is the standard cheap domain-matching selector. Reported:
    * the topK docs by log weight. `bucketChars` scales the feature
    * resolution with the corpus (see [[dsirBucket]]).
    *
    * Scale shape: bucketing is map-side md5 hex math (2 hex chars →
    * 256 buckets; runs verbatim in DuckDB). Both feature distributions
    * are BOUNDED aggregates (nBuckets rows) joined back broadcast, so
    * the corpus pays one token fan-out and one doc-key partial-agg
    * shuffle; top-k is a TakeOrdered. Per-token log ratios are
    * integerized (1e6) before the per-doc sum — order-independent, same
    * precedent as [[lmScore]].
    */
  /** The hashed-unigram feature id: md5 2-hex-char prefix → 0..255
    * (hex→int, identical to the oracle's instr('0123..f', …) ladder).
    * md5 rather than xxhash so the mirror runs in DuckDB.
    */
  def dsirBucket(token: org.apache.spark.sql.Column, chars: Int = 2)
      : org.apache.spark.sql.Column = {
    require(chars >= 1 && chars <= 4,
      s"dsirBucket chars=$chars: 16^chars buckets must stay LUT-sized")
    conv(substring(md5(token), 1, chars), 16, 10).cast("long")
  }

  /** Train the DSIR bucket→log-ratio table: a BOUNDED (≤256 row)
    * DataFrame of integerized smoothed log ratios — the "model" the
    * batch scorer joins broadcast and the streaming scorer folds into
    * a literal map ([[graft.streaming.DocStream.dsirScore]]).
    */
  /** The shared (doc, lang, token, bucket) fan-out — ONE cached scan
    * feeds LUT training and the probe side of the scorer.
    */
  private def dsirTokOf(docs: DataFrame, bucketChars: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .withColumn("b", dsirBucket(col("token"), bucketChars))

  private def dsirTok(spark: SparkSession, dir: String, bucketChars: Int): DataFrame =
    dsirTokOf(graft.Tables.fanOut(Tables.documents(spark, dir)), bucketChars)
      // r16 (guide §2.3, project before the cache): no consumer of the
      // shared fan-out reads the token STRING — LUT training needs
      // (lang, b), the scorer needs (doc_id, lang, b) — so the heavy
      // string column is dropped before the persist instead of being
      // cached and re-deserialized by every pass
      .select(col("doc_id"), col("lang"), col("b"))
      .transform(graft.plans.ScanShare.shared)

  def dsirLut(spark: SparkSession, dir: String, targetLang: String = "en",
      bucketChars: Int = 2): DataFrame =
    dsirLutFrom(dsirTok(spark, dir, bucketChars), targetLang,
      math.pow(16, bucketChars).toInt)

  /** Train from an arbitrary (doc_id, lang, text) frame — the trainer
    * behind [[dsirLutArtifact]], public so specs can compare artifact
    * rows against a fresh training on the same corpus state.
    */
  def dsirLutOf(docs: DataFrame, targetLang: String = "en",
      bucketChars: Int = 2): DataFrame =
    dsirLutFrom(dsirTokOf(docs, bucketChars), targetLang,
      math.pow(16, bucketChars).toInt)

  private def dsirLutFrom(tok: DataFrame, targetLang: String,
      nBuckets: Int): DataFrame = {
    // r16 (guide §2.3, one pass): the source and target bucket counts
    // ride ONE aggregate — `ct` as a conditional count (0 for buckets
    // absent from the target slice, exactly the old left-join coalesce)
    // — where the r10–r15 shape ran the token fan-out twice (tgt and
    // src branches) and joined. Totals fold off the ≤nBuckets counts
    // table; identical integer counts → bit-identical lr_e6.
    val counts = tok.groupBy(col("b")).agg(
      count(lit(1)).as("cs"),
      count(when(col("lang") === targetLang, 1)).as("ct"))
    val totals = counts.agg(sum(col("cs")).as("s_tot"), sum(col("ct")).as("t_tot"))
    counts.crossJoin(broadcast(totals))
      .select(col("b"), graft.functions.VectorFunctions.cents(
        log(((col("ct") + lit(1.0)) * (col("s_tot") + lit(nBuckets.toDouble))) /
          ((col("cs") + lit(1.0)) * (col("t_tot") + lit(nBuckets.toDouble)))), 1e6).as("lr_e6"))
  }

  /** Persisted DSIR LUT artifact (r10): the trained bucket→log-ratio
    * table, cached on storage keyed by a fingerprint of (corpus data
    * files, targetLang, bucketChars) — the PqIndex.residualIndexFor
    * pattern applied to the text "model". dsirLut retrained from
    * scratch on every call; a production scorer (the streaming filter
    * especially — DocStream.dsirScore folds the LUT as a literal)
    * wants train-once-serve-many with automatic DRIFT handling:
    * any change to the corpus files changes the fingerprint and forces
    * a retrain, while a no-op append (appendCorpus that writes nothing)
    * leaves files — and the artifact — untouched. Returns the artifact
    * dir; [[loadDsirLut]] reads its rows in the streaming scorer's
    * (bucket, lr_e6) shape.
    *
    * `docsPath` is any documents parquet (a corpus dir or a testdata
    * `documents.parquet`). Installed once per fingerprint by
    * [[IndexMaintenance.cachedLayout]] — two racing JVMs can never
    * interleave files; the loser serves the winner's.
    */
  def dsirLutArtifact(spark: SparkSession, docsPath: String,
      targetLang: String = "en", bucketChars: Int = 2): String = synchronized {
    val sig = IndexMaintenance.filesSig(spark, docsPath)
    // the tokenizer/LUT-math identity rides in the fingerprint (r11,
    // ADVICE): nBuckets is derived from bucketChars and the Laplace
    // +1 / e6 scaling are named so a math change here must change this
    // token (and thereby invalidate cached artifacts) to stay honest
    val mathId = s"tok=hexbucket:smooth=laplace1:scale=e6:" +
      s"nb=${math.pow(16, bucketChars).toInt}"
    IndexMaintenance.cachedLayout(spark, "dsirlut",
      s"dsirlut:v1:$targetLang:$bucketChars:$mathId:$sig")(staging =>
      dsirLutOf(spark.read.parquet(docsPath), targetLang, bucketChars)
        .write.mode("overwrite").parquet(s"$staging/lut"))
  }

  /** LUT rows of a persisted artifact, in the (bucket, lr_e6) shape
    * DocStream.dsirScore folds into its literal map.
    */
  def loadDsirLut(spark: SparkSession, artifactDir: String): Array[(Long, Long)] =
    spark.read.parquet(s"$artifactDir/lut")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  def dsirWeights(spark: SparkSession, dir: String, targetLang: String = "en",
      topK: Int = 20, bucketChars: Int = 2): DataFrame = {
    val tok = dsirTok(spark, dir, bucketChars)
    val lut = dsirLutFrom(tok, targetLang, math.pow(16, bucketChars).toInt)
    tok.join(broadcast(lut), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lr_e6")).as("sum_lr_e6"), count(lit(1)).as("n_toks"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        r6(col("sum_lr_e6") / lit(1e6)).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): docs split
    * into head / middle / tail TERCILES by their unigram-LM mean token
    * log-probability (head = most fluent), reported per (lang, bucket)
    * with doc/token counts and the score range. The standard
    * quality-tiering step before mixing — CCNet trains on head+middle
    * and drops tail.
    *
    * Scale shape: the per-doc score rides [[lmScore]]'s chain (token
    * fan-out → bounded vocab join → doc-key partial agg). Terciles use
    * the ties-together sort-free rank (the decileLift pattern): the doc
    * table collapses to its distinct-score grid, a coarse integer-score
    * grid (bounded by the score DOMAIN) carries broadcast running
    * offsets, and the only window is partitioned by coarse bucket.
    * min/max per cell instead of mean keeps every output column
    * order-independent (no double summation).
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.boundedWindow
    val tok = graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .transform(graft.plans.ScanShare.shared)
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot = tok.agg(count(lit(1)).as("n_total"))
    // cut once: the doc-score table feeds the count, the score grid AND
    // the final bucket join — without the cut the token fan-out re-runs
    // three times
    val perDoc = graft.Checkpointing.cut(tok.join(freq, "token")
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6", graft.functions.VectorFunctions.cents(
        log(col("cnt") / (lit(1.0) * col("n_total"))), 1e6))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lp_e6")).as("sum_lp_e6"), count(lit(1)).as("n_toks"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        r6(col("sum_lp_e6") / (lit(1e6) * col("n_toks"))).as("score")))
    val nDocs = perDoc.count()
    val g = perDoc.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .withColumn("coarse", floor(col("score")).cast("long"))
    val coarseCum = g.groupBy(col("coarse")).agg(sum(col("cnt")).as("ccnt"))
      .select(col("coarse"),
        coalesce(sum(col("ccnt")).over(boundedWindow(col("coarse"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cum0"))
    val wIn = Window.partitionBy(col("coarse")).orderBy(col("score"))
    val terc = g.join(broadcast(coarseCum), Seq("coarse"))
      .select(col("score"),
        (col("cum0") + sum(col("cnt")).over(wIn)).as("cum"))
      .select(col("score"),
        floor(((col("cum") - 1) * 3).cast("double") / lit(nDocs.toDouble))
          .cast("long").as("t"))
    perDoc.join(terc, Seq("score"))
      .select(col("lang"), col("n_toks"), col("score"),
        when(col("t") === 2, "head").when(col("t") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
        min(col("score")).as("score_min"), max(col("score")).as("score_max"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Gopher-style repetition / quality rules (Rae et al. 2021 §A1.1,
    * adapted to token n-grams — the corpus has no line structure):
    * per document,
    *  - `uniq_frac`: distinct tokens / tokens (low → repetitive),
    *  - `top2_frac`: occurrences of the most frequent 2-gram / all
    *    2-grams (the "top n-gram fraction" rule),
    *  - `dup3_frac`: fraction of 3-gram instances that are repeats
    *    (the "duplicate n-gram fraction" rule),
    *  - `mean_wlen`: mean token length (bounds rule),
    * and the composed `keep` decision.
    *
    * Scale shape: pure per-row array math in ONE scan — no explode, no
    * join, no shuffle, trivially parallel at 100 TB. The top-2-gram
    * mode is sort + run-length fold, O(G log G) per row (G ≈ tokens) —
    * HOF lambdas run interpreted, so the naive O(G²) count-equal
    * formulation was the hidden cost of every full-projection consumer
    * (pipeline_e2e's filter measured 20× slower before this).
    */
  /** The per-row gopher statistics as one struct column
    * (n_toks, uniq_frac, top2_frac, dup3_frac, mean_wlen, keep) — the
    * single source of truth shared by [[gopherRules]] and the dataset
    * card, so the keep decision cannot drift between consumers.
    *
    * Native single-pass form (TextExprs.GopherRawExpr): one
    * hash-counting scan per row replaces five interpreted HOF
    * traversals (gramsAll×2, the sorted top-bigram fold,
    * array_distinct×2, the length fold). Only the raw integer counts
    * are native — every fraction and the keep decision are the same
    * column expressions as `graft.TextHof.gopherStatsHof` (which the DuckDB oracle
    * mirrors), so values are bit-identical; GopherParitySpec asserts it.
    */
  def gopherStats(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = graft.functions.TextExprs.gopherRaw(tokens(text))
    val nToks = s.getField("n_toks")
    val nG2 = s.getField("n_g2")
    val nG3 = s.getField("n_g3")
    val uniqFrac = r6(s.getField("n_uniq") / (lit(1.0) * nToks))
    val top2Frac = when(nG2 > 0, r6(s.getField("top2_cnt") / (lit(1.0) * nG2)))
      .otherwise(lit(0.0))
    val dup3Frac = when(nG3 > 0, r6(s.getField("dup3_cnt") / (lit(1.0) * nG3)))
      .otherwise(lit(0.0))
    val meanWlen = r6(s.getField("tok_mass") / (lit(1.0) * nToks))
    val keep = (top2Frac <= 0.08 && uniqFrac >= 0.42
      && meanWlen >= 3.0 && meanWlen <= 10.0).cast("long")
    struct(nToks.as("n_toks"), uniqFrac.as("uniq_frac"), top2Frac.as("top2_frac"),
      dup3Frac.as("dup3_frac"), meanWlen.as("mean_wlen"), keep.as("keep"))
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), gopherStats(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_toks"), col("g.uniq_frac"), col("g.top2_frac"),
        col("g.dup3_frac"), col("g.mean_wlen"), col("g.keep"))

  /** Token-distribution Shannon entropy per document (the low-entropy
    * boilerplate detector): H = -Σ_t (c_t/n)·ln(c_t/n) over distinct
    * tokens, with each term integerized (floor(x·1e6+0.5) as long)
    * before the fold so the sum is order-independent — DuckDB's
    * `list_distinct` order need not match Spark's. `norm_entropy`
    * rescales by the maximum ln(n_uniq).
    *
    * Scale shape: pure per-row array math in one scan — zero shuffle.
    * Per-token counts come from run lengths of the sorted array —
    * O(T log T) per row (HOF lambdas are interpreted; the naive
    * count-equal-per-distinct-token scan is O(T²) and was this file's
    * second hidden quadratic after gopher's top-2-gram).
    *
    * Native single-pass form (TextExprs.EntropyRawExpr): one hash
    * count per row replaces the sort + interpreted run-length fold;
    * the per-term integerization is identical, so the sum matches the
    * HOF twin `graft.TextHof.entropyScoreHof` exactly (GopherParitySpec).
    */
  def entropyScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val s = graft.functions.TextExprs.entropyRaw(toks)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        s.getField("n_uniq").as("n_uniq"),
        s.getField("ent_e6").as("ent_e6"))
      .withColumn("entropy", r6(col("ent_e6") / lit(1e6)))
      .withColumn("norm_entropy",
        when(col("n_uniq") > 1, r6(col("ent_e6") / (lit(1e6) * log(col("n_uniq")))))
          .otherwise(lit(0.0)))
      .select("doc_id", "n_toks", "n_uniq", "entropy", "norm_entropy")
  }

  /** Bigram language-model scoring (the conditional upgrade of
    * [[lmScore]]'s unigram filter): each document's mean
    * ln P(w_i | w_{i-1}) under corpus bigram statistics
    * (P = count(w_{i-1} w_i) / count(w_{i-1} ·)), worst documents
    * surfaced. Per-bigram contributions are integerized before the
    * per-doc sum.
    *
    * Scale shape: ONE corpus scan emits per-doc native bigram counts
    * (row-local first-level aggregation, no (doc, bigram) shuffle);
    * the count shuffle is partial-agg'd over the already-deduped
    * per-doc rows, and the per-doc aggregate combines map-side. The
    * scoring join BROADCASTS the vocab-sized probability table instead
    * of shuffling the exploded corpus on `bg` (the r5 shape relied on
    * AQE reusing the count exchange for the scoring join; the driver
    * bench showed it does not — 3.9 s vs the 1.7 s bar). Prefix counts
    * roll up from the vocab-sized bigram counts and are folded back
    * into them vocab-side, so the corpus never shuffles on `pre`
    * either.
    */
  def bigramLm(spark: SparkSession, dir: String, worstK: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.cents
    // per-doc bigram COUNTS straight off the scan (native one-pass,
    // TextExprs.GramCountsExpr): the exploded volume is per-doc
    // DISTINCT bigrams (not one row per occurrence) and there is no
    // (doc, bigram) shuffle — row-local counting did the first
    // aggregation level already. Shared by both consumers below via a
    // bounded-lifetime persist (the r7 rework: the previous plan
    // scanned + gram-exploded the corpus twice, once for counts and
    // once for scoring — measured 2.0 s vs 1.1 s at sf0.1).
    val dbg = graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.gramCounts(tokens(col("text")), 2)).as("gc"))
      .select(col("doc_id"), col("gc.g").as("bg"), col("gc.c").as("occ"))
      .transform(graft.plans.ScanShare.shared)
    val cbg = dbg.groupBy(col("bg")).agg(sum(col("occ")).as("cbg"))
    // prefix counts roll up from the bigram counts (vocab-sized input),
    // NOT from the exploded corpus — and join back into the bigram
    // counts here, while everything is still vocab-sized
    val cpre = cbg.groupBy(substring_index(col("bg"), " ", 1).as("pre"))
      .agg(sum(col("cbg")).as("cpre"))
    val probs = cbg.withColumn("pre", substring_index(col("bg"), " ", 1))
      .join(cpre, "pre")
      .select(col("bg"), col("cbg"), col("cpre"))
    // Σ occ·lp_e6 over distinct bigrams ≡ Σ lp_e6 over occurrences
    // (lp_e6 is integerized per bigram TYPE) — values unchanged
    dbg.join(broadcast(probs), "bg")
      .withColumn("lp_e6", cents(log(col("cbg") / (lit(1.0) * col("cpre"))), 1e6))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ") * col("lp_e6")).as("sum_lp_e6"),
        sum(col("occ")).as("n_bigrams"))
      .withColumn("avg_logprob", r6(col("sum_lp_e6") / (lit(1e6) * col("n_bigrams"))))
      .orderBy(col("avg_logprob").asc, col("doc_id").asc)
      .limit(worstK)
      .select("doc_id", "n_bigrams", "avg_logprob")
  }

  /** Email / phone / IPv4 patterns shared by the scrubber and its
    * oracle. Plain character-class regexes only — identical semantics
    * under Java regex (Spark) and RE2 (DuckDB); no lookaround, no \b.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{4}-[0-9]{3}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrubbing: redact emails, phone numbers and IPv4 addresses
    * with typed placeholders, reporting per-doc match counts. The
    * driver corpus is synthetic (no real PII), so the query first
    * injects deterministic PII derived from doc fields — the operator
    * under test is the scrubber, and every row exercises all three
    * patterns. Order matters and is fixed: emails first (their local
    * parts contain digits), then IPs (dotted digits), then phones
    * (hyphenated digits) — the three patterns are mutually
    * non-overlapping afterwards.
    *
    * Scale shape: pure per-row regex column math in one scan — no
    * joins, no shuffle, trivially parallel at 100 TB.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com call 555-0100-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(200)).cast("string"),
      lit(".0."), pmod(col("doc_id"), lit(250)).cast("string"), lit(" end"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>").as("scrubbed"))
      .withColumn("scrub_hash", md5(col("scrubbed")))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "scrub_hash")
  }

  /** Char-weighted duplicate-n-gram fraction: Σ_{g: count(g)≥2}
    * count(g)·chars(g) / Σ_g chars(g) over all n-grams WITH
    * multiplicity — the Gopher repetition-removal signal family
    * (Rae et al. 2021 §A1.1 measures repetition by the fraction of
    * CHARACTERS in duplicated n-grams, not the gram-count fraction
    * [[gopherStats]] tracks). Sort + run-length fold, O(G log G) per
    * row — the same shape that replaced this file's two hidden
    * quadratics in r5.
    */
  /** Native single-pass form (TextExprs.DupStatsExpr): one sort + one
    * scan per row instead of an interpreted `aggregate` lambda per
    * element. The HOF twins below define the semantics (and are what
    * the DuckDB oracle mirrors); DupStatsParitySpec asserts equality.
    */
  private[graft] def dupCharFrac(grams: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val st = graft.functions.TextExprs.dupStats(grams)
    when(st.getField("tot_mass") > 0,
      r6(st.getField("dup_mass") / (lit(1.0) * st.getField("tot_mass"))))
      .otherwise(lit(0.0))
  }

  private[graft] def dupCountFrac(xs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val st = graft.functions.TextExprs.dupStats(xs)
    when(st.getField("tot_cnt") > 0,
      r6(st.getField("dup_cnt") / (lit(1.0) * st.getField("tot_cnt"))))
      .otherwise(lit(0.0))
  }

  /** [[dupCharFrac]] with the k-gram construction fused into the native
    * pass (TextExprs.DupGramStatsExpr): the r8 real-document A/B showed
    * building the gram array through interpreted `transform` lambdas
    * WAS the repetition cost (~95 s on the archive corpus either way
    * the fold ran); the fused expression hash-counts grams in the same
    * JVM loop. Values are bit-identical to
    * `dupCharFrac(gramsAll(toks, k))` (DupStatsParitySpec).
    */
  private[graft] def dupCharFracGrams(toks: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column = {
    val st = graft.functions.TextExprs.dupGramStats(toks, k)
    when(st.getField("tot_mass") > 0,
      r6(st.getField("dup_mass") / (lit(1.0) * st.getField("tot_mass"))))
      .otherwise(lit(0.0))
  }

  /** Per-document repetition profile: char-weighted duplicate-gram
    * fractions for n = 2, 3, 4 plus the Gopher-style keep decision
    * (thresholds sit between the corpus quartiles so the gate actually
    * splits). Complements [[gopherStats]], whose top2/dup3 columns are
    * gram-COUNT fractions.
    *
    * Scale shape: pure per-row array math in one scan — zero shuffle,
    * trivially parallel; the oracle mirrors it relationally
    * (explode → per-gram counts → char-weighted sums).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        dupCharFracGrams(toks, 2).as("dup2_char_frac"),
        dupCharFracGrams(toks, 3).as("dup3_char_frac"),
        dupCharFracGrams(toks, 4).as("dup4_char_frac"))
      .withColumn("keep",
        (col("dup2_char_frac") <= 0.10 && col("dup3_char_frac") <= 0.08
          && col("dup4_char_frac") <= 0.06).cast("long"))
  }

  /** Zipf-law fit per language: least-squares slope of ln(count) vs
    * ln(rank) over the top-`topN` tokens — the corpus-statistics
    * diagnostic for "does this slice look like natural language"
    * (natural text slopes ≈ −1; templated/synthetic text flattens).
    * Every regression term is integerized (×1e6, floor+0.5) before the
    * distributed sums so the closed-form fit is order-independent and
    * bit-identical to the oracle.
    *
    * Scale: corpus → (lang, token) counts is one partial-agg shuffle;
    * ranking then runs on the vocab-sized count table (vocab ≪ corpus),
    * and the regression aggregates the bounded top-N per language.
    */
  def zipf(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.cents
    val cnt = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
    val wr = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("token").asc)
    val top = cnt.withColumn("r", row_number().over(wr)).filter(col("r") <= topN)
      .select(col("lang"),
        cents(log(col("r")), 1e6).as("x6"), cents(log(col("c")), 1e6).as("y6"))
    val agg = top.groupBy(col("lang")).agg(
      count(lit(1)).as("n"), sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
      sum(cents((col("x6") / lit(1e6)) * (col("y6") / lit(1e6)), 1e6)).as("sxy"),
      sum(cents((col("x6") / lit(1e6)) * (col("x6") / lit(1e6)), 1e6)).as("sxx"))
    val slope = (col("n") * (col("sxy") / lit(1e6))
      - (col("sx") / lit(1e6)) * (col("sy") / lit(1e6))) /
      (col("n") * (col("sxx") / lit(1e6))
        - (col("sx") / lit(1e6)) * (col("sx") / lit(1e6)))
    agg
      .select(col("lang"), col("n"), r6(slope).as("zipf_slope"),
        r6(((col("sy") / lit(1e6)) - slope * (col("sx") / lit(1e6))) / col("n"))
          .as("intercept"))
      .orderBy(col("lang"))
  }

  /** Flesch readability: reading-ease and Flesch–Kincaid grade from
    * deterministic proxies — whitespace words, `[aeiouy]+` vowel-group
    * syllables, `[.!?]+` sentence breaks (floored at 1 so fragment-only
    * documents score as one sentence, not ÷0). Plain character-class
    * regexes only — identical under Java regex and RE2.
    *
    * Scale shape: per-row regex column math in one scan — no shuffle.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val words = size(tokens(col("text"))).cast("long")
    val syl = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    val sent = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"), lit(1L))
    val wps = col("n_words") / (lit(1.0) * col("n_sentences"))
    val spw = col("n_syllables") / (lit(1.0) * col("n_words"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("n_words"), syl.as("n_syllables"),
        sent.as("n_sentences"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_ease",
        r6(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
      .withColumn("fk_grade",
        r6(lit(0.39) * wps + lit(11.8) * spw - lit(15.59)))
  }

  /** Duplicate-LINE profile — the remaining Gopher §A1.1 repetition
    * signals ([[repetition]] covers the n-gram family): fraction of
    * lines that are repeats of another line in the same document, by
    * line count and by character mass, plus the keep decision. Boiler-
    * plate (nav bars, cookie banners, signature blocks) shows up here
    * long before it moves any n-gram statistic.
    *
    * Scale shape: per-row array math in one scan — split on newline,
    * trim, drop empties, then the same sort + run-length folds as the
    * n-gram twin. Zero shuffle; the oracle mirrors it relationally.
    */
  def dupLines(spark: SparkSession, dir: String): DataFrame = {
    val lines = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), lines.as("lines"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        dupCountFrac(col("lines")).as("dup_line_frac"),
        dupCharFrac(col("lines")).as("dup_char_frac"))
      .withColumn("keep",
        (col("dup_line_frac") <= 0.30 && col("dup_char_frac") <= 0.20).cast("long"))
  }

  /** Collocation mining by pointwise mutual information over adjacent
    * token bigrams: PMI = log( p(ab) / (p(a)·p(b)) ), reported for the
    * strongest associations above a count floor (the floor keeps the
    * estimator out of PMI's low-count noise regime). The corpus-level
    * companion to [[bigramLm]]'s per-document scoring.
    *
    * Scale shape: ONE corpus scan and ONE exploded shuffle — unigram
    * and bigram counts ride the same explode as (gram, count) rows
    * pre-aggregated per row by the native GramCountsExpr (a second
    * explode would double the dominant cost, measured 3.3 s → the
    * corpus side of bigram_lm's 1.3 s at sf0.1; the r7 native counts
    * shrink the exploded volume to per-doc distinct grams on top). The
    * vocab-sized count table is persisted and reused by all four
    * consumers (both totals, both unigram joins); the PMI join then
    * runs entirely on vocab-sized inputs with the unigram side
    * broadcast twice and the two scalar totals broadcast as a 1-row
    * aggregate. The corpus is never joined.
    */
  def pmi(spark: SparkSession, dir: String, minCount: Long = 20, topK: Int = 30): DataFrame = {
    import graft.functions.TextExprs.gramCounts
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val toks = tokens(col("text"))
    // no kind tag needed: a token never contains whitespace (the
    // tokenizer split on it), a bigram always contains exactly one
    // space — the gram IS its own tag
    val counts = docs.select(
        explode(concat(gramCounts(toks, 1), gramCounts(toks, 2))).as("gc"))
      .groupBy(col("gc.g").as("g")).agg(sum(col("gc.c")).as("c"))
      .withColumn("is_bg", col("g").contains(" "))
      .transform(graft.plans.ScanShare.shared)
    val uni = counts.filter(!col("is_bg")).select(col("g").as("tok"), col("c").as("cu"))
    val big = counts.filter(col("is_bg")).select(col("g").as("bg"), col("c").as("cbg"))
    val totals = broadcast(counts.agg(
      sum(when(!col("is_bg"), col("c"))).as("nu"),
      sum(when(col("is_bg"), col("c"))).as("nb")))
    big.filter(col("cbg") >= minCount)
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .withColumn("b", substring_index(col("bg"), " ", -1))
      .join(broadcast(uni.withColumnRenamed("tok", "a").withColumnRenamed("cu", "ca")), "a")
      .join(broadcast(uni.withColumnRenamed("tok", "b").withColumnRenamed("cu", "cb")), "b")
      .crossJoin(totals)
      .withColumn("pmi",
        r6(log((col("cbg") / (lit(1.0) * col("nb"))) /
          ((col("ca") / (lit(1.0) * col("nu"))) * (col("cb") / (lit(1.0) * col("nu")))))))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(topK)
      .select(col("bg"), col("cbg"), col("ca"), col("cb"), col("pmi"))
  }

  /** Per-source document-length profile: count, mean tokens, and exact
    * p10/p50/p90 of characters per document — the first diagnostic a
    * corpus owner reads (a source whose median length collapses is
    * broken upstream; one whose p90 explodes needs chunking budget).
    *
    * Scale shape: one scan with per-row token counts, one partial-agg
    * shuffle onto the bounded source grid (exact percentile per the
    * q_percentiles precedent — swap to approx_percentile when a
    * source's doc count outgrows a single aggregation buffer).
    */
  def lengthProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        r6(sum(col("n_tokens")) / (lit(1.0) * count(lit(1)))).as("mean_tokens"),
        r6(expr("percentile(n_chars, 0.1)")).as("p10_chars"),
        r6(expr("percentile(n_chars, 0.5)")).as("p50_chars"),
        r6(expr("percentile(n_chars, 0.9)")).as("p90_chars"))
      .orderBy(col("source"))

  /** Vocabulary-richness profile per source: type/token ratio and the
    * hapax-legomena share (fraction of types appearing exactly once) —
    * the quick lexical-diversity readout next to [[heaps]]'s growth
    * curve (template-generated text has a collapsing hapax share;
    * natural text holds ~40-60%).
    *
    * Scale shape: per-source token counts in one exploded-corpus
    * shuffle (vocab-sized result), then a source-grid rollup.
    */
  def hapaxProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        r6(col("n_types") / (lit(1.0) * col("n_tokens"))).as("type_token_ratio"),
        r6(col("n_hapax") / (lit(1.0) * col("n_types"))).as("hapax_share"))
      .orderBy(col("source"))

  /** Jensen–Shannon divergence between source token DISTRIBUTIONS —
    * the proper domain-shift measure where [[vocabOverlap]] only
    * compares type sets (two sources can share every type yet use
    * them completely differently). JS = ½KL(P‖M) + ½KL(Q‖M),
    * M = (P+Q)/2, in [0, ln 2]; tokens private to one side contribute
    * exactly p·ln2, so JS = Σ_shared ½(p·ln(p/m) + q·ln(q/m)) +
    * ½ln2·((1−Σ_shared p) + (1−Σ_shared q)) — the private-token tail
    * needs NO anti-join, just the shared probability masses.
    *
    * Scale shape: per-source token counts in one exploded-corpus
    * shuffle; the pair stage joins the VOCAB-sized count table to
    * itself on token; per-token contributions integerized at 1e9
    * before the order-independent sums.
    */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cents
    val counts = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .transform(graft.plans.ScanShare.shared)
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = counts.join(broadcast(totals), "source")
      .select(col("source").as("source_a"), col("tok"),
        (col("c") / (lit(1.0) * col("n"))).as("p"))
    val b = counts.join(broadcast(totals), "source")
      .select(col("source").as("source_b"), col("tok"),
        (col("c") / (lit(1.0) * col("n"))).as("q"))
    val m = (col("p") + col("q")) / lit(2.0)
    a.join(b, "tok")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_types"),
        sum(cents(lit(0.5) * (col("p") * log(col("p") / m)
          + col("q") * log(col("q") / m)), 1e9)).as("s9"),
        sum(cents(col("p"), 1e9)).as("pm9"),
        sum(cents(col("q"), 1e9)).as("qm9"))
      .select(col("source_a"), col("source_b"), col("shared_types"),
        r6(col("s9") / lit(1e9)
          + lit(0.5) * log(lit(2.0))
            * ((lit(1.0) - col("pm9") / lit(1e9)) + (lit(1.0) - col("qm9") / lit(1e9))))
          .as("js_divergence"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Cross-source vocabulary overlap: per source pair, the shared
    * type count and vocabulary Jaccard — which sources are lexical
    * near-twins (a high-overlap pair is a dedup/contamination lead
    * BEFORE any document-level comparison is paid).
    *
    * Scale shape: distinct (source, token) is one exploded-corpus
    * shuffle down to the per-source vocabularies; the self-join runs
    * on the VOCAB-sized table keyed by token (never the corpus), and
    * the pair rollup/totals are source-grid-sized with broadcast
    * joins.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sv = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .transform(graft.plans.ScanShare.shared)
    val totals = sv.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val pairs = sv.select(col("source").as("source_a"), col("tok"))
      .join(sv.select(col("source").as("source_b"), col("tok")), "tok")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("source").as("source_a"), col("n_types").as("types_a"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"), col("n_types").as("types_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("types_a"), col("types_b"),
        col("n_shared"),
        r6(col("n_shared") /
          (lit(1.0) * (col("types_a") + col("types_b") - col("n_shared"))))
          .as("vocab_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-document n-gram novelty against everything EARLIER in the
    * corpus (doc_id order): the fraction of a doc's distinct 3-gram
    * shingles whose first corpus appearance is this doc. Low novelty =
    * the document is made of already-seen material — the incremental
    * cousin of near-dup detection, and the curation signal for "is
    * this source still adding new content" (pairs with [[heaps]]'s
    * corpus-level curve).
    *
    * Scale shape: first appearance is a min over a window partitioned
    * by shingle — ONE exploded-corpus shuffle on the gram (no join of
    * the corpus against a first-occurrence table); the per-doc rollup
    * is the second, partial-agg, shuffle. Same cost family as
    * [[bigramLm]]'s corpus side.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.shingles(tokens(col("text")))).as("g"))
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", r6(col("n_novel") / (lit(1.0) * col("n_grams"))))

  /** Heaps'-law vocabulary growth: V(N) ≈ K·N^β — how fast the corpus
    * keeps yielding new token types as it grows, the planning curve for
    * tokenizer vocab sizing and "is more data still adding diversity".
    * Corpus order is doc_id order (deterministic); the curve is sampled
    * at `buckets` fixed doc_id-range checkpoints and β, ln K come from
    * the same integerized least-squares fit [[zipf]] uses.
    *
    * Scale shape: a token type's first appearance is min(doc_id) — ONE
    * exploded-corpus shuffle on token (the same dominant cost every
    * corpus-vocabulary query pays); per-bucket token totals ride the
    * same explode as a partial-agg groupBy on the bucket id (bucket =
    * integer doc_id·B/(max+1) against a broadcast 1-row max — monotone
    * in doc_id, so checkpoints are consistent across engines). The
    * cumulative curve and the fit run on the bounded ≤B-row checkpoint
    * grid. A per-doc cumulative curve would need a corpus-wide global
    * window; the bucket grid is the scale-correct resolution.
    */
  def heaps(spark: SparkSession, dir: String, buckets: Int = 20): DataFrame = {
    import graft.functions.VectorFunctions.cents
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val mx = docs.agg(max(col("doc_id")).as("mxd"))
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .crossJoin(broadcast(mx))
      .withColumn("bkt", expr(s"(doc_id * $buckets) div (mxd + 1)"))
    val tokPerBucket = tok.groupBy(col("bkt")).agg(count(lit(1)).as("nt"))
    val newTypesPerBucket = tok.groupBy(col("tok")).agg(min(col("bkt")).as("fb"))
      .groupBy(col("fb").as("bkt")).agg(count(lit(1)).as("nv"))
    val w = graft.functions.VectorFunctions.boundedWindow(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = tokPerBucket.join(newTypesPerBucket, Seq("bkt"), "left")
      .select(col("bkt"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
      .withColumn("cum_tokens", sum(col("nt")).over(w))
      .withColumn("cum_types", sum(col("nv")).over(w))
      .select(col("bkt"), col("cum_tokens"), col("cum_types"),
        cents(log(col("cum_tokens")), 1e6).as("x6"),
        cents(log(col("cum_types")), 1e6).as("y6"))
      // ≤B rows consumed by both the fit aggregate and the output join —
      // the lazy persist makes the plan share one corpus pass, not two
      .transform(graft.plans.ScanShare.shared)
    val fit = curve.agg(
      count(lit(1)).as("n"), sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
      sum(cents((col("x6") / lit(1e6)) * (col("y6") / lit(1e6)), 1e6)).as("sxy"),
      sum(cents((col("x6") / lit(1e6)) * (col("x6") / lit(1e6)), 1e6)).as("sxx"))
    val slope = (col("n") * (col("sxy") / lit(1e6))
      - (col("sx") / lit(1e6)) * (col("sy") / lit(1e6))) /
      (col("n") * (col("sxx") / lit(1e6))
        - (col("sx") / lit(1e6)) * (col("sx") / lit(1e6)))
    // a sub-2-point regression is degenerate: integerization residue
    // would otherwise fabricate a finite slope out of 0/0
    curve.crossJoin(broadcast(fit.select(
        when(col("n") >= 2, r6(slope)).as("heaps_beta"),
        when(col("n") >= 2,
          r6(((col("sy") / lit(1e6)) - slope * (col("sx") / lit(1e6))) / col("n")))
          .as("heaps_lnk"))))
      .select(col("bkt"), col("cum_tokens"), col("cum_types"),
        col("heaps_beta"), col("heaps_lnk"))
      .orderBy(col("bkt"))
  }

  /** Append `outCol` = the total BPE token count of the `toksCol` word
    * array under the committed artifact — the shared broadcast-
    * tokenizer counting pass factored out of [[bpeTokens]] (r13, r12
    * verdict #3: shard packing budgeted by whitespace counts while the
    * repo owned a trained tokenizer). Schema-preserving, so ANY frame
    * can budget by real tokenizer counts: the tokenizer is broadcast
    * metadata, counting is a stateless mapPartitions pass with a
    * per-partition word memo (text is Zipf — the fold amortizes to a
    * hash lookup per word), zero shuffles, zero driver reads.
    */
  private[graft] def addBpeTokenCount(df: DataFrame, toksCol: String,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    val bc = df.sparkSession.sparkContext.broadcast(BpeTokenizer.default)
    val schema = df.schema.add(outCol, org.apache.spark.sql.types.LongType)
    val ti = df.schema.fieldIndex(toksCol)
    df.mapPartitions { it =>
      val t = bc.value
      val memo = new java.util.HashMap[String, java.lang.Long]()
      it.map { r =>
        val ws = if (r.isNullAt(ti)) Seq.empty[String] else r.getSeq[String](ti)
        var nBpe = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            var c = memo.get(w)
            if (c == null) {
              c = java.lang.Long.valueOf(t.countWord(w))
              if (memo.size < (1 << 16)) memo.put(w, c)
            }
            nBpe += c.longValue()
          }
        }
        Row.fromSeq(r.toSeq :+ nBpe)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Per-doc token counts under the COMMITTED BPE tokenizer artifact
    * (r11, r10 verdict #6 — text_tokens counts regex tokens; every
    * real pipeline budgets under ITS tokenizer): words → merges-table
    * fold ([[BpeTokenizer]]) → per-doc word/codepoint/BPE-token counts
    * and the chars-per-token compression ratio. The artifact is bytes
    * on the classpath (CRC-guarded); the oracle INLINES the same
    * merges table and reproduces the fold as a DuckDB recursive CTE
    * over the identical separator-string semantics — so the counts are
    * hash-checked, not spec-asserted.
    *
    * Scale shape: the tokenizer is broadcast metadata (the centroid
    * pattern); counting is a stateless batched mapPartitions pass with
    * a per-partition word memo (text is Zipf — the fold amortizes to a
    * hash lookup per token), zero shuffles, zero driver reads.
    */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(BpeTokenizer.default)
    val docs: Dataset[(Long, Seq[String])] =
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .as[(Long, Seq[String])]
    docs.mapPartitions { it =>
      val t = bc.value
      val memo = new java.util.HashMap[String, java.lang.Long]()
      it.map { case (id, ws) =>
        var nWords = 0L; var nChars = 0L; var nBpe = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            nWords += 1
            nChars += w.codePointCount(0, w.length).toLong
            var c = memo.get(w)
            if (c == null) {
              c = java.lang.Long.valueOf(t.countWord(w))
              if (memo.size < (1 << 16)) memo.put(w, c)
            }
            nBpe += c.longValue()
          }
        }
        (id, nWords, nChars, nBpe)
      }
    }.toDF("doc_id", "n_words", "n_chars_tok", "n_bpe")
      .withColumn("compression",
        when(col("n_bpe") > 0,
          r6(col("n_chars_tok") / (lit(1.0) * col("n_bpe")))))
  }

  /** BPE token counts over IDENTIFIER-shaped text (text_bpe_ids, r12 —
    * r11 verdict #4's realistic-size merge table, exercised where it
    * has subword structure to find): the documents vocabulary is the
    * 31-word Zipf head and collapses to single tokens under the
    * 2k-merge artifact (exactly what a real tokenizer does to frequent
    * words), while customer names split into learned prefix/digit-run
    * subwords (`Customer#`, `000`, `12`…). Same fold, same broadcast
    * artifact, same memoized mapPartitions shape as [[bpeTokens]]; the
    * c_custkey % 11 slice mirrors the oracle's recursive-CTE cost
    * bound, not a Spark-side limit.
    */
  def bpeIdTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(BpeTokenizer.default)
    val names: Dataset[(Long, Seq[String])] =
      Tables.customer(spark, dir)
        .filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select(col("c_custkey"), tokens(col("c_name")).as("toks"))
        .as[(Long, Seq[String])]
    names.mapPartitions { it =>
      val t = bc.value
      val memo = new java.util.HashMap[String, java.lang.Long]()
      it.map { case (id, ws) =>
        var nWords = 0L; var nChars = 0L; var nBpe = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            nWords += 1
            nChars += w.codePointCount(0, w.length).toLong
            var c = memo.get(w)
            if (c == null) {
              c = java.lang.Long.valueOf(t.countWord(w))
              if (memo.size < (1 << 16)) memo.put(w, c)
            }
            nBpe += c.longValue()
          }
        }
        (id, nWords, nChars, nBpe)
      }
    }.toDF("c_custkey", "n_words", "n_chars_tok", "n_bpe")
      .withColumn("compression",
        when(col("n_bpe") > 0,
          r6(col("n_chars_tok") / (lit(1.0) * col("n_bpe")))))
  }
}
