package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IvfIndex, Layout, LexIndex, LexicalSearch, SearchApi}
import graft.streaming.IndexStream

/** r11 (r10 verdict #3): the persisted lexical posting index — sixth
  * maintained layout. Indexed BM25 must be row-identical to the brute
  * corpus-scan scorer, the query's token buckets must prune at the
  * parquet-partition level, streaming append must be byte-identical to
  * the batch build, compaction must compose, and the hybrid facade
  * over persisted vector + lexical indexes must equal the brute RRF
  * fusion at full probe coverage.
  */
class LexIndexSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
  }

  test("indexed BM25 == brute bm25 row-for-row (and prunes to the query buckets)") {
    val idx = tmp("graft-lexidx")
    LexIndex.writeIndex(spark, Sf, idx)
    val brute = rows(LexicalSearch.bm25(spark, Sf))
    val indexed = LexIndex.bm25Indexed(spark, idx)
    assert(rows(indexed) === brute)
    // pruning: the two query terms hash to <= 2 of the 64 buckets
    indexed.collect()
    val plan = indexed.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*bucket".r.findFirstIn(plan).isDefined,
      "bucket pruning lost")
    val wantBuckets = LexicalSearch.QueryTerms.map(LexIndex.bucketOfTerm).distinct
    assert(wantBuckets.size <= 2)
  }

  test("driver-side bucket hash == column-side bucket hash") {
    import spark.implicits._
    val terms = Seq("vector", "hash", "the", "a", "Zürich", "λ", "")
    val got = terms.toDF("term")
      .select(col("term"), LexIndex.bucketOf(col("term")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach(t => assert(got(t) === LexIndex.bucketOfTerm(t), s"term '$t'"))
  }

  test("streamed postings are byte-identical to batch-built ones; stats fold incrementally") {
    val docs = Tables.fanOut(Tables.documents(spark, Sf))
      .select(col("doc_id"), col("text"))
    val known = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
    val incoming = docs.filter(pmod(col("doc_id"), lit(3)) === 2)

    // batch build on the known slice, stream the incoming slice in
    val idx = tmp("graft-lexidx-stream")
    val staging = tmp("graft-lexidx-staging")
    val ckpt = tmp("graft-lexidx-ckpt")
    LexIndex.writeIndexOf(known, idx)
    incoming.write.parquet(s"$staging/wave0")
    val stream = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/wave*")
    // a batch-built base dir has no sink log — the r10 shadowing guard
    // forces the stream into an epoch dir (serving unions base+epochs)
    val q = IndexStream.append(spark, Layout.Lex, idx, stream, ckpt,
      sinkDir = IndexMaintenance.nextEpochDir(spark, idx))
    try q.processAllAvailable() finally q.stop()
    LexIndex.addToStats(spark, idx, incoming)

    // grown index == a from-scratch build on the full corpus: postings
    // byte-identical, stats equal, serving row-identical
    val full = tmp("graft-lexidx-full")
    LexIndex.writeIndexOf(docs, full)
    def postings(p: String) = IndexMaintenance.vectorsDf(spark, p)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        col("bucket").cast("long"))
      .collect().map(_.toString).sorted.toSeq
    assert(postings(idx) === postings(full))
    assert(spark.read.parquet(s"$idx/stats").collect().map(_.toString).toSeq ===
      spark.read.parquet(s"$full/stats").collect().map(_.toString).toSeq)
    assert(rows(LexIndex.bm25Indexed(spark, idx)) ===
      rows(LexIndex.bm25Indexed(spark, full)))
    // folding the epoch back into the base leaves serving unchanged
    IndexMaintenance.compactIndex(spark, idx)
    assert(rows(LexIndex.bm25Indexed(spark, idx)) ===
      rows(LexIndex.bm25Indexed(spark, full)))
  }

  test("compaction composes: serving unchanged, pruning intact") {
    val idx = tmp("graft-lexidx-compact")
    LexIndex.writeIndex(spark, Sf, idx)
    val before = rows(LexIndex.bm25Indexed(spark, idx))
    IndexMaintenance.compactIndex(spark, idx)
    val served = LexIndex.bm25Indexed(spark, idx)
    assert(rows(served) === before)
    served.collect()
    assert(raw"PartitionFilters: \[[^\]]*bucket".r
      .findFirstIn(served.queryExecution.executedPlan.toString).isDefined)
  }

  test("df-tiering bounds the hot bucket on a Zipf corpus; " +
      "non-degenerate top-k row-identical (r13 verdict #5)") {
    import spark.implicits._
    val n = 600
    val docs = (0 until n)
      .map(i => (i.toLong, s"the w${i % 17} u${i % 5} unique$i"))
      .toDF("doc_id", "text").repartition(8)
    val tiered = tmp("graft-lex-tier")
    val untiered = tmp("graft-lex-notier")
    LexIndex.writeIndexOf(docs, tiered) // default MaxDfFraction = 0.9
    LexIndex.writeIndexOf(docs, untiered, maxDfFraction = 1.0) // df > N never: off
    // the universal term is recorded (term, df) and absent from the layout
    assert(LexIndex.stopTerms(spark, tiered).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("the", n.toLong)))
    def bucketMax(p: String): (Long, Long) = {
      val per = IndexMaintenance.vectorsDf(spark, p)
        .groupBy(col("bucket").cast("long").as("b")).agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1))
      (per.max, per.sum)
    }
    val (hotU, totU) = bucketMax(untiered)
    val (hotT, totT) = bucketMax(tiered)
    // untiered: the stop-term's corpus-scale list lands WHOLE in one
    // bucket; tiered: exactly those n postings are gone and no bucket
    // dominates the layout
    assert(hotU >= n, s"hot bucket $hotU — the Zipf pathology did not manifest")
    assert(totT === totU - n, s"tiered $totT vs untiered $totU")
    assert(hotT <= hotU / 2, s"hot bucket still $hotT of $hotU after tiering")
    // non-degenerate query (no tiered term): row-identical to untiered
    assert(rows(LexIndex.searchTerms(spark, tiered, Seq("w3", "u2"))) ===
      rows(LexIndex.searchTerms(spark, untiered, Seq("w3", "u2"))))
    // a query CONTAINING the tiered term still serves — the stop-term
    // simply has no postings and contributes zero
    val withStop = LexIndex.searchTerms(spark, tiered, Seq("the", "w3")).collect()
    assert(withStop.nonEmpty)
    assert(withStop.forall(_.getAs[Long]("tf_the") === 0L))
    // the graded corpora sit BELOW the tier (max df fraction ~0.83 at
    // sf0.001/sf0.01), so every lexical graded query stays hash-exact
    // against its untiered brute oracle — pinned here so a corpus
    // refresh that crosses the tier fails loudly in one place
    val corpusDocs = Tables.documents(spark, Sf)
    val nd = corpusDocs.count()
    val maxDf = corpusDocs
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    assert(maxDf <= LexIndex.MaxDfFraction * nd,
      s"graded corpus max df $maxDf/$nd crossed the ${LexIndex.MaxDfFraction} tier")
  }

  test("r15 (verdict #3): streamed appends are tier-aware — the stop-term's " +
      "bucket never re-grows — and maintain() routes df drift to retier") {
    import spark.implicits._
    // Zipf corpus: "the" universal (tiered at build), "hot" at 89% df —
    // just under the 0.9 tier, so the drift bound can trip after growth
    val n = 600
    val docsZ = (0 until n)
      .map(i => (i.toLong,
        (if (i < 534) "the hot " else "the ") + s"w${i % 17} unique$i"))
      .toDF("doc_id", "text").repartition(8)
    val idx = tmp("graft-lex-tierstream")
    LexIndex.writeIndexOf(docsZ, idx)
    assert(LexIndex.stopTerms(spark, idx).collect()
      .map(r => r.getString(0)).toSeq === Seq("the"))
    assert(!LexIndex.needsRetier(spark, idx),
      "a freshly-built layout must not need a retier")
    assert(IndexMaintenance.maintain(spark, idx).action !== "retier")
    // stream 120 docs carrying the stop-term: its postings must be
    // dropped MAP-SIDE, so no bucket re-accumulates a corpus-scale list
    val grow = (n until n + 120)
      .map(i => (i.toLong, s"the the w${i % 17} fresh$i"))
      .toDF("doc_id", "text")
    val staging = tmp("graft-lex-tierstream-src")
    val ckpt = tmp("graft-lex-tierstream-ckpt")
    grow.coalesce(1).write.parquet(s"$staging/w0")
    val stream = spark.readStream.schema(grow.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/w*")
    val q = IndexStream.append(spark, Layout.Lex, idx, stream, ckpt,
      sinkDir = IndexMaintenance.nextEpochDir(spark, idx))
    try q.processAllAvailable() finally q.stop()
    LexIndex.addToStats(spark, idx, grow)
    assert(IndexMaintenance.vectorsDf(spark, idx)
      .filter(col("term") === "the").count() === 0L,
      "a tiered term's postings re-grew through the stream")
    // the grown index serves exactly like a from-scratch rebuild on
    // the grown corpus (row-identity preserved: stats fold pre-tier,
    // surviving postings are byte-identical, "the" is tiered by both)
    val rebuilt = tmp("graft-lex-tierstream-full")
    LexIndex.writeIndexOf(docsZ.unionByName(grow), rebuilt)
    assert(rows(LexIndex.searchTerms(spark, idx, Seq("hot", "w3"))) ===
      rows(LexIndex.searchTerms(spark, rebuilt, Seq("hot", "w3"))))
    // df drift: "hot" COULD have crossed the tier (534 + 120 appended
    // > 0.9 × 720) — the metadata-only decider trips and maintain()
    // routes the layout to a re-tiering rebuild instead of compacting
    assert(LexIndex.needsRetier(spark, idx))
    val m = IndexMaintenance.maintain(spark, idx)
    assert(m.action === "retier", m.toString)
  }

  test("hybrid over persisted indexes == brute searchHybrid at full coverage") {
    val vecIdx = tmp("graft-hybrid-vec")
    val lexIdx = tmp("graft-hybrid-lex")
    IvfIndex.writeIndex(spark, Sf, vecIdx)
    LexIndex.writeIndex(spark, Sf, lexIdx)
    val nClusters = spark.read.parquet(s"$vecIdx/centroids").count().toInt
    Seq("vector hash", "the quick brown fox", "wavelet").foreach { qt =>
      val brute = rows(SearchApi.searchHybrid(spark, Sf, qt))
      val indexed = rows(SearchApi.searchHybridIndexed(spark, Sf, vecIdx, lexIdx,
        qt, nprobe = nClusters))
      assert(indexed === brute, s"hybrid diverged for query '$qt'")
    }
  }
}
