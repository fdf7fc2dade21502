package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BatchedEncoder, BatchedScorer, IvfIndex, SearchApi}

/** r12 (r11 verdict #8): the query-SET serving facade. Pins (a) per
  * query, [[SearchApi.searchManyIndexed]] is row-identical to the
  * per-query [[SearchApi.searchIndexed]] loop at the same nprobe —
  * under the default seams AND the batched encoder/scorer pair — and
  * (b) the batch plan scans the index vectors layout exactly once for
  * the whole query set (the point of batching: Q pruned scans → 1).
  */
class SearchManySpec extends AnyFunSuite {
  import SparkSuite._

  private lazy val indexPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-many-idx").toString
    IvfIndex.writeIndex(spark, Sf, p)
    p
  }

  private val queryTexts = Seq(
    "vector search data pipelines",
    "distributed joins",
    "stream window order",
    "fast hash table scan")

  private def queriesDf = {
    import spark.implicits._
    queryTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")
  }

  private def loopRows(nprobe: Int,
      encoder: graft.operators.TextEncoder = SearchApi.defaultEncoder,
      scorer: graft.operators.CrossScorer = SearchApi.defaultScorer) =
    queryTexts.zipWithIndex.flatMap { case (t, i) =>
      SearchApi.searchIndexed(spark, Sf, indexPath, t, nprobe = nprobe,
          minLogit = Some(-5.0), lang = Some("en"),
          encoder = encoder, scorer = scorer)
        .withColumn("query_id", lit(i.toLong))
        .select("query_id", "doc_id", "score", "logit", "prob", "label",
          "rerank_rank", "lang", "text")
        .collect().toSeq
    }.sortBy(r => (r.getLong(0), r.getLong(6)))

  private def batchRows(nprobe: Int,
      encoder: graft.operators.TextEncoder = SearchApi.defaultEncoder,
      scorer: graft.operators.CrossScorer = SearchApi.defaultScorer) =
    SearchApi.searchManyIndexed(spark, Sf, indexPath, queriesDf,
        nprobe = nprobe, minLogit = Some(-5.0), lang = Some("en"),
        encoder = encoder, scorer = scorer)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(6)))

  test("batch facade == per-query searchIndexed loop at the same nprobe") {
    val got = batchRows(nprobe = 2)
    val want = loopRows(nprobe = 2)
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("both model seams compose on the batch path") {
    val enc = new BatchedEncoder(batchSize = 3)
    val sc = new BatchedScorer(batchSize = 3)
    val got = batchRows(nprobe = 2, encoder = enc, scorer = sc)
    val want = loopRows(nprobe = 2)
    assert(want.nonEmpty)
    assert(got === want)
  }

  private lazy val lexIndexPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-many-lex").toString
    graft.operators.LexIndex.writeIndex(spark, Sf, p)
    p
  }

  test("hybrid batch facade == per-query searchHybridIndexed loop") {
    val got = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
        lexIndexPath, queriesDf, nprobe = 2)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
        r.getDouble(4)))
      .sortBy(t => (t._1, -t._5, t._2))
    val want = queryTexts.zipWithIndex.flatMap { case (t, i) =>
      SearchApi.searchHybridIndexed(spark, Sf, indexPath, lexIndexPath, t,
          nprobe = 2)
        .collect().toSeq
        .map(r => (i.toLong, r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          r.getDouble(3)))
    }.sortBy(t => (t._1, -t._5, t._2))
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("the hybrid facade rides the encoder seam: batched encoder ≡ default") {
    // r14: the hybrid facade previously hard-coded the hashing
    // expression; a real-model TextEncoder must be able to serve BOTH
    // batch facades. The batched encoder is bit-identical to the
    // column expression (its documented contract), so rows must match.
    def rowsOf(enc: graft.operators.TextEncoder) =
      SearchApi.searchManyHybridIndexed(spark, Sf, indexPath, lexIndexPath,
          queriesDf, nprobe = 2, encoder = enc)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          r.getDouble(4)))
        .sortBy(t => (t._1, -t._5, t._2))
    val want = rowsOf(SearchApi.defaultEncoder)
    assert(want.nonEmpty)
    assert(rowsOf(new BatchedEncoder(batchSize = 3)) === want)
  }

  /** Physical scans of `dir`'s vectors layout in `df`'s executed plan:
    * the file scans, with each cached relation's plan counted once
    * however many times the plan reads it.
    */
  private def layoutScans(df: org.apache.spark.sql.DataFrame, dir: String): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val caches = scala.collection.mutable.Set.empty[AnyRef]
    def scans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case _: ReusedExchangeExec => 0
      case m: InMemoryTableScanExec =>
        if (caches.add(m.relation.cacheBuilder)) scans(m.relation.cachedPlan) else 0
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(s"$dir/vectors"))) 1 else 0
      case other => other.children.map(scans).sum
    }
    scans(df.queryExecution.executedPlan)
  }

  test("hybrid batch scans each layout once for the whole query set") {
    // start from a clean shared-scan registry: leftover enrollments
    // from earlier tests otherwise evict this plan's postings cache
    // mid-build and the printed plan double-counts the raw scan
    graft.plans.ScanShare.drain()
    val df = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
      lexIndexPath, queriesDf, nprobe = 2)
    // the centroid metadata table lives under the same index dir —
    // count only the vectors layout's scans; a cached relation the plan
    // reads twice (the shared postings scan) is one scan
    val vecScans = layoutScans(df, indexPath)
    val lexScans = layoutScans(df, lexIndexPath)
    assert(vecScans === 1, s"expected 1 IVF vectors scan, got $vecScans")
    assert(lexScans <= 1, s"expected <=1 postings scan, got $lexScans")
  }

  test("r13: the lexical arm is distributed — no term literals in the plan, " +
      "a partial WindowGroupLimit under BOTH rank shuffles") {
    import spark.implicits._
    graft.plans.ScanShare.drain()
    // a term that exists nowhere else: if it shows up in the executed
    // plan text, it got there as an isin/equality LITERAL (the r12
    // driver-mediated shape); the distributed arm ships it only as
    // broadcast-relation DATA, which the plan string never inlines
    val marker = "zzqxmarkerterm"
    val df = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
      lexIndexPath, Seq((0L, s"vector $marker"), (1L, "distributed joins"))
        .toDF("query_id", "query_text"), nprobe = 2)
    val qe = df.queryExecution
    // the r12 isin filter lived INSIDE the ScanShare-persisted postings
    // frame, so the cached plans must be searched too, not just the
    // top-level tree (whose string a cached adaptive subplan truncates)
    val cachedStrs = qe.optimizedPlan.collect {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        imr.cachedPlan.toString
    }
    val all = (qe.executedPlan.toString +: cachedStrs).mkString("\n")
    assert(!all.contains(marker),
      "a query term reached the plan as a literal — the lexical arm is driver-mediated again")
    // the per-query scored set is bounded before BOTH rank Exchanges:
    // the vector arm's (ordered by score) and the lexical arm's (by
    // score_e6) — counted structurally off the executed plan's nodes
    // (string counting double-counts adaptive Final/Initial sections)
    df.collect()
    val ranks = RankExchanges(qe.executedPlan)
    assert(ranks.forall(_._2), s"unbounded rank Exchange(s) in $ranks:\n$all")
    assert(Seq("score", "score_e6").forall(key => ranks.exists(_._1 == key)),
      s"expected the vector and lexical arms' partial limits, got $ranks")
  }

  test("r13: stop-word-heavy query set stays row-identical to the per-query loop") {
    import spark.implicits._
    // the corpus Zipf head = the highest-df terms there are; every
    // query is all stop-words, the regime where an unbounded lexical
    // rank shuffle would carry a corpus-scale scored set
    val head = Tables.fanOut(Tables.documents(spark, Sf))
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .orderBy(col("count").desc, col("w")).limit(6)
      .collect().map(_.getString(0))
    val texts = Seq(head.take(3).mkString(" "), head.drop(3).mkString(" "),
      head.take(2).reverse.mkString(" "))
    val queriesDf2 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")
    val got = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
        lexIndexPath, queriesDf2, nprobe = 2)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
        r.getDouble(4)))
      .sortBy(t => (t._1, -t._5, t._2))
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      SearchApi.searchHybridIndexed(spark, Sf, indexPath, lexIndexPath, t,
          nprobe = 2)
        .collect().toSeq
        .map(r => (i.toLong, r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          r.getDouble(3)))
    }.sortBy(t => (t._1, -t._5, t._2))
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("r15: query-frame broadcasts are size-gated — both shapes, identical rows") {
    // BELOW the gate (the default, measured path): the query-derived
    // tables ride broadcast joins. ABOVE the gate (forced at 0 rows,
    // runtime broadcast conversion disabled): every hint degrades to
    // its shuffle shape with bit-identical rows — the no-code-edit
    // degradation a 1M-query batch relies on (the pagerank/triangles
    // precedent, PlanShapeSpec).
    def hybridRows(maxRows: Long) =
      SearchApi.searchManyHybridIndexed(spark, Sf, indexPath, lexIndexPath,
          queriesDf, nprobe = 2, maxBroadcastRows = maxRows)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          r.getDouble(4)))
        .sortBy(t => (t._1, -t._5, t._2))
    val wantV = batchRows(nprobe = 2)
    val wantH = hybridRows(SearchApi.MaxBroadcastQueryRows)
    val belowPlan = SearchApi.searchManyIndexed(spark, Sf, indexPath, queriesDf,
        nprobe = 2)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(belowPlan.contains("BroadcastHashJoin"), belowPlan)
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      // BHJ must be absent from the WHOLE tree including ScanShare's
      // cached subplans (where the lexical semi-join lives — the r13
      // truncation gotcha), so search executed + cached plan strings
      def allPlanText(df: org.apache.spark.sql.DataFrame): String = {
        val qe = df.queryExecution
        val cached = qe.optimizedPlan.collect {
          case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            imr.cachedPlan.toString
        }
        (qe.executedPlan.toString +: cached).mkString("\n")
      }
      val dfV = SearchApi.searchManyIndexed(spark, Sf, indexPath, queriesDf,
        nprobe = 2, minLogit = Some(-5.0), lang = Some("en"),
        maxBroadcastRows = 0L)
      assert(dfV.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(6)))
        === wantV)
      val pV = allPlanText(dfV)
      assert(!pV.contains("BroadcastHashJoin"),
        s"a query-derived broadcast survived the 0-row gate:\n$pV")
      graft.plans.ScanShare.drain()
      val dfH = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
        lexIndexPath, queriesDf, nprobe = 2, maxBroadcastRows = 0L)
      val gotH = dfH.collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          r.getDouble(4)))
        .sortBy(t => (t._1, -t._5, t._2))
      assert(gotH === wantH)
      // the one-row stats table stays broadcast by design (a
      // BroadcastNestedLoopJoin cross); no query-derived equi join may
      val pH = allPlanText(dfH)
      assert(!pH.contains("BroadcastHashJoin"),
        s"a query-derived broadcast survived the 0-row gate:\n$pH")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("one pruned vectors scan serves the whole query set") {
    val df = SearchApi.searchManyIndexed(spark, Sf, indexPath, queriesDf,
      nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the vectors layout appears in exactly one scan node (counted off
    // the scans' root paths: the plan text truncates a long location);
    // pruning to the probed partitions is visible as PartitionFilters
    val vecScans = layoutScans(df, indexPath)
    assert(vecScans === 1, s"expected 1 vectors scan, got $vecScans in:\n$plan")
    assert(plan.contains("PartitionFilters"), s"no partition pruning in:\n$plan")
  }

  test("building a warm batch facade runs the encode cut and one metadata query") {
    // Construction-time Spark jobs of each batch facade, pinned at the
    // counts the probe-projection shape produces on this corpus (numQueries is
    // passed, so no count job; the layouts, the single-file documents
    // table included, are warm, so no listing or schema job, and the
    // collected centroids are held, so no centroid job):
    //  - vector: 1 eager encode cut + 2 jobs of ONE metadata query (the
    //    probed-cluster collect — AQE runs its shuffle stage as a job of
    //    its own);
    //  - hybrid: 1 encode cut + 4 jobs of ONE metadata query (the
    //    cluster ids fused with the lexical term buckets, r16).
    // A second metadata query, an unfused hybrid or a centroid
    // re-collect adds jobs.
    val n = queryTexts.length.toLong
    def vector() = SearchApi.searchManyIndexed(spark, Sf, indexPath, queriesDf,
      nprobe = 2, numQueries = n)
    def hybrid() = SearchApi.searchManyHybridIndexed(spark, Sf, indexPath,
      lexIndexPath, queriesDf, nprobe = 2, numQueries = n)
    assert(JobCounts.construction(() => vector()) === 3)
    assert(JobCounts.construction(() => hybrid()) === 5)
  }

  test("a warm IVF search and PQ recall report stay within their job budgets") {
    // one warm collect each (vs_ivf_ann, vs_ivf_batch, vs_pq_recall):
    // each probes against the held centroid collect, so no centroid job
    assert(JobCounts.warmCollect(() => IvfIndex.search(spark, Sf)) <= 4)
    assert(JobCounts.warmCollect(() => IvfIndex.searchBatch(spark, Sf)) === 8)
    assert(JobCounts.warmCollect(() => graft.operators.PqIndex.pqRecallReport(spark, Sf)) <= 18)
  }
}
