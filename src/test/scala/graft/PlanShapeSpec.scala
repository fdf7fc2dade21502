package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks in the audited physical-plan shapes (SURVEY.md §5 / §8): if a
  * refactor stops pushing a filter into the scan or drops a broadcast,
  * these fail even though results stay correct.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkSuite._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf)
    df.collect() // finalize the adaptive plan
    // AQE's toString appends the pre-adaptive "Initial Plan" — assert
    // only on what actually ran
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q1_agg pushes the date filter into the parquet scan and partial-aggregates") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q3_join broadcasts the filtered dimension and avoids a global sort") {
    val p = planOf("q3_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // Per-query top-k (graft.plans.TopK and the harnesses' own rank
  // windows): every rank shuffle must carry at most k rows per group per
  // map partition, i.e. have a Partial WindowGroupLimit below it —
  // counted off executedPlan nodes (RankExchanges), keyed by each rank's
  // first order column; a cached frame's ranks count too. The IVF keys'
  // probes are a projection of the query row (IvfIndex.probe), so the
  // batch vector arm has no probe rank Exchange. The hybrid facade's
  // twin check lives in SearchManySpec.
  Seq(
    "vs_knn_join" -> Set("score"),
    "vs_knn_classify" -> Set("score"),
    "vs_ivf_batch" -> Set("score"),
    "vs_ivf_recall" -> Set("score"),
    "vs_ndcg" -> Set("score"),
    "vs_lsh_recall" -> Set("score"),
    "vs_lsh_ndcg" -> Set("score"),
    "vs_pq_recall" -> Set("score", "approx_e9"),
    "vs_search_many" -> Set("score"),
  ).foreach { case (q, keys) =>
    test(s"$q bounds every per-query rank Exchange with a partial WindowGroupLimit") {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect() // finalize the adaptive plan
      val ranks = RankExchanges(df.queryExecution.executedPlan)
      assert(ranks.map(_._1).toSet === keys, s"$q: rank Exchanges $ranks")
      assert(ranks.forall(_._2), s"$q: unbounded rank Exchange(s) in $ranks")
    }
  }

  test("column pruning reaches the scans (no full-width reads in q1)") {
    val p = planOf("q1_agg")
    // lineitem has 11 columns; q1 needs 6 — unused ones must not be scanned
    assert(p.contains("l_quantity"), p)
    assert(!p.contains("l_partkey") && !p.contains("l_suppkey") && !p.contains("l_tax"), p)
  }

  test("native vector expressions appear in the knn plan (not HOF fallbacks)") {
    val p = planOf("vs_knn_topk")
    assert(p.contains("dotproductexpr"), p)
    assert(!p.contains("zip_with"), p)
  }

  // "No key shuffle": Tables.fanOut may inject a RoundRobin repartition
  // (local single-split parallelism; a no-op on a real cluster), and
  // broadcasts are fine — what must never appear is the corpus hashed or
  // range-partitioned on a key, or a Window (the r2 argmin-shuffle flaw).
  private def assertNoKeyShuffle(p: String): Unit = {
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("IVF assignment is a pure map-side projection: no key shuffle, no Window") {
    val df = graft.operators.IvfIndex.assign(spark, Sf)
    df.collect()
    assertNoKeyShuffle(df.queryExecution.executedPlan.toString)
  }

  test("PQ encoding never shuffles the corpus on a key") {
    val df = PqHof.encode(spark, Sf)
    df.collect()
    assertNoKeyShuffle(df.queryExecution.executedPlan.toString)
  }

  test("q_fuzzy joins on the deletion-neighborhood key, not a cartesian") {
    val p = planOf("q_fuzzy")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_simhash candidates come from an equi-join on the block key") {
    val p = planOf("dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bval"), p) // the byte-block value is a join key
  }

  test("binary-quantization signatures are computed in the scan (no key shuffle before top-k)") {
    val p = planOf("vs_binary_search")
    // the candidate stage must be a TakeOrdered over the scan, with the
    // corpus never hashed on a key; only the broadcast query row joins in
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("contamination joins bench grams by broadcast, never shuffling the corpus grams") {
    val p = planOf("text_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("anomaly broadcasts the per-group stats back onto the orders scan") {
    val p = planOf("q_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p) // moment pass partial-aggregates
  }

  test("pagerank's per-iteration rank join is a broadcast, not an edge shuffle") {
    val p = planOf("q_pagerank")
    assert(p.contains("BroadcastHashJoin"), p)
    // the one allowed key shuffle family: the edge-dedup + contribution
    // partial aggs; the rank table itself must never sort-merge with edges
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ivf+pq fuses assignment and ADC into the scan: no Window, no key shuffle") {
    val df = graft.operators.PqIndex.searchIvfPq(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("quantized search computes the query's int8 scale once per row, outside qq's lambda") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayMax, LambdaFunction}
    val df = SparkEntry.queries("vs_quantized_search")(spark, Sf)
    val qq = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case a: Alias if a.name == "qq" => a })
    assert(qq.nonEmpty, df.queryExecution.optimizedPlan.toString)
    qq.foreach { a =>
      val lambdas = a.collect { case l: LambdaFunction => l }
      assert(lambdas.nonEmpty, a.sql)
      assert(!lambdas.exists(_.exists(_.isInstanceOf[ArrayMax])),
        s"the scale is recomputed per element: ${a.sql}")
    }
  }

  test("gopher rules and entropy are single-scan map-side projections") {
    val g = graft.operators.TextAnalysis.gopherRules(spark, Sf)
    g.collect()
    assertNoKeyShuffle(g.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
    val e = graft.operators.TextAnalysis.entropyScore(spark, Sf)
    e.collect()
    assertNoKeyShuffle(e.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  test("substring dedup never self-joins the corpus (no nested-loop, no cartesian)") {
    val p = planOf("dedup_substring")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("newsletter parse and html conversion are single-scan map-side (no key shuffle)") {
    assertNoKeyShuffle(planOf("doc_parse_md"))
    assertNoKeyShuffle(planOf("doc_html_md"))
  }

  test("bigram-LM shuffles the exploded corpus exactly once (on the bigram key)") {
    val p = planOf("text_bigram_lm")
    // the corpus-sized exploded bigram table is keyed by `bg` for both
    // the count groupBy and the scoring join — ReusedExchange or a
    // single hashpartitioning(bg) exchange; a second corpus-wide
    // exchange on `pre` must NOT exist
    assert(!p.contains("hashpartitioning(pre"), p)
  }

  test("salted agg is exactly two partial-agg exchanges (salt stage + merge stage)") {
    val df = graft.operators.EventOps.skewAgg(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 2, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("asof join pays exactly one key shuffle (user_id) — no range fan-out, no cartesian") {
    val p = planOf("q_asof_join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("gap fill joins the bounded grid broadcast-side; the corpus only partial-aggregates") {
    val p = planOf("q_gapfill")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("repetition, readability and the stratified sample never key-shuffle the corpus") {
    Seq("text_repetition", "text_readability", "q_stratified_sample")
      .foreach(q => assertNoKeyShuffle(planOf(q)))
  }

  test("scd2 reuses one user_id exchange across both window passes") {
    val p = planOf("q_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("pca iteration never joins the corpus — aggregates and a broadcast norm only") {
    val p = planOf("vs_pca_iter")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("frame sampling and resize never key-shuffle the corpus") {
    Seq("mm_frames", "mm_resize").foreach(q => assertNoKeyShuffle(planOf(q)))
  }

  test("triangle closure never goes cartesian and builds pairs in-basket") {
    val p = planOf("q_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // pair generation is the in-array basket fan-out, not a corpus self-join:
    // exactly one lineitem scan feeds the pair pipeline... the closure joins
    // then run on the pruned frequent-pair table
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("pmi joins run broadcast on the vocab-sized sides — the corpus is never joined") {
    val p = planOf("text_pmi")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("weighted sample pays exactly one key shuffle (the per-source top-k window)") {
    val p = planOf("q_weighted_sample")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("concurrency reuses the session partitioning and fans out in-row (Generate)") {
    val p = planOf("q_concurrency")
    // one user_id exchange shared by the session window + rollup, one
    // bounded hour-grid aggregation exchange — nothing else moves
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p)
    assert(p.contains("Generate explode"), p)
  }

  test("dup-lines is pure per-row array math — no key shuffle") {
    assertNoKeyShuffle(planOf("text_dup_lines"))
  }

  test("decayed LTV broadcasts the 1-row anchor and partial-aggregates per user") {
    val p = planOf("q_decay_ltv")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("gini ranks distributed: every row_number window is bucket-partitioned") {
    val p = planOf("q_gini")
    // the ONLY unpartitioned window allowed is the <=B-row bucket-offset
    // running sum; the corpus-sized rank window must carry a partition
    // spec (bkt) — a global row_number over users is the scale-killer
    // this operator exists to avoid
    val winLines = p.linesIterator.filter(_.contains("row_number()")).toList
    assert(winLines.nonEmpty, p)
    winLines.foreach(w => assert(w.contains("windowspecdefinition(bkt"), w))
    // user totals: one partial-agg key shuffle; offsets join broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lorenz reuses gini's distributed rank: row_number stays bucket-partitioned") {
    val p = planOf("q_lorenz")
    val winLines = p.linesIterator.filter(_.contains("row_number()")).toList
    assert(winLines.nonEmpty, p)
    winLines.foreach(w => assert(w.contains("windowspecdefinition(bkt"), w))
  }

  test("user overlap never self-joins the corpus: pairs come from in-row combinatorics") {
    val p = planOf("q_user_overlap")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // type-vocab-sized total joins
    assert(p.contains("Generate explode"), p)
  }

  test("novelty uses the shingle-partitioned window, not a first-occurrence join") {
    val p = planOf("text_novelty")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(g#") && l.contains("min(")), p)
  }

  test("size-gated broadcasts degrade to shuffle joins past the gate, results identical") {
    import graft.operators.GraphOps
    // BELOW the gate (the default path) the broadcast shapes are pinned
    // by the pagerank/triangles tests above. Here: force the ABOVE-gate
    // path (gate at 0 rows) with runtime broadcast conversion disabled,
    // and require (a) a shuffle join, (b) no broadcast join on the gated
    // tables, (c) bit-identical results — the no-code-edit degradation
    // a 100× corpus relies on.
    val wantPr = GraphOps.pagerank(spark, Sf).collect().map(_.toString).toSeq
    val wantTri = GraphOps.triangles(spark, Sf).collect().map(_.toString).sorted.toSeq
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val pr = GraphOps.pagerank(spark, Sf, maxBroadcastRows = 0)
      assert(pr.collect().map(_.toString).toSeq === wantPr)
      val pPlan = pr.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(pPlan.contains("SortMergeJoin") || pPlan.contains("ShuffledHashJoin"), pPlan)
      assert(!pPlan.contains("BroadcastHashJoin"), pPlan)
      val tri = GraphOps.triangles(spark, Sf, maxBroadcastRows = 0)
      assert(tri.collect().map(_.toString).sorted.toSeq === wantTri)
      val tPlan = tri.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(tPlan.contains("SortMergeJoin") || tPlan.contains("ShuffledHashJoin"), tPlan)
      assert(!tPlan.contains("BroadcastHashJoin"), tPlan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("commonNeighbors: wedge + degree joins broadcast below the gate") {
    val p = planOf("q_common_neighbors")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("r9 graph ops degrade past the gate with identical results") {
    import graft.operators.GraphOps
    // bfsHops and labelProp cut lineage per round, so their iteration
    // joins aren't visible in the final plan — the degradation contract
    // is asserted as bit-identical RESULTS above/below the gate (plus
    // commonNeighbors' visible plan in both regimes)
    val wantBfs = GraphOps.bfsHops(spark, Sf).collect().map(_.toString).sorted.toSeq
    val wantCn = GraphOps.commonNeighbors(spark, Sf).collect().map(_.toString).toSeq
    val wantLp = GraphOps.labelProp(spark, Sf).collect().map(_.toString).toSeq
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      assert(GraphOps.bfsHops(spark, Sf, maxBroadcastRows = 0)
        .collect().map(_.toString).sorted.toSeq === wantBfs)
      val cn = GraphOps.commonNeighbors(spark, Sf, maxBroadcastRows = 0)
      assert(cn.collect().map(_.toString).toSeq === wantCn)
      val cnPlan = cn.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(cnPlan.contains("SortMergeJoin") || cnPlan.contains("ShuffledHashJoin"), cnPlan)
      assert(!cnPlan.contains("BroadcastHashJoin"), cnPlan)
      assert(GraphOps.labelProp(spark, Sf, maxBroadcastRows = 0)
        .collect().map(_.toString).toSeq === wantLp)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skyline stays pruned: no corpus-sized window, no nested-loop join") {
    val p = planOf("q_skyline")
    // the only Window ops run on the bounded grid/candidate sets, AFTER
    // the per-bucket threshold filter; the corpus must never self-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // grid threshold join is metadata
  }

  test("heaps pays one vocab shuffle and fits on the bounded checkpoint grid") {
    val p = planOf("text_heaps")
    // token first-occurrence groupBy (vocab-sized) + bucket totals +
    // the tiny curve grid — no corpus-sized join anywhere
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("shard shuffle is genuinely sort-free: no global sort, offsets ride a broadcast") {
    val p = planOf("q_shard_shuffle")
    // the whole point: a permutation of the corpus with NO total order —
    // no range partitioning anywhere, and the only window sort is the
    // (shard, bucket)-partitioned local one
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("BroadcastHashJoin"), p) // bounded offset grid
  }

  test("dsir scores in two bounded joins: LUT broadcast, corpus shuffled only per doc") {
    val p = planOf("text_dsir")
    // the 256-row LUT must come back broadcast — a shuffle join here
    // would key-shuffle the whole token fan-out against metadata
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lm score serves join-free off the literal bucket LUT: zero key exchanges") {
    val p = planOf("text_lm_score")
    // the r13 verdict's #1: the scoring pass must never be able to
    // key-shuffle the corpus token fan-out. With the LUT folded into a
    // MapType literal there is NO join (broadcast or otherwise) and NO
    // hash exchange in the serving plan at all — the only exchange
    // allowed is fanOut's round-robin split shim, and top-k is a
    // TakeOrdered (driver merges one k-row block per partition)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ppl buckets: tercile thresholds join broadcast; no corpus-sized window") {
    val p = planOf("text_ppl_buckets")
    // the only range partitioning allowed is the final orderBy on the
    // bounded (lang × 3) output grid — never a corpus-wide sort; the
    // SinglePartition window in the plan is boundedWindow over the
    // ≤~15-row coarse-score grid (its documented contract), not the
    // corpus
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
