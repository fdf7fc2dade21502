package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only measurement harness (not part of the graded surface):
  * times query variants in isolation, driver-bench style (cold cache,
  * min-of-2), to settle perf questions by measurement instead of
  * guesswork. Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Scratch <variant...>"
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // match Bench's session shape (r16): the chain cache is ON in the
    // driver bench, so graph/dedup A/Bs here must measure the same
    // shared-stage regime. Opt-out: SPARK_GRAFT_CHAIN_CACHE=0.
    if (sys.env.getOrElse("SPARK_GRAFT_CHAIN_CACHE", "1") != "0")
      graft.operators.DedupChain.enable()
    def dropCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    // warmup
    graft.SparkEntry.queries("q1_agg")(spark, sfDir).count()
    dropCaches()
    // real-length prose for text-expression A/Bs: the 331 reference
    // archive pages as markdown, replicated 30× (~10k docs)
    def archiveDocs(s: SparkSession): org.apache.spark.sql.DataFrame = {
      val one = graft.sources.Ingest.fromHtml(s, "/root/reference/data/raw/html")
        .select(col("md_text").as("text"))
      (1 to 30).map(_ => one).reduce(_ union _)
        .repartition(cpus.toInt).persist()
    }
    val variants: Map[String, () => Unit] = Map(
      // r10: containment stage profile (posting stage / candidate
      // volume / doc-set build / full query)
      "cont_post" -> (() => {
        val n = graft.operators.Dedup.docShingles(spark, sfDir)
          .groupBy(col("shingle"))
          .agg(array_sort(collect_set(col("doc_id"))).as("docs"))
          .filter(size(col("docs")).between(2, 10))
          .select(explode(graft.functions.ArrayExprs.orderedPairs(col("docs"))).as("p"))
          .select(col("p.pa").as("doc_a"), col("p.pb").as("doc_b")).distinct().count()
        println(s"  cont_post pairs=$n")
      }),
      "cont_docsets" -> (() => {
        val cand = graft.plans.ScanShare.shared(
          graft.operators.Dedup.docShingles(spark, sfDir)
            .groupBy(col("shingle"))
            .agg(array_sort(collect_set(col("doc_id"))).as("docs"))
            .filter(size(col("docs")).between(2, 10))
            .select(explode(graft.functions.ArrayExprs.orderedPairs(col("docs"))).as("p"))
            .select(col("p.pa").as("doc_a"), col("p.pb").as("doc_b")).distinct())
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct()
        val nd = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
          .join(candDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            graft.functions.TextExprs.shingles(
              graft.functions.TextFunctions.tokens(col("text"))).as("sh"))
          .count()
        println(s"  cont_docsets docs=$nd")
      }),
      "cont_full" -> (() => graft.operators.Dedup.containment(spark, sfDir).count()),
      // r16 A/B: docSets derived FROM the posting-stage shingle rows
      // (one shuffle of (doc_id, hash) longs + collect_set) instead of
      // re-tokenizing candidate docs — trades a recompute for a shuffle
      "cont_v2" -> { () =>
        import graft.operators.Dedup
        import graft.functions.TextFunctions.tokens
        val sh = Dedup.docShingles(spark, sfDir)
        val cand = graft.plans.ScanShare.shared(
          sh.groupBy(col("shingle"))
            .agg(array_sort(collect_set(col("doc_id"))).as("docs"))
            .filter(size(col("docs")).between(2, 10))
            .select(explode(graft.functions.ArrayExprs.orderedPairs(col("docs"))).as("p"))
            .select(col("p.pa").as("doc_a"), col("p.pb").as("doc_b")).distinct())
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct()
        val docSets = sh
          .join(candDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h"))
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_set(col("h"))).as("sh"))
        val df = cand
          .join(docSets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(docSets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            graft.functions.ArrayExprs.sortedIntersectCount(col("sh_a"), col("sh_b"))
              .as("n_inter"),
            size(col("sh_a")).cast("long").as("n_a"),
            size(col("sh_b")).cast("long").as("n_b"))
          .withColumn("containment",
            graft.functions.VectorFunctions.r6(
              col("n_inter") / (lit(1.0) * least(col("n_a"), col("n_b")))))
          .filter(col("containment") >= 0.5)
        println(s"  cont_v2 n=${df.count()}")
      },
      "ngram" -> (() => graft.operators.Dedup.ngramJaccard(spark, sfDir).count()),
      "ngram_lazy" -> (() =>
        graft.operators.Dedup.ngramJaccard(spark, sfDir, eagerCand = false).count()),
      "drop" -> (() => graft.operators.Dedup.dropDecisions(spark, sfDir).count()),
      "drop_lazy" -> (() =>
        graft.operators.Dedup.dropDecisions(spark, sfDir, eagerCand = false).count()),
      "report" -> (() => graft.operators.Dedup.report(spark, sfDir).count()),
      "components" -> (() => graft.operators.Dedup.components(spark, sfDir).count()),
      "bigram" -> (() => graft.operators.TextAnalysis.bigramLm(spark, sfDir).count()),
      // gopher/entropy native-vs-HOF over REAL-length docs: the 331
      // archive pages' markdown, replicated 30x (~10k docs of real prose)
      "gopher_nat" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.gopherStats(col("text")).as("g"))
        .agg(sum(col("g.keep"))).collect()),
      "gopher_hof" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.gopherStatsHof(col("text")).as("g"))
        .agg(sum(col("g.keep"))).collect()),
      "entropy_nat" -> (() => archiveDocs(spark).select(
        graft.functions.TextExprs.entropyRaw(
          graft.functions.TextFunctions.tokens(col("text"))).as("s"))
        .agg(sum(col("s.ent_e6"))).collect()),
      "entropy_hof" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.entropyE6Hof(
          graft.functions.TextFunctions.tokens(col("text"))).as("e"))
        .agg(sum(col("e"))).collect()),
      // repetition / dup-lines native-vs-HOF over REAL-length prose
      // (same archive corpus as the gopher/entropy A/Bs)
      "rep_nat" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.dupCharFrac(
          graft.functions.TextFunctions.gramsAll(
            graft.functions.TextFunctions.tokens(col("text")), 3)).as("f"))
        .agg(sum(col("f"))).collect()),
      "rep_fused" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.dupCharFracGrams(
          graft.functions.TextFunctions.tokens(col("text")), 3).as("f"))
        .agg(sum(col("f"))).collect()),
      "rep_hof" -> (() => archiveDocs(spark).select(
        graft.operators.TextAnalysis.dupCharFracHof(
          graft.functions.TextFunctions.gramsAll(
            graft.functions.TextFunctions.tokens(col("text")), 3)).as("f"))
        .agg(sum(col("f"))).collect()),
      "dupl_nat" -> { () =>
        val lines = filter(transform(split(col("text"), "\n"), l => trim(l)),
          l => length(l) > 0)
        archiveDocs(spark).select(
          graft.operators.TextAnalysis.dupCountFrac(lines).as("lf"),
          graft.operators.TextAnalysis.dupCharFrac(lines).as("cf"))
          .agg(sum(col("lf")), sum(col("cf"))).collect()
        ()
      },
      "dupl_hof" -> { () =>
        val lines = filter(transform(split(col("text"), "\n"), l => trim(l)),
          l => length(l) > 0)
        archiveDocs(spark).select(
          graft.operators.TextAnalysis.dupCountFracHof(lines).as("lf"),
          graft.operators.TextAnalysis.dupCharFracHof(lines).as("cf"))
          .agg(sum(col("lf")), sum(col("cf"))).collect()
        ()
      },
      "pagerank" -> (() => graft.operators.GraphOps.pagerank(spark, sfDir).count()),
      "triangles" -> (() => graft.operators.GraphOps.triangles(spark, sfDir).count()),
      "degree_dist" -> (() => graft.operators.GraphOps.degreeDist(spark, sfDir).count()),
      "pagerank_ck" -> { () =>
        // pagerank with the numeric edge table eagerly localCheckpointed
        // (lineage-truncating) instead of relying on ReusedExchange
        val ed = graft.operators.GraphOps.edges(spark, sfDir).localCheckpoint()
        val od = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        val nt = od.agg(count(lit(1)).as("n"))
        import graft.functions.VectorFunctions.{cents, r6}
        val r0 = od.crossJoin(broadcast(nt))
          .select(col("src").as("node"), col("outdeg"),
            cents(lit(0.15) / col("n"), 1e9).as("base_e9"),
            cents(lit(1.0) / col("n"), 1e9).as("r_e9"))
        var r = r0
        for (_ <- 0 until 2) {
          val cr = r.select(col("node"),
            cents(lit(0.85) * col("r_e9") / col("outdeg"), 1.0).as("c_e9"))
          val contrib = ed.join(broadcast(cr), ed("src") === cr("node"))
            .groupBy(col("dst")).agg(sum(col("c_e9")).as("in_e9"))
          r = r0.join(broadcast(contrib), r0("node") === contrib("dst"), "left")
            .select(r0("node"), r0("outdeg"), r0("base_e9"),
              (r0("base_e9") + coalesce(col("in_e9"), lit(0L))).as("r_e9"))
        }
        r.orderBy(col("r_e9").desc).limit(20).count()
        ()
      },
      "apxd_cur" -> { () =>
        val df = graft.operators.Relational.approxDistinct(spark, sfDir)
        df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect()
        ()
      },
      "apxd_join" -> { () =>
        // exact distinct via pre-aggregation (no Expand), HLL in a
        // separate branch, joined on the 3-row group key
        val li = graft.Tables.lineitem(spark, sfDir)
          .select(col("l_returnflag"), col("l_partkey"))
        val exact = li.groupBy(col("l_returnflag"), col("l_partkey"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("exact_parts"), sum(col("c")).as("n"))
        val apx = li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        val df = exact.join(apx, "l_returnflag")
          .select(col("l_returnflag"), col("exact_parts"), col("n"),
            (abs(col("approx_parts") - col("exact_parts"))
              <= col("exact_parts") * 0.06).as("within_bound"))
        df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect()
        ()
      },
      "simhash_diag" -> { () =>
        val t0 = System.nanoTime()
        val blocks = graft.operators.Dedup.simhashBlocks(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nb = blocks.count()
        val t1 = System.nanoTime()
        val cand = blocks.select(col("doc_id").as("doc_a"), col("lang"), col("blk"), col("bval"))
          .join(blocks.select(col("doc_id").as("doc_b"), col("lang"), col("blk"), col("bval")),
            Seq("lang", "blk", "bval"))
          .filter(col("doc_a") < col("doc_b"))
        val nc = cand.count()
        val t2 = System.nanoTime()
        val np = graft.operators.Dedup.simhashPairs(spark, sfDir).count()
        val t3 = System.nanoTime()
        blocks.unpersist()
        println(f"  blocks=$nb (${(t1 - t0) / 1e9}%.2f) cand=$nc (${(t2 - t1) / 1e9}%.2f) pairs=$np full=${(t3 - t2) / 1e9}%.2f")
      },
      "codegen_dump" -> { () =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val df = graft.operators.PqIndex.searchIvfPq(spark, sfDir)
        df.collect()
        val s = org.apache.spark.sql.execution.debug.codegenString(
          df.queryExecution.executedPlan)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        println(if (s.contains("graft.functions.AnnExprs"))
          "CODEGEN_CONTAINS_ANNEXPRS_STATIC_CALL"
        else "NO_ANNEXPRS_IN_CODEGEN\n" + s.take(2000))
      },
      // r14: text_lm_score 30x-ratio root-cause (the r13 verdict #1).
      // lm_plan dumps the EXECUTED (post-AQE) plan: is the vocab join a
      // broadcast or did it flip to SMJ? lm_stages times the two corpus
      // passes separately. lm_gc / lm_pin are candidate fixes.
      "lm_plan" -> { () =>
        val df = graft.operators.TextAnalysis.lmScore(spark, sfDir)
        df.collect()
        val s = df.queryExecution.executedPlan.toString
        val smj = "SortMergeJoin".r.findAllIn(s).length
        val bhj = "BroadcastHashJoin".r.findAllIn(s).length
        val exch = "Exchange hashpartitioning".r.findAllIn(s).length
        println(s"  lm_plan SMJ=$smj BHJ=$bhj hashExchanges=$exch")
        println(s)
      },
      "lm_cur" -> (() => {
        graft.operators.TextAnalysis.lmScore(spark, sfDir).collect(); ()
      }),
      "lm_stages" -> { () =>
        import graft.functions.TextFunctions.tokens
        val t0 = System.nanoTime()
        val tok = graft.Tables.fanOut(graft.Tables.documents(spark, sfDir))
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val nf = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt")).count()
        val t1 = System.nanoTime()
        val nd = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n")).count()
        val t2 = System.nanoTime()
        println(f"  lm_stages vocab=$nf freqPass=${(t1 - t0) / 1e9}%.2f docAggPass=${(t2 - t1) / 1e9}%.2f")
      },
      // r14 verdict #6 watch item: vs_multivec quadrupled at sf3 on a
      // clean r13 window with no plan change — adjudicate by direct
      // measurement
      "mv_cur" -> (() => {
        graft.operators.KnnSearch.multivecSearch(spark, sfDir).collect(); ()
      }),
      // r14: where do vs_search_many_hybrid's ~2.5s go? (index cache
      // resolution vs the fused query itself)
      "smh_stages" -> { () =>
        val t0 = System.nanoTime()
        val vi = graft.operators.IvfIndex.ivfIndexFor(spark, sfDir)
        val li = graft.operators.LexIndex.lexIndexFor(spark, sfDir)
        val t1 = System.nanoTime()
        import spark.implicits._
        val qs = graft.operators.SearchApi.GradedQuerySet.toDF("query_id", "query_text")
        graft.operators.SearchApi.searchManyHybridIndexed(spark, sfDir, vi, li,
          qs, nprobe = Int.MaxValue, perList = 20, k = 10).collect()
        val t2 = System.nanoTime()
        println(f"  smh_stages resolve=${(t1 - t0) / 1e9}%.2f query=${(t2 - t1) / 1e9}%.2f")
      },
      // r15: fine-grained stage split for the 16-query hybrid facade —
      // where do the seconds go among (index resolve, the two metadata
      // collects, each arm's rank, the fusion)?
      "smh_diag" -> { () =>
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{IvfIndex, LexIndex, IndexMaintenance, LexicalSearch}
        import graft.functions.VectorFunctions.{dist2, dot}
        val t0 = System.nanoTime()
        val vi = IvfIndex.ivfIndexFor(spark, sfDir)
        val li = LexIndex.lexIndexFor(spark, sfDir)
        val t1 = System.nanoTime()
        val queries = graft.operators.SearchApi.GradedQuerySet.toDF("query_id", "query_text")
        val qs = graft.operators.SearchApi.defaultEncoder
          .encode(queries, "query_text", "qvec")
          .transform(graft.plans.ScanShare.shared)
        val probe = spark.read.parquet(s"$vi/centroids")
          .crossJoin(broadcast(qs.select(col("query_id"), col("qvec"))))
          .withColumn("cd2", dist2(col("cvec"), col("qvec")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cd2").asc, col("cluster_id").asc)))
          .filter(col("rn") <= Int.MaxValue)
          .select(col("query_id"), col("cluster_id"), col("qvec"))
          .transform(graft.plans.ScanShare.shared)
        val probedClusters = probe.select(col("cluster_id")).distinct()
          .collect().map(_.getLong(0)).sorted
        val t2 = System.nanoTime()
        val vecHits = IndexMaintenance.vectorsDf(spark, vi)
          .withColumn("cluster_id", col("cluster_id").cast("long"))
          .filter(col("cluster_id").isin(probedClusters.toIndexedSeq: _*))
          .join(broadcast(probe), Seq("cluster_id"))
          .withColumn("score", dot(col("embedding"), col("qvec")))
          .select(col("query_id"), col("vec_id"), col("score"))
        val vecTop = graft.plans.TopK(vecHits, "query_id", "score", "vec_id", 20, "rank_vec")
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank_vec"))
        vecTop.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val qterms = qs
          .select(col("query_id"),
            explode(slice(array_distinct(split(trim(col("query_text")), "\\s+")), 1, 8)).as("term"))
          .filter(col("term") =!= "")
          .transform(graft.plans.ScanShare.shared)
        val buckets = qterms.select(LexIndex.bucketOf(col("term")).as("b"))
          .distinct().collect().map(_.getLong(0)).sorted
        val t4 = System.nanoTime()
        val p = IndexMaintenance.vectorsDf(spark, li)
          .withColumn("bucket", col("bucket").cast("long"))
          .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
          .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"), "left_semi")
          .transform(graft.plans.ScanShare.shared)
        val termDf = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val stats = spark.read.parquet(s"$li/stats")
        val lexScores = p
          .join(broadcast(qterms), Seq("term"))
          .join(broadcast(termDf), Seq("term"))
          .crossJoin(broadcast(stats))
          .withColumn("c_e6", LexicalSearch.contributionE6(col("tf"), col("df"),
            col("dl"), col("n_docs"), col("sum_dl")))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("c_e6")).as("score_e6"))
        val lexTop = graft.plans.TopK(lexScores.filter(col("score_e6") > 0),
            "query_id", "score_e6", "doc_id", 20, "rank_lex")
          .select(col("query_id"), col("doc_id"), col("rank_lex"))
        lexTop.write.format("noop").mode("overwrite").save()
        val t5 = System.nanoTime()
        val wr = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)
        val fused = vecTop.join(lexTop, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)))
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 10)
          .drop("rk")
        fused.write.format("noop").mode("overwrite").save()
        val t6 = System.nanoTime()
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
        println(s"  smh_diag resolve=${s(t0, t1)} probeCollect=${s(t1, t2)} " +
          s"vecArm=${s(t2, t3)} bucketCollect=${s(t3, t4)} lexArm=${s(t4, t5)} " +
          s"fuse=${s(t5, t6)} clusters=${probedClusters.length} buckets=${buckets.length}")
      },
      // r16: driver-planning vs execution split for the hybrid facade —
      // each stage timed as (force executedPlan) then (run action)
      "smh_diag2" -> { () =>
        import spark.implicits._
        import org.apache.spark.sql.DataFrame
        val t0 = System.nanoTime()
        val vi = graft.operators.IvfIndex.ivfIndexFor(spark, sfDir)
        val li = graft.operators.LexIndex.lexIndexFor(spark, sfDir)
        val t1 = System.nanoTime()
        val queries = graft.operators.SearchApi.GradedQuerySet.toDF("query_id", "query_text")
        val out = graft.operators.SearchApi.searchManyHybridIndexed(spark, sfDir, vi, li,
          queries, nprobe = Int.MaxValue, perList = 20, k = 10,
          numQueries = graft.operators.SearchApi.GradedQuerySet.length.toLong)
        val t2 = System.nanoTime()
        out.queryExecution.executedPlan // force analysis+optimization+planning
        val t3 = System.nanoTime()
        out.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
        println(s"  smh_diag2 resolve=${s(t0, t1)} build(collects)=${s(t1, t2)} " +
          s"plan=${s(t2, t3)} exec=${s(t3, t4)}")
      },
      // r15: same split for the vector-only facade (encode→retrieve→
      // rerank) — rerank tail vs retrieve
      "sm_diag" -> { () =>
        import spark.implicits._
        val t0 = System.nanoTime()
        val vi = graft.operators.IvfIndex.ivfIndexFor(spark, sfDir)
        val t1 = System.nanoTime()
        val queries = graft.operators.SearchApi.GradedQuerySet.toDF("query_id", "query_text")
        val out = graft.operators.SearchApi.searchManyIndexed(spark, sfDir, vi,
          queries, nprobe = Int.MaxValue, retrieveK = 20,
          numQueries = graft.operators.SearchApi.GradedQuerySet.length.toLong)
        out.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
        println(s"  sm_diag resolve=${s(t0, t1)} query=${s(t1, t2)}")
      },
      "smh_cur" -> (() => {
        graft.operators.SearchApi.searchManyHybridQuery(spark, sfDir).collect(); ()
      }),
      "sm_cur" -> (() => {
        graft.operators.SearchApi.searchManyQuery(spark, sfDir).collect(); ()
      }),
      "lm_gc" -> (() => { lmScoreGc(spark, sfDir).collect(); () }),
      "lm_gc_plan" -> { () =>
        val df = lmScoreGc(spark, sfDir)
        df.collect()
        val s = df.queryExecution.executedPlan.toString
        println(s"  lm_gc_plan SMJ=${"SortMergeJoin".r.findAllIn(s).length} " +
          s"BHJ=${"BroadcastHashJoin".r.findAllIn(s).length} " +
          s"hashExchanges=${"Exchange hashpartitioning".r.findAllIn(s).length}")
      },
      "tri_diag" -> { () =>
        val t0 = System.nanoTime()
        val pairs = graft.operators.GraphOps.frequentPairs(spark, sfDir, 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val np = pairs.count()
        val t1 = System.nanoTime()
        val ab = pairs.select(col("pa").as("a"), col("pb").as("b"), col("sup").as("s_ab"))
        val bc = pairs.select(col("pa").as("b"), col("pb").as("c"), col("sup").as("s_bc"))
        val nw = ab.join(bc, "b").count()
        val t2 = System.nanoTime()
        val nt = graft.operators.GraphOps.triangles(spark, sfDir).count()
        val t3 = System.nanoTime()
        pairs.unpersist()
        println(f"  pairs=$np (${(t1 - t0) / 1e9}%.2f s) wedges=$nw (${(t2 - t1) / 1e9}%.2f s) tri=$nt full=${(t3 - t2) / 1e9}%.2f")
      },
      // persisted-PQ serving vs the fused in-memory path (same query)
      "pq_build" -> (() => graft.operators.PqIndex.writeIndex(spark, sfDir,
        s"/tmp/graft_pq_idx_${sfDir.replaceAll("[^a-z0-9.]", "_")}")),
      "pq_mem" -> (() => graft.operators.PqIndex.searchIvfPq(spark, sfDir).count()),
      "pq_disk" -> { () =>
        val p = s"/tmp/graft_pq_idx_${sfDir.replaceAll("[^a-z0-9.]", "_")}"
        val q = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        graft.operators.PqIndex.searchIndex(spark, p, q).count()
      },
      // copy of Dedup.components with per-phase timing + round count
      "comp_diag" -> { () =>
        val t0 = System.nanoTime()
        val pairs = graft.operators.Dedup.ngramJaccard(spark, sfDir)
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint()
        val t1 = System.nanoTime()
        val nodes = pairs.select(col("doc_a").as("doc"))
          .union(pairs.select(col("doc_b").as("doc"))).distinct()
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .localCheckpoint()
        val t2 = System.nanoTime()
        def step(l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val prop = edges.join(l, col("src") === col("doc"))
            .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
          l.join(prop, col("doc") === col("dst"), "left")
            .select(col("doc"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"), col("old"))
        }
        var labels = nodes.withColumn("lbl", col("doc")).localCheckpoint()
        val t3 = System.nanoTime()
        var changed = 1L
        var rounds = 0
        while (changed > 0) {
          val r0 = System.nanoTime()
          val next = step(step(labels.withColumn("old", col("lbl")))).localCheckpoint()
          val r1 = System.nanoTime()
          changed = next.filter(col("lbl") =!= col("old")).count()
          val r2 = System.nanoTime()
          labels = next.select("doc", "lbl")
          rounds += 1
          println(f"  round $rounds: ckpt=${(r1 - r0) / 1e9}%.2f count=${(r2 - r1) / 1e9}%.2f changed=$changed")
        }
        println(f"  pairs=${(t1 - t0) / 1e9}%.2f edges=${(t2 - t1) / 1e9}%.2f labels0=${(t3 - t2) / 1e9}%.2f rounds=$rounds")
      },
      "scan_dec" -> (() => graft.operators.Pipeline.scanDecisions(spark, sfDir).count()),
      "doc_dec" -> (() => graft.operators.Pipeline.docDecisions(spark, sfDir).count()),
      "pipe_e2e" -> (() => graft.operators.Pipeline.run(spark, sfDir).count()),
      "pipe_filter" -> (() =>
        graft.operators.Pipeline.docDecisions(spark, sfDir)
          .filter(col("kept") === 1).count()),
      // pushdown barrier: a non-deterministic column stops Catalyst
      // substituting the kept expression into the filter
      "pipe_barrier" -> { () =>
        val d = graft.operators.Pipeline.docDecisions(spark, sfDir)
          .withColumn("rid", monotonically_increasing_id())
        d.filter(col("kept") === 1).drop("rid").count()
      },
      "pipe_persist" -> { () =>
        val d = graft.operators.Pipeline.docDecisions(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        d.count()
        d.filter(col("kept") === 1).count()
      },
      "pipe_winonly" -> { () =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        graft.operators.Pipeline.docDecisions(spark, sfDir)
          .filter(col("kept") === 1)
          .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
          .select(max(col("cum_before"))).count()
      },
      // ngramJaccard WITHOUT the cand persist
      "ngram_np" -> (() => ngramJacVariant(spark, sfDir, persistCand = false).count()),
      "drop_np" -> { () =>
        ngramJacVariant(spark, sfDir, persistCand = false)
          .filter(col("jaccard") >= 0.8)
          .groupBy(col("doc_b").as("drop_doc"))
          .agg(min(col("doc_a")).as("kept_doc"), max(col("jaccard")).as("max_jaccard"))
          .count()
      },
      "drop_p" -> { () =>
        ngramJacVariant(spark, sfDir, persistCand = true)
          .filter(col("jaccard") >= 0.8)
          .groupBy(col("doc_b").as("drop_doc"))
          .agg(min(col("doc_a")).as("kept_doc"), max(col("jaccard")).as("max_jaccard"))
          .count()
      },
      // eager persist: materialize cand with its own small job first,
      // so the main action reads a stats-known cache
      "drop_pe" -> { () =>
        val cand = graft.operators.Dedup.minhashLsh(spark, sfDir)
          .select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cand.count()
        ngramJacFrom(spark, sfDir, cand)
          .filter(col("jaccard") >= 0.8)
          .groupBy(col("doc_b").as("drop_doc"))
          .agg(min(col("doc_a")).as("kept_doc"), max(col("jaccard")).as("max_jaccard"))
          .count()
      },
      "ngram_pe" -> { () =>
        val cand = graft.operators.Dedup.minhashLsh(spark, sfDir)
          .select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cand.count()
        ngramJacFrom(spark, sfDir, cand).count()
      },
      // one-pass report: explode pairs into doc rows, single aggregate
      "report_1p" -> { () =>
        ngramJacVariant(spark, sfDir, persistCand = false)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"), col("jaccard"))
          .agg(
            (count(lit(1)) / 2).cast("long").as("n_candidate_pairs"),
            (sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)) / 2).cast("long").as("n_verified_pairs"),
            (sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)) / 2).cast("long").as("n_drop_pairs"),
            countDistinct(when(col("jaccard") >= 0.5, col("doc_id"))).as("n_docs_implicated"))
          .count()
      },
      // components v2: persist+count pairs, lazy localCheckpoint folded
      // into the convergence count
      "comp_v2" -> { () =>
        val t0 = System.nanoTime()
        val pairs = ngramJacVariant(spark, sfDir, persistCand = false)
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs.count()
        val t1 = System.nanoTime()
        val nodes = pairs.select(col("doc_a").as("doc"))
          .union(pairs.select(col("doc_b").as("doc"))).distinct()
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        def step(l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val prop = edges.join(l, col("src") === col("doc"))
            .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
          l.join(prop, col("doc") === col("dst"), "left")
            .select(col("doc"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"), col("old"))
        }
        var labels = nodes.withColumn("lbl", col("doc"))
        var changed = 1L
        var rounds = 0
        while (changed > 0) {
          val r0 = System.nanoTime()
          val next = step(step(labels.withColumn("old", col("lbl")))).localCheckpoint(false)
          changed = next.filter(col("lbl") =!= col("old")).count()
          labels = next.select("doc", "lbl")
          rounds += 1
          println(f"  v2 round $rounds: ${(System.nanoTime() - r0) / 1e9}%.2f changed=$changed")
        }
        println(f"  v2 pairs=${(t1 - t0) / 1e9}%.2f rounds=$rounds")
      },
      // current Dedup.components shape with per-phase wall timing:
      // attributes the cost between the pairs build (LSH + verify
      // chain) and the label-propagation rounds
      "comp_diag3" -> { () =>
        val t0 = System.nanoTime()
        val pairs = graft.operators.Dedup.ngramJaccard(spark, sfDir, eagerCand = false)
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        val t1 = System.nanoTime()
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        def step(l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          edges.join(l, col("src") === col("doc"))
            .select(col("dst").as("doc"), col("lbl"))
            .union(l)
            .groupBy(col("doc")).agg(min(col("lbl")).as("lbl"))
        var labels = pairs.select(col("doc_a").as("doc"), col("doc_a").as("lbl"))
          .union(pairs.select(col("doc_b").as("doc"), col("doc_b").as("lbl")))
        var done = nPairs == 0L
        var rounds = 0
        while (!done) {
          val r0 = System.nanoTime()
          val next = step(step(labels)).localCheckpoint(false)
          val viol = edges
            .join(next.select(col("doc").as("src"), col("lbl").as("ls")), "src")
            .join(next.select(col("doc").as("dst"), col("lbl").as("ld")), "dst")
            .filter(col("ls") =!= col("ld")).count()
          rounds += 1
          println(f"  round $rounds: ${(System.nanoTime() - r0) / 1e9}%.2f viol=$viol")
          labels = next
          done = viol == 0L
        }
        println(f"  comp_diag3 pairs=${(t1 - t0) / 1e9}%.2f (n=$nPairs) rounds=$rounds")
      },
      // r16 A/B: bootstrapCi's 64 replicate conditions each evaluate
      // substring(h, i, 1) string compares per ROW (128 conditional-agg
      // evals). The bit variant folds the 32 used hex chars into 4
      // 32-bit masks once per row; each condition is then a shift+mask.
      // Same membership: hex char <= '7' ⟺ nibble high bit 0.
      "bci_cur" -> { () =>
        val df = graft.operators.Relational.bootstrapCi(spark, sfDir)
        df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect(); ()
      },
      "bci_bits" -> { () =>
        import graft.functions.VectorFunctions.{boundedWindow, cents, r6}
        val reps = 64
        val o = graft.Tables.orders(spark, sfDir)
          .select(md5(col("o_orderkey").cast("string")).as("h"),
            cents(col("o_totalprice"), 100.0).as("vc"))
          .select((0 until 4).map(j =>
            conv(substring(col("h"), j * 8 + 1, 8), 16, 10).cast("long").as(s"m_$j")) :+
            col("vc"): _*)
        def repCond(r: Int) = {
          val i = r / 2 // hex char index 0..31
          val bit = shiftright(col(s"m_${i / 8}"), 28 - 4 * (i % 8)).bitwiseAND(lit(8L))
          if (r % 2 == 0) bit === 0L else bit =!= 0L
        }
        val aggCols =
          expr("(sum(vc) * 100) div count(*)").as("mbar_raw") +:
          count(lit(1)).as("n_orders") +:
          max(col("vc")).as("max_vc") +:
          (0 until reps).flatMap(r => Seq(
            count(when(repCond(r), 1)).as(s"cnt_$r"),
            sum(when(repCond(r), col("vc"))).as(s"sum_$r")))
        val one = o.agg(aggCols.head, aggCols.tail: _*)
        val hrOk = col("n_orders") <=
          lit(Long.MaxValue / 100L) / greatest(col("max_vc"), lit(1L))
        val repArr = array((0 until reps).map(r => struct(
          lit(r).as("rep"),
          expr(s"(sum_$r * 100) div cnt_$r").as("m_e4"))): _*)
        val ranked = one
          .select(
            (col("mbar_raw") + coalesce(
              assert_true(hrOk, lit("headroom")).cast("long"), lit(0L))).as("mbar_e4"),
            col("n_orders"), explode(repArr).as("e"))
          .filter(col("e.m_e4").isNotNull)
          .select(col("e.m_e4").as("m_e4"), col("mbar_e4"), col("n_orders"),
            row_number().over(boundedWindow(col("e.m_e4"), col("e.rep"))).as("rk"))
        val df = ranked.agg(
            first(col("n_orders")).as("n_orders"),
            count(lit(1)).as("n_reps"),
            first(col("mbar_e4")).as("mbar_e4"),
            sum((col("m_e4") - col("mbar_e4")) * (col("m_e4") - col("mbar_e4"))).as("ss"),
            sum(when(col("rk") === math.ceil(0.05 * reps).toInt, col("m_e4"))).as("p05_e4"),
            sum(when(col("rk") === math.ceil(0.50 * reps).toInt, col("m_e4"))).as("p50_e4"),
            sum(when(col("rk") === math.ceil(0.95 * reps).toInt, col("m_e4"))).as("p95_e4"))
          .select(col("n_orders"), col("n_reps"),
            r6(col("mbar_e4") / 10000.0).as("mean_value"),
            r6(sqrt(col("ss") / lit(reps.toDouble)) / 10000.0).as("se_brr"),
            r6(col("p05_e4") / 10000.0).as("ci_lo"),
            r6(col("p50_e4") / 10000.0).as("ci_mid"),
            r6(col("p95_e4") / 10000.0).as("ci_hi"))
        df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect(); ()
      },
      // r16 A/B: the iterative loops cut lineage EAGERLY per round —
      // one serial driver job per cut. The lazy twin folds each cut's
      // materialization into the first consuming job (guide §2.6: the
      // scheduler then overlaps what it can).
      "hits_cur" -> (() => { graft.operators.GraphOps.hits(spark, sfDir).count(); () }),
      "hits_lazy" -> { () =>
        import graft.plans.Hints.broadcastIfUnder
        val ed = graft.operators.GraphOps.sharedEdges(spark, sfDir)
          .filter(col("src") % 2 === 0)
        val nNodes = ed.select(col("src")).union(ed.select(col("dst"))).distinct().count()
        val maxRows = graft.plans.Hints.DefaultMaxBroadcastRows
        def rescaled(v: org.apache.spark.sql.DataFrame, scoreCol: String) =
          v.crossJoin(broadcast(v.agg(max(col(scoreCol)).as("_mx"))))
            .select(col("node"),
              expr(s"shiftright($scoreCol, greatest(0, length(bin(_mx)) - 30))").as(scoreCol))
        var hubs = ed.select(col("src").as("node")).distinct()
          .select(col("node"), lit(1L << 30).as("h"))
        var auths: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 2) {
          val hb = broadcastIfUnder(hubs, nNodes, maxRows)
          auths = rescaled(graft.Checkpointing.cut(
            ed.join(hb, ed("src") === hb("node"))
              .groupBy(col("dst")).agg(sum(col("h")).as("a"))
              .select(col("dst").as("node"), col("a")), eager = false), "a")
          val ab = broadcastIfUnder(auths, nNodes, maxRows)
          hubs = rescaled(graft.Checkpointing.cut(
            ed.join(ab, ed("dst") === ab("node"))
              .groupBy(col("src")).agg(sum(col("a")).as("h"))
              .select(col("src").as("node"), col("h")), eager = false), "h")
        }
        def top(v: org.apache.spark.sql.DataFrame, scoreCol: String, role: String) =
          v.crossJoin(broadcast(v.agg(max(col(scoreCol)).as("_mx"))))
            .select(lit(role).as("role"), col("node").cast("string").as("node"),
              col(scoreCol).as("raw"), col("_mx"))
            .orderBy(col("raw").desc, col("node").asc).limit(20)
            .select(col("role"), col("node"), col("raw"),
              graft.functions.VectorFunctions.r6(col("raw") / col("_mx").cast("double")).as("score"))
        top(hubs, "h", "hub").union(top(auths, "a", "authority"))
          .orderBy(col("role"), col("raw").desc, col("node"))
          .select(col("role"), col("node"), col("score")).count()
        ()
      },
      "lp_cur" -> (() => { graft.operators.GraphOps.labelProp(spark, sfDir).count(); () }),
      "lp_lazy" -> { () =>
        import graft.plans.Hints.broadcastIfUnder
        val pairs = graft.operators.GraphOps.sharedFrequentPairs(spark, sfDir, 2)
        val ed = pairs.select(col("pa").as("src"), col("pb").as("dst"))
          .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        val nodes = ed.select(col("src").as("node")).distinct()
        val nNodes = nodes.count()
        val maxRows = graft.plans.Hints.DefaultMaxBroadcastRows
        var labels = nodes.select(col("node"), col("node").as("label"))
        for (_ <- 1 to 3) {
          val lb = labels
          val votes = ed.join(broadcastIfUnder(lb, nNodes, maxRows),
              ed("src") === lb("node"))
            .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("n"))
          labels = graft.Checkpointing.cut(
            votes.groupBy(col("dst"))
              .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("m"))
              .select(col("dst").as("node"), (-col("m.neg")).as("label")),
            eager = false)
        }
        labels.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
          .select(col("label").as("community"), col("n_nodes"))
          .orderBy(col("n_nodes").desc, col("community")).count()
        ()
      },
      "kcore_cur" -> (() => { graft.operators.GraphOps.kcore(spark, sfDir).count(); () }),
      "pagerank_cur" -> (() => { graft.operators.GraphOps.pagerank(spark, sfDir).count(); () }),
      // r9 A/B: triangles via the r8 ReusedExchange shape (no cut, no
      // count, unconditional broadcasts) vs the shipped gated shape
      "tri_reuse" -> { () =>
        val pairs = graft.operators.GraphOps.frequentPairs(spark, sfDir, 2)
        val ab = pairs.select(col("pa").as("a"), col("pb").as("b"), col("sup").as("s_ab"))
        val bc = pairs.select(col("pa").as("b"), col("pb").as("c"), col("sup").as("s_bc"))
        val ac = pairs.select(col("pa").as("a"), col("pb").as("c"), col("sup").as("s_ac"))
        val n = ab.join(broadcast(bc), "b").join(broadcast(ac), Seq("a", "c"))
          .select(col("a"), col("b"), col("c"),
            least(col("s_ab"), col("s_bc"), col("s_ac")).as("min_sup")).count()
        println(s"  tri_reuse n=$n")
      },
      "tri_cut" -> { () =>
        val n = graft.operators.GraphOps.triangles(spark, sfDir).count()
        println(s"  tri_cut n=$n")
      },
      // r9 nlist-schedule evidence: rows a 3-cluster probe actually scans
      // under nlist = min(ceil(sqrt(N)), cap) — should grow ∝ N/√N = √N,
      // not ∝ N/100 (the r8 constant)
      "ivf_probe_rows" -> { () =>
        import graft.operators.IvfIndex
        import graft.functions.VectorFunctions.dist2
        val n = graft.Tables.embeddings(spark, sfDir).count()
        val cents = IvfIndex.centroids(spark, sfDir)
        val nl = cents.count()
        val q = graft.Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        val probed = cents.crossJoin(broadcast(q))
          .withColumn("cd2", dist2(col("cvec"), col("qvec")))
          .orderBy(col("cd2").asc, col("cluster_id").asc).limit(3)
          .select("cluster_id")
        val probedRows = IvfIndex.assignedEmbeddings(spark, sfDir)
          .join(broadcast(probed), "cluster_id").count()
        println(s"  ivf_probe_rows N=$n nlist=$nl nprobe=3 probedRows=$probedRows" +
          f" frac=${probedRows.toDouble / n}%.4f")
      }
    )

    val replayVariants: Map[String, () => Unit] = Map(
      // r12 (r11 verdict #4): apply-loop throughput of the 2048-merge
      // BPE artifact on DISTINCT identifier words (no memo hits — the
      // worst case) and on the graded documents query (memoized Zipf)
      "bpe_tput" -> { () =>
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          graft.operators.BpeTokenizer.default)
        val words = Seq(
            ("customer", "c_name"), ("supplier", "s_name"), ("part", "p_name"))
          .map { case (t, c) =>
            spark.read.parquet(s"$sfDir/$t.parquet")
              .select(explode(graft.functions.TextFunctions.tokens(col(c))).as("w")) }
          .reduce(_ unionByName _)
          .filter(col("w") =!= "").distinct().as[String]
          .persist()
        val nWords = words.count()
        val t0 = System.nanoTime()
        val agg = words.mapPartitions { it =>
          val t = bc.value
          var n = 0L; var toks = 0L; var chars = 0L
          it.foreach { w => n += 1; chars += w.length; toks += t.countWord(w) }
          Iterator((n, toks, chars))
        }.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val (n, toks, chars) = agg.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        println(f"  bpe_tput distinct-ids: words=$n toks=$toks chars=$chars " +
          f"sec=$sec%.2f words/s=${n / sec}%.0f toks/s=${toks / sec}%.0f")
        // pure apply-loop cost, one driver thread, no Spark overhead
        val local = words.collect()
        val t = bc.value
        local.foreach(w => t.countWord(w)) // JIT warm
        val l0 = System.nanoTime()
        var lt = 0L
        local.foreach(w => lt += t.countWord(w))
        val lsec = (System.nanoTime() - l0) / 1e9
        println(f"  bpe_tput local-1thread: words=${local.length} toks=$lt " +
          f"sec=$lsec%.3f words/s=${local.length / lsec}%.0f toks/s=${lt / lsec}%.0f")
        words.unpersist()
        val t1 = System.nanoTime()
        val rows = graft.operators.TextAnalysis.bpeTokens(spark, sfDir)
          .agg(sum(col("n_bpe")), count(lit(1))).collect()(0)
        val sec2 = (System.nanoTime() - t1) / 1e9
        println(f"  bpe_tput graded-docs: docs=${rows.getLong(1)} " +
          f"bpe_toks=${rows.getLong(0)} sec=$sec2%.2f toks/s=${rows.getLong(0) / sec2}%.0f")
        assert(nWords == n)
      },
      // r12 (r11 verdict #1 done-bar): measure that a rebalance's
      // bytes written ∝ touched partitions on a REAL-scale layout —
      // build the sf IVF index, heat its largest cluster 5×, rebalance,
      // report staged vs moved vs layout bytes
      "rebal_bytes" -> { () =>
        import spark.implicits._
        val idx = java.nio.file.Files.createTempDirectory("graft-rebal-sf").toString
        graft.operators.IvfIndex.writeIndex(spark, sfDir, idx)
        val vec = spark.read.parquet(s"$idx/vectors")
        val hot = vec.groupBy(col("cluster_id")).count()
          .orderBy(col("count").desc, col("cluster_id").asc)
          .collect()(0).get(0).toString.toLong
        val maxId = vec.agg(max(col("vec_id"))).collect()(0).getLong(0)
        (1 to 4).map(k => vec.filter(col("cluster_id") === hot)
            .select((col("vec_id") + lit(k) * (maxId + 1)).as("vec_id"),
              col("embedding"), col("cluster_id")))
          .reduce(_ unionByName _)
          .write.mode("append").partitionBy("cluster_id").parquet(s"$idx/vectors")
        spark.catalog.refreshByPath(s"$idx/vectors")
        def layoutBytes: Long = new java.io.File(s"$idx/vectors").listFiles()
          .filter(_.isDirectory).flatMap(_.listFiles())
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        val before = layoutBytes
        val rep = graft.operators.IndexMaintenance.rebalanceIndex(spark, idx)
        println(s"  rebal_bytes layout=$before staged=${rep.stagedBytes} " +
          s"moved=${rep.movedBytes} split=${rep.nSplit} merge=${rep.nMerge} " +
          f"stagedFrac=${rep.stagedBytes.toDouble / before}%.3f " +
          s"maxRows ${rep.maxRowsBefore} -> ${rep.maxRowsAfter}")
      },
      // real-data replay diagnostics over the reference HTML archive
      "replay" -> { () =>
        val docs = graft.sources.Ingest.fromHtml(spark,
          "/root/reference/data/raw/html").persist()
        println(s"  docs=${docs.count()} nullDate=${docs.filter(col("issue_date").isNull).count()}" +
          s" shortMd=${docs.filter(length(col("md_text")) < 1000).count()}")
        val chunks = graft.operators.Newsletter.parseNewsletter(docs).persist()
        println(s"  chunks=${chunks.count()}")
        chunks.groupBy(col("category"))
          .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("docs"))
          .orderBy(col("category")).collect().foreach(r => println(s"  $r"))
        // per-doc category counts: distribution
        chunks.groupBy(col("doc_id"), col("category")).agg(count(lit(1)).as("k"))
          .groupBy(col("category"), col("k")).agg(count(lit(1)).as("pages"))
          .orderBy(col("category"), col("k")).collect()
          .foreach(r => println(s"  dist $r"))
        // invariant violations
        def bad(name: String, cond: org.apache.spark.sql.Column): Unit = {
          val n = chunks.filter(cond).count()
          if (n > 0) {
            println(s"  VIOLATION $name: $n")
            chunks.filter(cond).select(col("doc_id"), col("category"), col("idx"),
              substring(col("text"), 1, 120).as("t")).show(3, false)
          } else println(s"  ok $name")
        }
        bad("header_residue", col("text").contains("## "))
        bad("source_residue", col("text").contains("*Source:*"))
        bad("link_markup", col("text").rlike("\\[[^\\]]+\\]\\([^\\)]+\\)"))
        bad("carriage_return", col("text").contains("\r"))
        bad("empty_text", length(col("text")) === 0)
        bad("linked_quote_no_name",
          col("source").isNotNull && col("source_name").isNull)
        bad("bold_residue", col("text").contains("**"))
        docs.unpersist(); chunks.unpersist()
      })

    val names = if (args.nonEmpty) args.toSeq else variants.keys.toSeq.sorted
    names.foreach { n =>
      if (replayVariants.contains(n)) {
        val t = time(replayVariants(n)()); dropCaches()
        println(f"SCRATCH $n%-12s once=$t%.2f")
      } else {
        val runs = (1 to 3).map { _ => val t = time(variants(n)()); dropCaches(); t }
        println(f"SCRATCH $n%-12s min=${runs.min}%.2f runs=${runs.map(r => f"$r%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }

  /** lm_score candidate: per-doc (token, tf) via the native gramCounts
    * expression instead of the raw per-token explode — the probe side
    * shrinks from one row per TOKEN OCCURRENCE to one row per (doc,
    * distinct token), and the per-doc agg sums tf-weighted logprobs.
    * Same exact result (integerized per-token contribution × tf).
    */
  def lmScoreGc(spark: SparkSession, dir: String, worstK: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TextFunctions.tokens
    import graft.functions.VectorFunctions.r6
    val tf = graft.Tables.fanOut(graft.Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.gramCounts(tokens(col("text")), 1)).as("gc"))
      .select(col("doc_id"), col("gc.g").as("token"), col("gc.c").as("tf"))
    val freq = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_total"))
    tf.join(freq, "token")
      .crossJoin(broadcast(tot))
      .withColumn("lp_e6",
        graft.functions.VectorFunctions.cents(
          log(col("cnt") / (lit(1.0) * col("n_total"))), 1e6))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp_e6") * col("tf")).as("sum_lp_e6"),
        sum(col("tf")).as("n_toks"))
      .withColumn("avg_logprob", r6(col("sum_lp_e6") / (lit(1e6) * col("n_toks"))))
      .orderBy(col("avg_logprob").asc, col("doc_id").asc)
      .limit(worstK)
      .select(col("doc_id"), col("n_toks"), col("avg_logprob"))
  }

  def ngramJacVariant(spark: SparkSession, dir: String,
      persistCand: Boolean): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    val cand0 = Dedup.minhashLsh(spark, dir).select("doc_a", "doc_b")
    val cand = if (persistCand)
      cand0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else cand0
    val sh = Dedup.docShingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        graft.functions.VectorFunctions.r6(
          col("n_inter") / (lit(1.0) * (col("n_a") + col("n_b") - col("n_inter")))))
      .select("doc_a", "doc_b", "n_inter", "jaccard")
  }

  def ngramJacFrom(spark: SparkSession, dir: String,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    val sh = Dedup.docShingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        graft.functions.VectorFunctions.r6(
          col("n_inter") / (lit(1.0) * (col("n_a") + col("n_b") - col("n_inter")))))
      .select("doc_a", "doc_b", "n_inter", "jaccard")
  }
}
