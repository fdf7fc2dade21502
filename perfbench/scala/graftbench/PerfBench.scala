package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{BatchedEncoder, Dedup, IndexMaintenance, IvfIndex, LexIndex, Pipeline, SearchApi}
import graft.sources.Ingest
import graft.streaming.IndexStream

/** Closed-loop workloads over graft's public API: one client thread
  * waits for each call before making the next.
  *
  * Usage: PerfBench <workload> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Inputs are read from `<workDir>/in`; the result (metrics, operation
  * counts, check outcomes) is written to `<workDir>/out/result.json`,
  * and curate's outputs for the external oracle check next to it.
  * With trace=1 the run reports per-layer numbers and the tracing
  * overhead instead of end-to-end metrics (see [[Run.window]]).
  */
object PerfBench {
  val Setups = 2

  /** One closed-loop step: the layer call it made and what it cost. */
  final case class Step(kind: String, wallS: Double, cpuS: Double)

  final class Run(val spark: SparkSession, val work: String, val seconds: Double,
      val traced: Boolean) {
    var attempted, failed = 0L
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Double]
    var tracer: Option[Tracer] = None
    private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    def in(name: String): String = s"$work/in/$name.parquet"

    private val born = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.1f s] $msg")

    /** A call into one layer: traced as a span once tracing is on. */
    def call[T](op: String)(body: => T): T = tracer match {
      case Some(t) => t.span(op)(body)
      case None => body
    }

    private var asideNs = 0L
    private var asideCpu = 0.0

    /** Work the benchmark adds in the traced phase (extra layer calls,
      * plan and file statistics); step times leave it out.
      */
    def aside[T](body: => T): T = {
      val (t0, c0) = (System.nanoTime(), Noise.cpuS())
      try body finally {
        asideNs += System.nanoTime() - t0
        asideCpu += Noise.cpuS() - c0
      }
    }

    def sample(name: String, v: Double): Unit =
      layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    def check(name: String)(ok: => Boolean): Unit = {
      attempted += 1
      log(s"check $name")
      val passed = try ok catch { case e: Exception =>
        System.err.println(s"[perfbench] check $name threw: $e"); false }
      if (!passed) { failed += 1; System.err.println(s"[perfbench] check $name FAILED") }
      checks(name) = passed
    }

    /** Run `step` in a closed loop from step 0 until `secs` have passed
      * and at least `min` steps ran. A step returns its kind (the
      * layer call it made); the loop returns each step's kind, wall time
      * and CPU time. A step that throws counts as failed and is not timed.
      */
    def loop(secs: Double, min: Int)(step: Int => String): Seq[Step] = {
      val out = mutable.ArrayBuffer.empty[Step]
      val end = System.nanoTime() + (secs * 1e9).toLong
      var i = 0
      while (System.nanoTime() < end || i < min) {
        attempted += 1
        val (t0, c0, a0, ac0) = (System.nanoTime(), Noise.cpuS(), asideNs, asideCpu)
        try {
          val kind = step(i)
          out += Step(kind, (System.nanoTime() - t0 - (asideNs - a0)) / 1e9,
            Noise.cpuS() - c0 - (asideCpu - ac0))
          log(f"step $i $kind ${out.last.wallS}%.2f s, ${out.last.cpuS}%.2f CPU s")
        }
        catch { case e: Exception =>
          failed += 1; System.err.println(s"[perfbench] step $i failed: $e") }
        i += 1
      }
      out.toSeq
    }

    /** Set-up `Setups + 1` times; the first, in a cold JVM, is not
      * timed, and `setup_s` is the median CPU time of the others.
      */
    def setUp(build: Int => Unit): Unit = {
      val times = (0 to Setups).map { i =>
        log(s"setup $i")
        val (t0, c0) = (System.nanoTime(), Noise.cpuS())
        build(i)
        ((System.nanoTime() - t0) / 1e9, Noise.cpuS() - c0)
      }.tail
      e2e("setup_s") = Stats.median(times.map(_._2))
      detail("setup_wall_s") = Stats.median(times.map(_._1))
    }

    /** The end-to-end figures of the window's operations. */
    def report(ops: Seq[Step]): Unit = {
      e2e("op_cpu_s") = Stats.median(ops.map(_.cpuS))
      detail("op_wall_s") = Stats.median(ops.map(_.wallS))
      detail("op_samples") = ops.length
    }

    /** The measured window: `seconds` and at least `min` steps, whose
      * times the end-to-end metrics use. A traced run reports no
      * end-to-end metrics; it runs the window's first `traceSteps` steps
      * untraced, then traced, then untraced again, each time from step 0
      * so every pass makes the same kinds of call on the same inputs.
      * The tracing overhead is the median, over steps, of the traced CPU
      * time minus the mean of the two untraced ones, which cancels a JVM
      * still getting faster from one pass to the next.
      */
    def window(min: Int, traceSteps: Int = Int.MaxValue)(
        step: Int => String): Seq[Step] =
      if (!traced) {
        val plain = loop(seconds, min)(step)
        log(s"window done: ${plain.length} steps")
        e2e("retained_heap_mb") = Noise.liveHeapMb()
        plain
      } else {
        val n = math.min(min, traceSteps)
        val before = loop(0, n)(step)
        tracer = Some(new Tracer(spark))
        val spans = loop(0, n)(step)
        val after = untraced(loop(0, n)(step))
        layers("trace.overhead_s") = Stats.median(before.zip(spans).zip(after).collect {
          case ((x, y), z) if x.kind == y.kind && y.kind == z.kind => y.cpuS - (x.cpuS + z.cpuS) / 2
        })
        log("traced replay done")
        before
      }

    /** Layer calls that prepare a traced phase without being part of it. */
    def untraced[T](body: => T): T = {
      val t = tracer
      tracer = None
      try body finally tracer = t
    }

    def finishLayers(): Unit = {
      layerSamples.foreach { case (k, xs) => layers(k) = Stats.median(xs.toSeq) }
      tracer.foreach(_.opMetrics.foreach { case (k, v) => layers(k) = v })
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, cores) = args
    val steal0 = Noise.stealS()
    val gc0 = Noise.gcS()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val run = new Run(spark, work, seconds.toDouble, trace == "1")
    try {
      workload match {
        case "serve_batch" => ServeBatch(run)
        case "ingest_point" => IngestPoint(run)
        case "curate" => Curate(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.finishLayers()
      run.detail("peak_rss_mb") = Noise.peakRssMb()
      run.detail("steal_s") = Noise.stealS() - steal0
      run.detail("gc_s") = Noise.gcS() - gc0
      if (run.traced) {
        run.layers("noise.steal_s") = run.detail("steal_s")
        run.layers("noise.gc_s") = run.detail("gc_s")
      }
      Json.write(s"$work/out/result.json", run)
      run.log("result written")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit(1)
    }
    exit(0)
  }

  /** Ends the JVM without Spark's shutdown, which takes seconds and
    * only cleans up files the caller removes with the run's directory.
    */
  def exit(code: Int): Unit = {
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Release cached blocks, as graft.Bench does between queries. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** A corpus dir the library can read: `documents` as a table split
    * across the cores, and `embeddings` of the documents `indexed` selects.
    */
  def writeCorpus(run: Run, docs: DataFrame, dir: String,
      indexed: DataFrame => DataFrame = identity): Unit = {
    val spark = run.spark
    docs.repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$dir/documents.parquet")
    encoded(indexed(spark.read.parquet(s"$dir/documents.parquet")))
      .write.parquet(s"$dir/embeddings.parquet")
  }

  /** (vec_id, embedding, label) rows: the reference's encode step. The
    * batched encoder's default model is the JVM twin of
    * `SearchApi.defaultEncoder`, bit-identical to it, and unlike the
    * column expression it encodes a corpus in seconds.
    */
  def encoded(docs: DataFrame): DataFrame =
    new BatchedEncoder().encode(docs.select(col("doc_id").as("vec_id"), col("text")),
        "text", "embedding")
      .select(col("vec_id"), col("embedding"), (col("vec_id") % 10).cast("int").as("label"))

  /** Parquet data files under `dir`. */
  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  /** Rows equal as multisets, compared by their string forms. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toString).sorted == b.map(_.toString).sorted
}

/** Batches of 64 queries through the vector batch facade over a prebuilt
  * IVF layout: the end-to-end window. The traced run adds a hybrid batch
  * over a lexical layout built for it, which a window cannot afford at
  * today's per-call cost.
  */
object ServeBatch {
  import PerfBench._
  val BatchSize = 64
  val NProbe = 8
  val RetrieveK = 20

  def apply(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    // the corpus is input; set-up is building the serving layout over it
    val dir = s"${run.work}/serve"
    writeCorpus(run, spark.read.parquet(run.in("docs")), dir)
    var ivf = ""
    run.setUp { i =>
      ivf = s"$dir/ivf$i"
      IvfIndex.writeIndex(spark, dir, ivf)
    }
    val batches = spark.read.parquet(run.in("queries")).as[(Int, Long, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map { case (_, id, text) => (id, text) }.toSeq)
    def frame(qs: Seq[(Long, String)]) = qs.toDF("query_id", "query_text")
    val ivfRoot = new File(s"$ivf/vectors").getAbsolutePath
    // the last batch is reserved for the exactness check
    val reserved = batches.last.distinctBy(_._2).take(2)
    val served = batches.init
    var firstBatch: Option[(Seq[(Long, String)], Array[Row])] = None

    def batch(i: Int): String = {
      val qs = served(i % served.length)
      val ids = qs.map(_._1).toSet
      val (df, rows) = run.call("search_many") {
        val df = SearchApi.searchManyIndexed(spark, dir, ivf, frame(qs),
          nprobe = NProbe, retrieveK = RetrieveK, numQueries = qs.size.toLong)
        (df, df.collect())
      }
      require(rows.nonEmpty && rows.length <= qs.size * RetrieveK &&
        rows.forall(r => ids(r.getAs[Long]("query_id")) &&
          r.getAs[Long]("rerank_rank") <= RetrieveK), "batch rows out of shape")
      if (firstBatch.isEmpty) firstBatch = Some((qs, rows))
      if (run.tracer.isDefined) run.aside {
        val s = PlanStats.scansUnder(df.queryExecution.executedPlan, ivfRoot)
        run.sample("ivf.rows_scanned", s.rows)
        run.sample("ivf.files_read", s.files)
        run.sample("ivf.scan_yield", qs.size.toDouble * RetrieveK / math.max(1L, s.rows))
        run.sample("rank.rows_in", s.joinedRows)
        run.sample("rank.rows_shuffled", s.shuffledRows)
        layerCalls(qs, rows)
      }
      "search_many"
    }

    /** The encoder and the scorer on their own, as the facade calls them. */
    def layerCalls(qs: Seq[(Long, String)], rows: Array[Row]): Unit = {
      val (_, enc) = timed(SearchApi.defaultEncoder
        .encode(frame(qs), "query_text", "qvec").localCheckpoint())
      run.sample("encoder.encode_s", enc)
      val text = qs.toMap
      val cand = rows.toSeq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"), text(r.getAs[Long]("query_id")), r.getAs[String]("text"),
          r.getAs[String]("text").length.toLong))
        .toDF("query_id", "doc_id", "score", "query_text", "text", "n_chars")
      val (_, sc) = timed(SearchApi.defaultScorer.scoreMany(cand, "query_text", "logit").collect())
      run.sample("scorer.score_many_s", sc)
    }

    /** One traced hybrid batch, after an untraced lexical build and a
      * four-query warm-up of the hybrid facade.
      */
    def hybrid(): Unit = {
      val lex = s"$dir/lex"
      val qs = served(1)
      val ids = qs.map(_._1).toSet
      def call(q: Seq[(Long, String)]) = SearchApi.searchManyHybridIndexed(spark, dir, ivf,
        lex, frame(q), nprobe = NProbe, perList = RetrieveK, k = 10, numQueries = q.size.toLong)
      run.untraced {
        run.log("lexical build")
        LexIndex.writeIndex(spark, dir, lex)
        run.log("hybrid warm-up")
        call(qs.take(4)).collect()
      }
      run.log("hybrid batch")
      val (df, rows) = run.call("search_hybrid") {
        val df = call(qs)
        (df, df.collect())
      }
      require(rows.nonEmpty && rows.length <= qs.size * 10 &&
        rows.forall(r => ids(r.getAs[Long]("query_id"))), "hybrid rows out of shape")
      run.layers("lex.postings_scanned") = PlanStats.scansUnder(df.queryExecution.executedPlan,
        new File(s"$lex/vectors").getAbsolutePath).rows
    }

    // The untimed warm-up a long-lived server has had: the exactness
    // check (the vector facade at full coverage against brute force) and
    // a batch the window does not serve.
    run.check("full_coverage_equals_brute_force") {
      val got = SearchApi.searchManyIndexed(spark, dir, ivf, frame(reserved),
        nprobe = Int.MaxValue, retrieveK = RetrieveK, numQueries = reserved.size.toLong)
        .collect().groupBy(_.getAs[Long]("query_id"))
      reserved.forall { case (id, text) =>
        val want = SearchApi.search(spark, dir, text, retrieveK = RetrieveK).collect()
        sameRows(got.getOrElse(id, Array.empty[Row]).toSeq.map(r => Row.fromSeq(r.toSeq.tail)),
          want.toSeq)
      }
    }
    SearchApi.searchManyIndexed(spark, dir, ivf, frame(served.last), nprobe = NProbe,
      retrieveK = RetrieveK, numQueries = served.last.size.toLong).collect()
    run.report(run.window(min = 2, traceSteps = 1)(batch))
    run.check("recall_at_10_positive") {
      val (qs, rows) = firstBatch.get
      val r = recallAt10(run, dir, qs, rows)
      run.detail("recall_at_10") = r
      if (run.traced) run.layers("ivf.recall_at_10") = r
      r > 0
    }
    if (run.traced) hybrid()
  }

  /** Recall@10 of one served nprobe=8 batch against a brute-force top-10
    * computed on the driver, over its queries whose vector is non-zero.
    */
  def recallAt10(run: Run, dir: String, qs: Seq[(Long, String)], rows: Array[Row]): Double = {
    val spark = run.spark
    import spark.implicits._
    val qvecs = new BatchedEncoder().encode(qs.toDF("query_id", "query_text"), "query_text", "qvec")
      .select("query_id", "qvec").as[(Long, Array[Float])].collect()
      .filter(_._2.exists(_ != 0f))
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val approx = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("score"))).groupBy(_._1)
    val per = qvecs.map { case (id, q) =>
      val truth = corpus.map { case (v, e) =>
        var s = 0.0
        var j = 0
        while (j < q.length) { s += q(j).toDouble * e(j); j += 1 }
        (v, s)
      }.sortBy { case (v, s) => (-s, v) }.take(10).map(_._1).toSet
      val got = approx.getOrElse(id, Array.empty).sortBy { case (_, d, s) => (-s, d) }
        .take(10).map(_._2).toSet
      (truth & got).size / 10.0
    }
    if (per.isEmpty) 0.0 else per.sum / per.length
  }
}

/** A growing index read by single-query searches. The client repeats a
  * cycle of four steps: two point searches, an append of the next 500
  * documents through the streaming append into an epoch dir, and one
  * more point search; every sixth append is followed by a maintenance
  * pass. `curate`'s traced run also runs a short cycle ([[folded]]), so
  * these layers are measured by the workloads repeated runs compare.
  */
object IngestPoint {
  import PerfBench._
  val InitialShare = 0.4
  val AppendRows = 500
  val PointsPerAppend = 3
  val MaintainEvery = 6
  val NProbe = 8

  def appends(i: Int): Boolean = i % (PointsPerAppend + 1) == 2

  /** The index over `docs` (ordered by `seq`) and the calls on it. */
  final class Cycle(run: Run, docs: DataFrame, dir: String) {
    private val spark = run.spark
    import spark.implicits._
    val total: Long = docs.count()
    val initial: Long = (total * InitialShare).toLong
    // the corpus, its first 40% encoded, is input; set-up is building
    // the IVF index over it
    writeCorpus(run, docs, dir, _.filter(col("seq") < initial))
    val points = spark.read.parquet(run.in("points"))
      .as[(Long, String, Option[Double], Option[String])].collect()
    private val docTable = spark.read.parquet(s"$dir/documents.parquet")
    private var stream: Option[StreamingQuery] = None
    private var appended, appendsSinceMaintain = 0L
    var idx = ""

    def build(i: Int): Unit = {
      idx = s"$dir/ivf$i"
      IvfIndex.writeIndex(spark, dir, idx)
    }

    def append(): Unit = {
      val from = initial + appended
      require(from + AppendRows <= total, "ingest corpus exhausted before the window ended")
      val before = run.aside(files(idx).length)
      run.call("append") {
        encoded(docTable.filter(col("seq") >= from && col("seq") < from + AppendRows))
          .select("vec_id", "embedding")
          .write.parquet(f"$dir/waves/w${appended / AppendRows}%05d")
        if (stream.isEmpty) stream = Some(IndexStream.appendToIndex(spark, idx,
          spark.readStream.schema("vec_id long, embedding array<float>").parquet(s"$dir/waves/*"),
          s"$dir/checkpoint", IndexMaintenance.nextEpochDir(spark, idx)))
        stream.get.processAllAvailable()
      }
      if (run.tracer.isDefined)
        run.aside(run.sample("append.files_written", files(idx).length - before))
      appended += AppendRows
      appendsSinceMaintain += 1
    }

    def maintain(): Unit = {
      stream.foreach(_.stop())
      stream = None
      val before = run.aside(files(idx).map(f => (f.getPath, f.lastModified())).toSet)
      val rep = run.call("maintain")(IndexMaintenance.maintain(spark, idx))
      if (run.tracer.isDefined) run.aside {
        run.sample("maintain.files_after", rep.filesAfter)
        run.sample("maintain.bytes_rewritten", files(idx)
          .filterNot(f => before((f.getPath, f.lastModified()))).map(_.length).sum)
      }
      appendsSinceMaintain = 0
    }

    def point(q: Int): Unit = {
      val (_, text, minLogit, lang) = points(q % points.length)
      val (df, rows) = run.call("search_point") {
        val df = SearchApi.searchIndexed(spark, dir, idx, text, nprobe = NProbe,
          retrieveK = 20, minLogit = minLogit, lang = lang)
        (df, df.collect())
      }
      require(rows.length <= 20, "point search returned more than retrieveK rows")
      if (run.tracer.isDefined) run.aside {
        run.sample("point.files_read", PlanStats.scansUnder(df.queryExecution.executedPlan,
          new File(idx).getAbsolutePath).files)
        val layout = files(idx).map(_.getPath)
        run.sample("index.files", layout.length)
        run.sample("index.epochs", layout.filter(_.contains("vectors_e"))
          .map(p => p.substring(p.indexOf("vectors_e")).takeWhile(_ != '/')).distinct.length)
      }
    }

    // point queries are a function of the step, so a replay asks the
    // same ones; appends always take the next documents
    def step(i: Int): String =
      if (appendsSinceMaintain == MaintainEvery) { maintain(); "maintain" }
      else if (appends(i)) { append(); "append" }
      else { point(i); "search_point" }

    /** Untimed warm-up: the append that starts the stream, and a point
      * search with a query no step asks.
      */
    def warmUp(): Unit = {
      append()
      point(points.length - 1)
    }

    /** Ends the run's writes: the traced run folds the epochs in with one
      * more maintenance pass, so it measures the pass and its checks see
      * the compacted layout.
      */
    def finish(): Unit = {
      if (run.traced) {
        maintain()
        run.layers("index.space_amp") =
          files(idx).filter(_.getPath.contains("/vectors")).map(_.length).sum.toDouble /
            ((initial + appended) * SearchApi.Dim * 4)
      } else stream.foreach(_.stop())
    }

    def checkServedOnce(): Unit = run.check("appended_rows_served_once") {
      val got = IndexMaintenance.vectorsDf(spark, idx).select("vec_id").as[Long].collect()
      val wanted = docTable.filter(col("seq") < initial + appended)
        .select("doc_id").as[Long].collect()
      got.length == wanted.length && got.toSet == wanted.toSet
    }

    def checkFullCoverage(): Unit = run.check("full_coverage_equals_brute_force") {
      // the corpus embeddings become exactly the vectors handed to the
      // index, so the brute-force facade and the index see the same rows
      spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
        .union(spark.read.parquet(s"$dir/waves/*"))
        .withColumn("label", (col("vec_id") % 10).cast("int"))
        .localCheckpoint()
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      points.take(1).forall { case (_, text, minLogit, lang) =>
        sameRows(
          SearchApi.searchIndexed(spark, dir, idx, text, nprobe = Int.MaxValue,
            retrieveK = 20, minLogit = minLogit, lang = lang).collect().toSeq,
          SearchApi.search(spark, dir, text, retrieveK = 20, minLogit = minLogit,
            lang = lang).collect().toSeq)
      }
    }
  }

  def apply(run: Run): Unit = {
    val c = new Cycle(run, run.spark.read.parquet(run.in("ingest_docs")), s"${run.work}/ingest")
    run.setUp(c.build)
    c.warmUp()
    val ops = run.window(min = PointsPerAppend + 1)(c.step)
    run.report(ops.filter(_.kind == "search_point"))
    val appendS = ops.filter(_.kind == "append").map(_.wallS)
    run.detail("append_rows_per_s") = appendS.length * AppendRows / appendS.sum
    c.finish()
    c.checkServedOnce()
    c.checkFullCoverage()
  }

  /** A short traced cycle over a small index, for `curate`'s traced
    * run: build and start the stream with an append untraced, then trace
    * a point search, an append, another point search and a maintenance
    * pass, and check the appended rows. The first point search is the
    * JVM's first; the traced run has no time left for a warm-up.
    */
  def folded(run: Run): Unit = {
    val c = run.untraced {
      val c = new Cycle(run, run.spark.read.parquet(run.in("ingest_docs")),
        s"${run.work}/ingest")
      run.log("ingest set-up")
      c.build(0)
      run.log("ingest warm-up")
      c.append()
      c
    }
    (1 to 3).foreach(i => { run.log(s"ingest step $i"); c.step(i) })
    run.log("maintain")
    c.finish()
    c.checkServedOnce()
  }
}

/** Curation passes: the training-data pipeline, then near-duplicate
  * components, each pass starting with every cache dropped. The traced
  * run also runs a short ingest cycle ([[IngestPoint.folded]]).
  */
object Curate {
  import PerfBench._
  val WarmUpDocs = 100

  def apply(run: Run): Unit = {
    val spark = run.spark
    // the raw documents are input; set-up is graft's ingest of them into
    // the canonical corpus layout (cleaned, partitioned by language)
    val raw = s"${run.work}/in/docs.jsonl"
    def ingest(docs: DataFrame, dir: String): Unit =
      Ingest.writeCorpus(docs, s"$dir/documents.parquet")
    var dir = ""
    run.setUp { i =>
      dir = s"${run.work}/curate/s$i"
      ingest(Ingest.fromJsonl(spark, raw), dir)
    }
    var last: Seq[(String, DataFrame, Array[Row])] = Nil

    def pass(dir: String): String = {
      dropCaches(spark)
      val (p, pr) = run.call("pipeline_run") {
        val p = Pipeline.run(spark, dir)
        (p, p.collect())
      }
      val (c, cr) = run.call("dedup_components") {
        val c = Dedup.components(spark, dir)
        (c, c.collect())
      }
      require(pr.nonEmpty && cr.nonEmpty, "empty curation output")
      last = Seq(("pipeline_e2e", p, pr), ("dedup_components", c, cr))
      "pass"
    }

    // Untimed warm-up: a pass over a small corpus pays the cold JVM's
    // compilation, which would otherwise dominate a single timed pass.
    val warm = s"${run.work}/curate/warm-up"
    ingest(Ingest.fromJsonl(spark, raw).limit(WarmUpDocs), warm)
    pass(warm)
    run.report(run.window(min = 1)(_ => pass(dir)))
    if (run.traced) {
      dropCaches(spark)
      val pairs = Dedup.ngramJaccard(spark, dir)
      val cand = pairs.count()
      val verified = pairs.filter(col("jaccard") >= 0.5).count()
      run.layers("dedup.candidate_pairs") = cand
      run.layers("dedup.verified_pairs") = verified
      run.layers("dedup.verify_yield") = verified.toDouble / math.max(1L, cand)
      IngestPoint.folded(run)
    }
    // the oracle check runs outside the JVM, over the same documents
    last.foreach { case (name, df, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"${run.work}/out/$name")
    }
    val sql = last.map { case (name, _, _) => name -> graft.OracleSql.all(name) }
    Json.writeStrings(s"${run.work}/out/oracle_sql.json", sql :+ ("tables" -> dir))
  }
}

object Noise {
  /** CPU steal seconds so far, host-wide (`/proc/stat`, column 8). */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100)
        .getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** CPU seconds the JVM has used, all threads: the host's steal is not
    * in it, unlike wall time.
    */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Heap in use after a full collection: what the run retains. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def num(m: mutable.LinkedHashMap[String, Double]) =
    obj(m.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) "null" else v.toString) })

  private def save(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
  }

  def write(path: String, run: PerfBench.Run): Unit = save(path, obj(Seq(
    "attempted" -> run.attempted.toString, "failed" -> run.failed.toString,
    "checks" -> obj(run.checks.map { case (k, v) => k -> v.toString }),
    "e2e" -> num(run.e2e), "layers" -> num(run.layers), "detail" -> num(run.detail))))

  def writeStrings(path: String, kv: Seq[(String, String)]): Unit =
    save(path, obj(kv.map { case (k, v) => k -> str(v) }))
}
