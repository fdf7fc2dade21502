package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, PqIndex, SearchApi}

/** The persisted PQ index (PqIndex.writeIndex/searchIndex — cluster
  * partitions + flat code columns) must reproduce the in-memory fused
  * paths exactly, and its candidate stage must read ONLY the code
  * columns from ONLY the probed partitions — the two prunings that
  * make PQ-on-parquet an index at 100 TB rather than a codec.
  */
class PqIndexedSpec extends AnyFunSuite {
  import SparkSuite._

  private lazy val indexPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    PqIndex.writeIndex(spark, Sf, p)
    p
  }
  private lazy val nClusters =
    spark.read.parquet(s"$indexPath/centroids").count().toInt

  private def query: DataFrame =
    Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  test("persisted search == in-memory fused searchIvfPq, row for row") {
    val mem = InMemoryAnn.searchIvfPq(spark, Sf, nprobe = 3).collect().toSeq
    val disk = PqIndex.searchIndex(spark, indexPath, query, nprobe = 3).collect().toSeq
    assert(mem.nonEmpty)
    assert(disk === mem)
  }

  test("probing every cluster reproduces the unpruned searchRerank ranking") {
    val disk = PqIndex.searchIndex(spark, indexPath, query,
      nprobe = nClusters, candidates = 50, k = 10).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val mem = PqIndex.searchRerank(spark, Sf, candidates = 50, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(1))).toSeq
    assert(disk.nonEmpty)
    assert(disk === mem)
  }

  test("candidate stage reads only code columns from only probed partitions") {
    val df = PqIndex.searchIndex(spark, indexPath, query, nprobe = 2)
    df.collect()
    // AQE hides the candidate scan inside a BroadcastQueryStage, so
    // parse the full plan text: one FileScan line per read of the
    // vectors layout (candidate gen + fetch)
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("vectors"))
      .map(_.dropWhile(_ != 'F')) // strip tree-art indentation, then dedup
      .toSeq.distinct
    assert(scans.length === 2, scans.mkString("\n---\n"))
    val codeScan = scans.find(s => s.contains("code_0") && !s.contains("embedding"))
    assert(codeScan.isDefined,
      s"no codes-only scan (column pruning lost):\n${scans.mkString("\n---\n")}")
    scans.foreach(s => assert(s.contains("PartitionFilters: [cluster_id"), s))
  }

  test("quantized serving == brute-force search when nothing is pruned") {
    val n = Tables.embeddings(spark, Sf).count().toInt
    val brute = SearchApi.search(spark, Sf, "vector search data pipelines")
      .collect().toSeq
    val quant = SearchApi.searchQuantized(spark, Sf, indexPath,
      "vector search data pipelines", nprobe = nClusters, candidates = n)
      .collect().toSeq
    assert(brute.nonEmpty)
    assert(quant === brute)
  }

  test("quantized serving composes with filters and both model seams") {
    val n = Tables.embeddings(spark, Sf).count().toInt
    val a = SearchApi.searchQuantized(spark, Sf, indexPath, "distributed joins",
      nprobe = nClusters, candidates = n, minLogit = Some(-5.0), lang = Some("en"),
      encoder = new graft.operators.BatchedEncoder(batchSize = 3),
      scorer = new graft.operators.BatchedScorer(batchSize = 3)).collect().toSeq
    val b = SearchApi.search(spark, Sf, "distributed joins",
      minLogit = Some(-5.0), lang = Some("en")).collect().toSeq
    assert(a === b)
  }

  test("tight nprobe/candidates returns real docs with exact brute-force scores") {
    // brute covers the WHOLE corpus so every returned id MUST be present
    // — Option.forall on a missing id would pass vacuously (ADVICE r7)
    val n = Tables.embeddings(spark, Sf).count().toInt
    val brute = SearchApi.search(spark, Sf, "vector search data pipelines",
      retrieveK = n).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val narrow = SearchApi.searchQuantized(spark, Sf, indexPath,
      "vector search data pipelines", nprobe = 2, candidates = 30).collect()
    assert(narrow.nonEmpty)
    narrow.foreach { r =>
      val (id, score) = (r.getLong(0), r.getDouble(1))
      assert(brute.contains(id), s"ANN returned unknown doc $id")
      assert(brute(id) === score, s"doc $id: ANN score $score != brute ${brute(id)}")
    }
  }

  test("index layout: cluster partitions on disk, codes dense and in range") {
    val dirs = new java.io.File(s"$indexPath/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster_id="))
    assert(dirs.length > 1, dirs.mkString(","))
    val codes = spark.read.parquet(s"$indexPath/vectors")
    val stats = codes.agg(
      count(lit(1)).as("n"),
      max(greatest((0 until PqIndex.NumSub).map(s => col(s"code_$s")): _*)).as("mx"),
      min(least((0 until PqIndex.NumSub).map(s => col(s"code_$s")): _*)).as("mn")).head()
    assert(stats.getLong(0) === Tables.embeddings(spark, Sf).count())
    assert(stats.getInt(1) < PqIndex.NumCodes && stats.getInt(2) >= 0)
    // stored codes match the live encoder exactly
    val live = PqHof.encode(spark, Sf)
      .groupBy(col("vec_id")).pivot("s").agg(first(col("code")))
    val stored = codes.select(col("vec_id") +:
      (0 until PqIndex.NumSub).map(s => col(s"code_$s").cast("long").as(s"code_$s")): _*)
    val mismatch = stored.join(live, "vec_id")
      .filter((0 until PqIndex.NumSub).map(s =>
        col(s"code_$s") =!= col(s"$s")).reduce(_ || _))
      .count()
    assert(mismatch === 0L)
  }
}
