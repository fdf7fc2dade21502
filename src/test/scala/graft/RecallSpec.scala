package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.functions.VectorFunctions.dot

/** ANN quality: IVF recall@10 versus brute force, measured honestly.
  * Uniform random vectors are the worst case for IVF (no cluster
  * structure), so thresholds are calibrated to measured values
  * (avg ≈ 0.57 @ nprobe=3, ≈ 0.96 @ nprobe=8 at sf0.01) rather than
  * wishful ones.
  */
class RecallSpec extends AnyFunSuite {
  import SparkSuite._

  lazy val indexPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-recall").toString
    IvfIndex.writeIndex(spark, Sf, p)
    p
  }

  private def recallAt10(qid: Long, nprobe: Int): Double = {
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === qid)
      .select(col("embedding").as("qvec"))
    val ivf = IvfIndex.searchIndex(spark, indexPath, q, nprobe = nprobe, k = 10)
      .collect().map(_.getLong(1)).toSet
    val brute = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
      .crossJoin(broadcast(q))
      .withColumn("s", dot(col("embedding"), col("qvec")))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    (ivf & brute).size / 10.0
  }

  private val queryIds = (0 until 5).map(_ * 97L)

  test("recall@10 is high when ~80% of clusters are probed") {
    // nlist is now the ⌈√N⌉ schedule (r9), so derive the probe count
    // from the actual cluster count rather than assuming 10
    val nClusters = IvfIndex.centroids(spark, Sf).count().toInt
    val nprobe = math.ceil(nClusters * 0.8).toInt
    val avg = queryIds.map(recallAt10(_, nprobe)).sum / queryIds.size
    assert(avg >= 0.85, s"avg recall $avg at nprobe=$nprobe/$nClusters")
  }

  test("k-means-refined index is searchable and scores match brute force") {
    val p = java.nio.file.Files.createTempDirectory("graft-refined").toString
    IvfIndex.writeIndex(spark, Sf, p, refineIters = 2)
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val hits = IvfIndex.searchIndex(spark, p, q, nprobe = 3, k = 10).collect()
    assert(hits.length === 10)
    val brute = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
      .crossJoin(broadcast(q))
      .withColumn("s", dot(col("embedding"), col("qvec")))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        math.floor(r.getAs[Double]("s") * 1e6 + 0.5) / 1e6).toMap
    hits.foreach(h => assert(brute(h.getLong(1)) === h.getDouble(2)))
  }

  test("k-means refinement does not hurt recall@10 (reported)") {
    val refined = java.nio.file.Files.createTempDirectory("graft-ref2").toString
    IvfIndex.writeIndex(spark, Sf, refined, refineIters = 2)
    def recallRefined(qid: Long, nprobe: Int): Double = {
      val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === qid)
        .select(col("embedding").as("qvec"))
      val ivf = IvfIndex.searchIndex(spark, refined, q, nprobe = nprobe, k = 10)
        .collect().map(_.getLong(1)).toSet
      val brute = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
        .crossJoin(broadcast(q))
        .withColumn("s", dot(col("embedding"), col("qvec")))
        .orderBy(col("s").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      (ivf & brute).size / 10.0
    }
    val seed = queryIds.map(recallAt10(_, 3)).sum / queryIds.size
    val ref = queryIds.map(recallRefined(_, 3)).sum / queryIds.size
    info(f"recall@10 nprobe=3: seed=$seed%.2f kmeans-refined=$ref%.2f")
    assert(ref >= seed - 0.05, s"refinement regressed recall: seed=$seed refined=$ref")
  }

  test("persisted LSH index search matches the in-memory bucket scan and prunes partitions") {
    val idx = java.nio.file.Files.createTempDirectory("graft-lsh-idx").toString
    graft.operators.LshAnn.writeIndex(spark, Sf, idx)
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val fromIndex = graft.operators.LshAnn.searchIndex(spark, idx, q)
    val inMemory = InMemoryAnn.lshSearch(spark, Sf)
    assert(fromIndex.collect().map(_.toString).toSeq ===
      inMemory.collect().map(_.toString).toSeq)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // multi-probe widens the candidate set, never shrinks the result
    val multi = graft.operators.LshAnn.searchIndex(spark, idx, q, probes = 3)
      .collect()
    assert(multi.length >= fromIndex.collect().length)
  }

  test("recall grows with nprobe") {
    val lo = queryIds.map(recallAt10(_, 2)).sum / queryIds.size
    val hi = queryIds.map(recallAt10(_, 8)).sum / queryIds.size
    assert(hi >= lo, s"recall not monotone: $lo -> $hi")
  }

  test("r15: the eval-query sample is bounded, deterministic, md5-ordered, " +
      "and a no-op below the cap") {
    import graft.operators.KnnSearch
    val ids = KnnSearch.evalQueries(spark, Sf)
      .select("query_id").collect().map(_.getLong(0)).toSeq
    assert(ids.size <= KnnSearch.EvalQuerySampleK)
    // below the cap the sample IS the full every-100th candidate set —
    // small-SF graded outputs are unchanged by construction
    val full = Tables.embeddings(spark, Sf).filter(col("vec_id") % 100 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    if (full.size <= KnnSearch.EvalQuerySampleK) assert(ids.toSet === full)
    // deterministic across evaluations
    assert(KnnSearch.evalQueries(spark, Sf)
      .select("query_id").collect().map(_.getLong(0)).toSeq === ids)
    // above the cap (simulated with every=1: the whole corpus is a
    // candidate): exactly sampleK survivors, and they are the driver-
    // side md5-order prefix — the property the DuckDB oracle mirrors
    val wideIds = KnnSearch.evalQueries(spark, Sf, every = 1)
      .select("query_id").collect().map(_.getLong(0)).toSeq
    assert(wideIds.size === KnnSearch.EvalQuerySampleK)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = Tables.embeddings(spark, Sf).select("vec_id")
      .collect().map(_.getLong(0))
      .sortBy(v => (md5hex(v.toString), v))
      .take(KnnSearch.EvalQuerySampleK).toSeq
    assert(wideIds.sorted === want.sorted)
  }

  test("ndcg is bounded, monotone in nprobe, and exactly 1 at full probe") {
    def avgNdcg(nprobe: Int): Double = {
      val rows = IvfIndex.ndcgReport(spark, Sf, nprobe = nprobe).collect()
      rows.foreach { r =>
        val n = r.getDouble(2)
        assert(n >= 0.0 && n <= 1.0, s"ndcg $n out of [0,1]")
      }
      rows.map(_.getDouble(2)).sum / rows.length
    }
    // a larger probe set can only replace a returned doc with a
    // higher-scored (= more relevant) one, so DCG is nondecreasing
    val n1 = avgNdcg(1)
    val n3 = avgNdcg(3)
    assert(n3 >= n1, s"ndcg not monotone: nprobe1=$n1 nprobe3=$n3")
    // probing every cluster IS brute force: perfect ranking everywhere
    val nClusters = IvfIndex.centroids(spark, Sf).count().toInt
    val full = IvfIndex.ndcgReport(spark, Sf, nprobe = nClusters).collect()
    full.foreach { r =>
      assert(r.getLong(1) === 10L, s"full-probe n_hit ${r.getLong(1)}")
      assert(r.getDouble(2) === 1.0, s"full-probe ndcg ${r.getDouble(2)}")
    }
  }
}
