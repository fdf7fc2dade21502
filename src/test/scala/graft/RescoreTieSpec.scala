package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KnnSearch, PqIndex}

/** Every two-stage search ends in the shared exact rescore. With the
  * candidate cut at least the corpus size and every cluster probed, each
  * must return exactly the brute-force top k in (score desc, vec_id asc)
  * order — including across exact-score ties, which this corpus makes
  * with duplicated embeddings. The corpus, the indexes written for it
  * and the PQ and residual layouts installed for it are deleted after
  * the suite.
  */
class RescoreTieSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkSuite._

  private val made = scala.collection.mutable.ArrayBuffer.empty[String]
  private var corpusBuilt = false

  override def afterAll(): Unit =
    try {
      if (corpusBuilt)
        made ++= Seq(PqIndex.pqIndexFor(spark, corpus._1), PqIndex.residualIndexFor(spark, corpus._1))
      made.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    } finally super.afterAll()

  private val Dim = 64
  private val All = 1000 // ≥ the 300-row corpus and its 18 clusters
  private val K = 6

  /** ids 0..299, so the PQ codebook samples (ids 0, 17, …, 255) exist.
    * The query (id 0) is copied to ids 7, 150 and 299, the four top
    * ties; 0.75 × the query sits at ids 3, 101, 202 and 250, the next
    * four ties, which the top-6 cut splits.
    */
  private lazy val corpus: (String, Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(0x7135)
    val base = (0L until 300L).map(id => id -> Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)).toMap
    val query = base(0L)
    val second = query.map(_ * 0.75f)
    val rows = (0L until 300L).map {
      case id if Set(7L, 150L, 299L)(id) => id -> query
      case id if Set(3L, 101L, 202L, 250L)(id) => id -> second
      case id => id -> base(id)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-rescore-ties").toString
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    made += dir
    corpusBuilt = true
    (dir, rows)
  }

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** The brute-force top k: sequential double dot products, (score
    * desc, vec_id asc), rounded like the searches' output.
    */
  private lazy val brute: Seq[(Long, Double)] = {
    val rows = corpus._2
    val q = rows.head._2
    rows.map { case (id, v) =>
      var acc = 0.0
      v.indices.foreach(i => acc += v(i).toDouble * q(i).toDouble)
      (id, acc)
    }.sortBy { case (id, s) => (-s, id) }.take(K).map { case (id, s) => (id, r6(s)) }
  }

  private def queryDf(dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") === 0).select(col("embedding").as("qvec"))

  private def tmp(p: String) = {
    val d = java.nio.file.Files.createTempDirectory(p).toString
    made += d
    d
  }

  // (search, its run over the corpus dir, its exact-score column)
  private val searches: Seq[(String, String => DataFrame, String)] = Seq(
    ("PqIndex.searchRerank",
      d => PqIndex.searchRerank(spark, d, candidates = All, k = K), "exact_score"),
    ("PqIndex.searchIvfPq",
      d => PqIndex.searchIvfPq(spark, d, nprobe = All, candidates = All, k = K), "score"),
    ("PqIndex.searchIvfPqResidual",
      d => PqIndex.searchIvfPqResidual(spark, d, nprobe = All, candidates = All, k = K), "score"),
    ("PqIndex.searchIndex", { d =>
      val idx = tmp("graft-rescore-pq")
      PqIndex.writeIndex(spark, d, idx)
      PqIndex.searchIndex(spark, idx, queryDf(d), nprobe = All, candidates = All, k = K)
    }, "score"),
    ("PqIndex.searchResidualIndex", { d =>
      val idx = tmp("graft-rescore-res")
      PqIndex.writeResidualIndex(spark, d, idx)
      PqIndex.searchResidualIndex(spark, idx, queryDf(d), nprobe = All, candidates = All, k = K)
    }, "score"),
    ("KnnSearch.quantizedSearch",
      d => KnnSearch.quantizedSearch(spark, d, candidates = All, k = K), "score"),
    ("KnnSearch.binarySearch",
      d => KnnSearch.binarySearch(spark, d, candidates = All, k = K), "score"),
    ("KnnSearch.matryoshkaSearch",
      d => KnnSearch.matryoshkaSearch(spark, d, candidates = All, k = K), "score"))

  test("the corpus ties: the top six split the second tie group") {
    assert(brute.map(_._1) === Seq(0L, 7L, 150L, 299L, 3L, 101L))
  }

  searches.foreach { case (name, run, scoreCol) =>
    test(s"$name at full candidates returns the brute-force top k, ties by vec_id") {
      val got = run(corpus._1).select(col("vec_id"), col(scoreCol)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === brute)
    }
  }
}
