package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, SearchApi}
import java.nio.file.Files

class IvfIndexSpec extends AnyFunSuite {
  import SparkSuite._

  lazy val indexPath: String = {
    val p = Files.createTempDirectory("graft-ivf").toString
    IvfIndex.writeIndex(spark, Sf, p)
    p
  }

  private def query = Tables.embeddings(spark, Sf)
    .filter(col("vec_id") === 0).select(col("embedding").as("qvec"))

  test("persisted index search matches the inline IVF search") {
    val got = IvfIndex.searchIndex(spark, indexPath, query)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val want = InMemoryAnn.ivfSearch(spark, Sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
  }

  test("index search prunes to nprobe cluster partitions") {
    val df = IvfIndex.searchIndex(spark, indexPath, query, nprobe = 3)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cluster_id"), scan)
    // only the probed partition directories are listed
    val planned = df.queryExecution.sparkPlan.collectLeaves().map(_.toString)
      .find(_.contains("vectors")).getOrElse("")
    assert(!planned.isEmpty)
  }

  test("index layout is partitioned by cluster_id on disk") {
    val dirs = new java.io.File(s"$indexPath/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster_id="))
    assert(dirs.length > 3, dirs.mkString(","))
  }

  test("k-means objective is non-increasing across Lloyd iterations") {
    val (cents, obj) = IvfIndex.kmeans(spark, Sf, iters = 3)
    assert(obj.length === 3)
    assert(obj.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 }, obj)
    assert(cents.count() === IvfIndex.centroids(spark, Sf).count())
  }

  test("salted aggregation equals direct aggregation") {
    import graft.operators.SkewOps
    import graft.functions.VectorFunctions.cents
    val li = Tables.lineitem(spark, Sf)
    val got = SkewOps.saltedAgg(li, col("l_returnflag"), cents(col("l_quantity"), 1e2))
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"), 1e2)).as("s"))
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("multimodal resize preserves aspect ratio bound; frame sampling strides") {
    import graft.multimodal.Multimodal
    val m = Multimodal.withBinary(Tables.documents(spark, Sf))
    val rs = Multimodal.resize(m, maxSide = 128)
    assert(rs.filter(col("rs_width") > 128 || col("rs_height") > 128).count() === 0)
    val fr = Multimodal.frameSample(m)
    assert(fr.filter(col("frame_idx") % 4 =!= 0).count() === 0)
    assert(fr.filter(col("frame_len") > 32).count() === 0)
    assert(fr.count() > 0)
  }

  test("search facade: encode -> retrieve -> rerank -> label end to end") {
    val r = SearchApi.search(spark, Sf, "spark query join filter table scan",
      retrieveK = 10)
    val rows = r.collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Long]("rerank_rank")).sorted.sameElements(1L to 10L))
    assert(rows.forall(x => Set("green", "yellow", "red")(x.getAs[String]("label"))))
    // deterministic encoder: same query twice gives identical results
    val r2 = SearchApi.search(spark, Sf, "spark query join filter table scan",
      retrieveK = 10).collect()
    assert(rows.map(_.getLong(0)).sameElements(r2.map(_.getLong(0))))
  }

  test("search facade payload filters apply") {
    val r = SearchApi.search(spark, Sf, "window sort merge", retrieveK = 20,
      lang = Some("en"), minLogit = Some(0.0)).collect()
    assert(r.forall(_.getAs[String]("lang") == "en"))
    assert(r.forall(_.getAs[Double]("logit") >= 0.0))
  }
}
