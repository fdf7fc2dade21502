package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.PqIndex

/** The persisted residual-IVFPQ index (r9): serving from the
  * partition-pruned codes-only layout must reproduce the fused
  * in-memory path exactly, and the plan must show both prunings
  * (partition filter on cluster_id; the candidate stage never reads
  * the embedding column).
  */
class PqResidualIndexedSpec extends AnyFunSuite {
  import SparkSuite._

  test("persisted residual search == in-memory searchIvfPqResidual, both prunings pinned") {
    val want = InMemoryAnn.searchIvfPqResidual(spark, Sf).collect().map(_.toString).toSeq
    val got = PqIndex.searchIvfPqResidual(spark, Sf)
    assert(got.collect().map(_.toString).toSeq === want)

    // rebuild against a throwaway path to pin the plan without the cache
    val idx = java.nio.file.Files.createTempDirectory("graft-residx").toString
    PqIndex.writeResidualIndex(spark, Sf, idx)
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val df = PqIndex.searchResidualIndex(spark, idx, q)
    assert(df.collect().map(_.toString).toSeq === want)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"), plan)
    // the codes-only candidate scan: at least one vectors scan whose
    // ReadSchema carries rcode columns but NOT the embedding
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(scans.exists(s => s.contains("rcode_0") && !s.contains("embedding")),
      scans.mkString("\n"))
  }

  test("the fingerprint-cached build is reused, and a corpus change invalidates it") {
    val p1 = PqIndex.residualIndexFor(spark, Sf)
    val p2 = PqIndex.residualIndexFor(spark, Sf)
    assert(p1 === p2)
    // a different corpus (different files) fingerprints elsewhere
    val pOther = PqIndex.residualIndexFor(spark, "/root/testdata/sf0.01")
    assert(pOther !== p1)
  }
}
