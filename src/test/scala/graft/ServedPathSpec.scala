package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every graded ANN key of the IVF, LSH, PQ and residual-IVFPQ families
  * serves and evaluates off its installed layout: the executed plan
  * scans the layout's `vectors` under the cached install, encodes
  * nothing at query time (no PQ or residual encoder, no nearest-centroid
  * assignment of a corpus scan), and the flat-PQ candidate stage reads
  * the stored codes without the embedding.
  */
class ServedPathSpec extends AnyFunSuite {
  import SparkSuite._

  private val families = Seq(
    "ivfidx" -> Seq("vs_ivf_ann", "vs_ivf_batch", "vs_ivf_recall", "vs_ndcg"),
    "lshidx" -> Seq("vs_lsh_ann", "vs_lsh_recall", "vs_lsh_ndcg"),
    "pqidx" -> Seq("vs_pq", "vs_pq_rerank", "vs_ivf_pq", "vs_pq_recall"),
    "residx" -> Seq("vs_ivfpq_residual"))

  test("the twelve graded ANN keys scan their installed layout and encode nothing") {
    val keys = families.flatMap(_._2)
    assert(keys.length === 12)
    families.foreach { case (prefix, names) =>
      names.foreach { name =>
        val df = SparkEntry.queries(name)(spark, Sf)
        df.collect() // finalize the adaptive plan
        val plan = df.queryExecution.executedPlan.toString
        val scans = plan.linesIterator.filter(_.contains("FileScan parquet"))
          .map(_.dropWhile(_ != 'F')).toSeq.distinct
        val layoutScans =
          scans.filter(s => s.contains(s"graft_${prefix}_") && s.contains("/vectors"))
        assert(layoutScans.nonEmpty, s"$name: no scan of the installed $prefix layout\n$plan")
        Seq("pqcodesexpr", "residualcodesexpr", "nearestcentroidexpr").foreach(e =>
          assert(!plan.contains(e), s"$name evaluates $e at query time\n$plan"))
        if (name == "vs_pq_rerank")
          assert(layoutScans.exists(s => s.contains("code_0") && !s.contains("embedding")),
            s"$name: no codes-only candidate scan\n${layoutScans.mkString("\n")}")
        if (name == "vs_pq")
          assert(layoutScans.exists(_.contains("code_0")),
            s"$name does not score the stored codes\n${layoutScans.mkString("\n")}")
      }
    }
  }
}
