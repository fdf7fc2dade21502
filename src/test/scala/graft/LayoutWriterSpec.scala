package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, IndexMaintenance, IvfIndex, Layout, LexIndex, LshAnn, PqIndex}
import graft.streaming.IndexStream

/** Every partitioned layout is written by [[Layout.write]]: one shuffle
  * task per partition value, so on this corpus (far below the writer's
  * rows-per-file roll) a fresh build of each family and a streamed
  * epoch batch hold exactly one part-file per partition value, whatever
  * the input's task count. A fresh build is therefore already in the
  * shape compaction leaves, and `maintain` finds nothing to do.
  */
class LayoutWriterSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def valuesOf(dir: String, partCol: String): Long =
    spark.read.parquet(dir).select(partCol).distinct().count()

  test("a fresh build of each family writes one file per partition value") {
    val builds: Seq[(String, Layout, String => Unit)] = Seq(
      ("ivf", Layout.Ivf, IvfIndex.writeIndex(spark, Sf, _)),
      ("pq", Layout.Pq, PqIndex.writeIndex(spark, Sf, _)),
      ("residual", Layout.Residual, PqIndex.writeResidualIndex(spark, Sf, _)),
      ("lsh", Layout.Lsh, LshAnn.writeIndex(spark, Sf, _)),
      ("band", Layout.Band, DedupIndex.writeBandIndex(spark, Sf, _)),
      ("lex", Layout.Lex, LexIndex.writeIndex(spark, Sf, _)))
    builds.foreach { case (name, layout, build) =>
      val idx = tmp(s"graft-writer-$name")
      build(idx)
      val vectors = s"$idx/vectors"
      val values = valuesOf(vectors, layout.partCol)
      assert(values > 1, s"$name: a single partition value proves nothing")
      assert(IndexMaintenance.parquetFileCount(spark, vectors) === values,
        s"$name: one file per ${layout.partCol} value")
    }
  }

  test("a streamed epoch batch writes one file per touched value") {
    val idx = tmp("graft-writer-epoch")
    val staging = tmp("graft-writer-epoch-in")
    val ckpt = tmp("graft-writer-epoch-ckpt")
    val half = tmp("graft-writer-epoch-half")
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(pmod(col("vec_id"), lit(4)) =!= 3).write.parquet(s"$half/embeddings.parquet")
    IvfIndex.writeIndex(spark, half, idx)
    // the held-out rows arrive as one many-task micro-batch
    vecs.filter(pmod(col("vec_id"), lit(4)) === 3).repartition(4)
      .write.parquet(s"$staging/wave0")
    val epoch = IndexMaintenance.nextEpochDir(spark, idx)
    val q = IndexStream.appendToIndex(spark, idx,
      spark.readStream.schema(vecs.schema).parquet(s"$staging/wave*"), ckpt,
      sinkDir = epoch)
    try q.processAllAvailable() finally q.stop()
    val batch = s"$epoch/batch=0"
    val touched = valuesOf(batch, "cluster_id")
    assert(touched > 1, "the batch must touch several clusters")
    assert(IndexMaintenance.parquetFileCount(spark, epoch) === touched)
  }

  test("maintain leaves a fresh IVF build alone: one file per cluster") {
    val idx = tmp("graft-writer-maintain")
    IvfIndex.writeIndex(spark, Sf, idx)
    val clusters = valuesOf(s"$idx/vectors", "cluster_id")
    val r = IndexMaintenance.maintain(spark, idx)
    assert(r.action === "none", r.toString)
    assert(r.filesBefore === clusters, r.toString)
    assert(r.filesAfter === clusters, r.toString)
  }
}
