package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Layout}
import graft.streaming.IndexStream

/** Streaming index maintenance: vectors appended through the stream
  * must be indistinguishable from vectors present at build time — same
  * partition layout, same search results.
  */
class IndexStreamSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("stream-appended vectors land in pruned partitions and match the batch-built index") {
    val fullIdx = tmp("graft-idx-full")
    val liveIdx = tmp("graft-idx-live")
    val staging = tmp("graft-idx-staging")
    val ckpt = tmp("graft-idx-ckpt")

    // reference: the whole corpus indexed in one batch build
    IvfIndex.writeIndex(spark, Sf, fullIdx)
    // live index: same centroids (the coarse quantizer is fixed between
    // re-trainings), vectors arriving in two streamed waves
    spark.read.parquet(s"$fullIdx/centroids").write.parquet(s"$liveIdx/centroids")

    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(col("vec_id") % 2 === 0).write.parquet(s"$staging/wave1")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staging/wave*")
    val q = IndexStream.appendToIndex(spark, liveIdx, stream, ckpt)
    try {
      q.processAllAvailable()
      // after wave 1 only the even vectors are searchable
      val half = spark.read.parquet(s"$liveIdx/vectors")
      assert(half.count() === vecs.filter(col("vec_id") % 2 === 0).count())
      assert(half.filter(col("vec_id") % 2 === 1).count() === 0)

      vecs.filter(col("vec_id") % 2 === 1).write.parquet(s"$staging/wave2")
      q.processAllAvailable()
    } finally q.stop()

    // the incrementally-built index answers searches identically to the
    // batch-built one (same clusters probed, same scores, same order)
    val query = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val live = IvfIndex.searchIndex(spark, liveIdx, query, nprobe = 3, k = 10).collect()
    val full = IvfIndex.searchIndex(spark, fullIdx, query, nprobe = 3, k = 10).collect()
    assert(live.map(_.toString).toSeq === full.map(_.toString).toSeq)

    // partition pruning survives the streaming sink's metadata log
    val probedOne = spark.read.parquet(s"$liveIdx/vectors")
      .filter(col("cluster_id") === 0)
    probedOne.collect()
    val scan = probedOne.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("stream-appended PQ index serves identically to the batch-built one") {
    import graft.operators.PqIndex
    val fullIdx = tmp("graft-pqidx-full")
    val liveIdx = tmp("graft-pqidx-live")
    val staging = tmp("graft-pqidx-staging")
    val ckpt = tmp("graft-pqidx-ckpt")

    PqIndex.writeIndex(spark, Sf, fullIdx)
    // live index: same metadata (quantizer + codebooks are fixed
    // between re-trainings), vectors arriving in two streamed waves
    spark.read.parquet(s"$fullIdx/centroids").write.parquet(s"$liveIdx/centroids")
    spark.read.parquet(s"$fullIdx/codebooks").write.parquet(s"$liveIdx/codebooks")

    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(col("vec_id") % 2 === 0).write.parquet(s"$staging/wave1")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staging/wave*")
    val q = IndexStream.append(spark, Layout.Pq, liveIdx, stream, ckpt)
    try {
      q.processAllAvailable()
      vecs.filter(col("vec_id") % 2 === 1).write.parquet(s"$staging/wave2")
      q.processAllAvailable()
    } finally q.stop()

    // streamed rows are byte-identical to batch-built ones: same codes,
    // same clusters, for every vector
    val live = spark.read.parquet(s"$liveIdx/vectors")
    val full = spark.read.parquet(s"$fullIdx/vectors")
    assert(live.count() === full.count())
    assert(live.select("vec_id", "cluster_id", "code_0", "code_1", "code_2", "code_3")
      .exceptAll(full.select("vec_id", "cluster_id", "code_0", "code_1", "code_2", "code_3"))
      .count() === 0L)

    // and the quantized serving path answers identically over it
    val query = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val a = PqIndex.searchIndex(spark, liveIdx, query, nprobe = 3).collect()
    val b = PqIndex.searchIndex(spark, fullIdx, query, nprobe = 3).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("stream-appended residual index serves identically to the batch-built one") {
    import graft.operators.PqIndex
    val fullIdx = tmp("graft-residx-full")
    val liveIdx = tmp("graft-residx-live")
    val staging = tmp("graft-residx-staging")
    val ckpt = tmp("graft-residx-ckpt")

    PqIndex.writeResidualIndex(spark, Sf, fullIdx)
    spark.read.parquet(s"$fullIdx/centroids").write.parquet(s"$liveIdx/centroids")
    spark.read.parquet(s"$fullIdx/codebooks").write.parquet(s"$liveIdx/codebooks")

    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(col("vec_id") % 2 === 0).write.parquet(s"$staging/wave1")
    vecs.filter(col("vec_id") % 2 === 1).write.parquet(s"$staging/wave2")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staging/wave*")
    val q = IndexStream.append(spark, Layout.Residual, liveIdx, stream, ckpt)
    try q.processAllAvailable() finally q.stop()

    // streamed rows byte-identical to batch-built ones: same residual
    // codes, same clusters, for every vector
    val cols = Seq("vec_id", "cluster_id", "rcode_0", "rcode_1", "rcode_2", "rcode_3")
    val live = spark.read.parquet(s"$liveIdx/vectors")
    val full = spark.read.parquet(s"$fullIdx/vectors")
    assert(live.count() === full.count())
    assert(live.select(cols.map(col): _*)
      .exceptAll(full.select(cols.map(col): _*)).count() === 0L)

    // serving over the streamed index == batch-built == fused in-memory
    val query = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val a = PqIndex.searchResidualIndex(spark, liveIdx, query).collect()
    val b = PqIndex.searchResidualIndex(spark, fullIdx, query).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.map(_.toString).toSeq ===
      InMemoryAnn.searchIvfPqResidual(spark, Sf).collect().map(_.toString).toSeq)
  }

  test("stream-appended LSH index serves identically to the batch-built one") {
    import graft.operators.LshAnn
    val fullIdx = tmp("graft-lshidx-full")
    val liveIdx = tmp("graft-lshidx-live")
    val staging = tmp("graft-lshidx-staging")
    val ckpt = tmp("graft-lshidx-ckpt")

    LshAnn.writeIndex(spark, Sf, fullIdx)
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(col("vec_id") % 2 === 0).write.parquet(s"$staging/wave1")
    vecs.filter(col("vec_id") % 2 === 1).write.parquet(s"$staging/wave2")
    val stream = spark.readStream
      .schema(vecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staging/wave*")
    val q = IndexStream.append(spark, Layout.Lsh, liveIdx, stream, ckpt)
    try q.processAllAvailable() finally q.stop()

    val live = spark.read.parquet(s"$liveIdx/vectors")
    val full = spark.read.parquet(s"$fullIdx/vectors")
    assert(live.count() === full.count())
    assert(live.select("vec_id", "bucket")
      .exceptAll(full.select("vec_id", "bucket")).count() === 0L)

    val query = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val a = LshAnn.searchIndex(spark, liveIdx, query, k = 5, probes = 2).collect()
    val b = LshAnn.searchIndex(spark, fullIdx, query, k = 5, probes = 2).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("re-delivered micro-batch files do not duplicate index rows") {
    val idx = tmp("graft-idx-redeliver")
    val staging = tmp("graft-idx-stage2")
    val ckpt = tmp("graft-idx-ckpt2")
    IvfIndex.writeIndex(spark, Sf, idx)
    val extra = tmp("graft-idx-live2")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$extra/centroids")

    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding").limit(100)
    vecs.write.parquet(s"$staging/files")
    def runOnce(): Unit = {
      val s = spark.readStream.schema(vecs.schema).parquet(s"$staging/files")
      val q = IndexStream.appendToIndex(spark, extra, s, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    // restarting the stream over the same source + checkpoint replays
    // nothing: the file-source offsets in the checkpoint make the
    // append exactly-once per source file
    runOnce()
    assert(spark.read.parquet(s"$extra/vectors").count() === 100)
  }
}
