package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IvfIndex, Layout, LshAnn, PqIndex}
import graft.streaming.IndexStream

/** Compaction of the persisted index layouts: fewer files, identical
  * rows, identical serving, pruning intact — for all three families.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def query = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
    .select(col("embedding").as("qvec"))

  test("streamed-in PQ index compacts to one file per cluster, serving unchanged") {
    val idx = tmp("graft-compact-pq")
    val staging = tmp("graft-compact-staging")
    val ckpt = tmp("graft-compact-ckpt")
    // metadata from a throwaway batch build; vectors arrive in many
    // tiny micro-batches (the small-file regime compaction exists for)
    val seed = tmp("graft-compact-seed")
    PqIndex.writeIndex(spark, Sf, seed)
    spark.read.parquet(s"$seed/centroids").write.parquet(s"$idx/centroids")
    spark.read.parquet(s"$seed/codebooks").write.parquet(s"$idx/codebooks")
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    (0 until 5).foreach(w =>
      vecs.filter(pmod(col("vec_id"), lit(5)) === w).write.parquet(s"$staging/wave$w"))
    val stream = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/wave*")
    val q = IndexStream.append(spark, Layout.Pq, idx, stream, ckpt)
    try q.processAllAvailable() finally q.stop()

    val before = IndexMaintenance.parquetFileCount(spark, s"$idx/vectors")
    val rowsBefore = spark.read.parquet(s"$idx/vectors")
      .select("vec_id", "cluster_id", "code_0", "code_1", "code_2", "code_3")
      .collect().map(_.toString).sorted.toSeq
    val servedBefore = PqIndex.searchIndex(spark, idx, query, nprobe = 3).collect()
      .map(_.toString).toSeq

    val after = IndexMaintenance.compactIndex(spark, idx)
    assert(after < before, s"files: $before -> $after")
    val clusters = spark.read.parquet(s"$idx/vectors")
      .select("cluster_id").distinct().count()
    assert(after === clusters, s"expected one file per cluster: $after vs $clusters")

    val rowsAfter = spark.read.parquet(s"$idx/vectors")
      .select("vec_id", "cluster_id", "code_0", "code_1", "code_2", "code_3")
      .collect().map(_.toString).sorted.toSeq
    assert(rowsAfter === rowsBefore)
    val servedAfter = PqIndex.searchIndex(spark, idx, query, nprobe = 3).collect()
      .map(_.toString).toSeq
    assert(servedAfter === servedBefore)

    // pruning survives the rewrite
    val df = PqIndex.searchIndex(spark, idx, query, nprobe = 2)
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cluster_id"), "pruning lost after compaction")
  }

  test("rowsPerFile splits an oversized partition into multiple files") {
    val idx = tmp("graft-compact-split")
    IvfIndex.writeIndex(spark, Sf, idx)
    val rows = spark.read.parquet(s"$idx/vectors").count()
    val clusters = spark.read.parquet(s"$idx/vectors")
      .select("cluster_id").distinct().count()
    // tiny rowsPerFile → every cluster splits into several chunk files
    val n = IndexMaintenance.compactIndex(spark, idx, rowsPerFile = 16)
    assert(n > clusters, s"expected chunked files, got $n for $clusters clusters")
    assert(spark.read.parquet(s"$idx/vectors").count() === rows)
  }

  test("LSH layout compacts by bucket and serving is unchanged") {
    val idx = tmp("graft-compact-lsh")
    LshAnn.writeIndex(spark, Sf, idx)
    val servedBefore = LshAnn.searchIndex(spark, idx, query, k = 5, probes = 2)
      .collect().map(_.toString).toSeq
    val n = IndexMaintenance.compactIndex(spark, idx)
    val buckets = spark.read.parquet(s"$idx/vectors").select("bucket").distinct().count()
    assert(n === buckets)
    val servedAfter = LshAnn.searchIndex(spark, idx, query, k = 5, probes = 2)
      .collect().map(_.toString).toSeq
    assert(servedAfter === servedBefore)
  }

  test("post-compaction resume rotates to a fresh epoch; serving stays complete") {
    val idx = tmp("graft-rotate-pq")
    val staging = tmp("graft-rotate-staging")
    val ckpt = tmp("graft-rotate-ckpt")
    val seed = tmp("graft-rotate-seed")
    PqIndex.writeIndex(spark, Sf, seed) // full-corpus reference build
    spark.read.parquet(s"$seed/centroids").write.parquet(s"$idx/centroids")
    spark.read.parquet(s"$seed/codebooks").write.parquet(s"$idx/codebooks")
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    (0 until 2).foreach(w =>
      vecs.filter(pmod(col("vec_id"), lit(3)) === w).write.parquet(s"$staging/wave$w"))
    def mkStream() = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/wave*")
    val q1 = IndexStream.append(spark, Layout.Pq, idx, mkStream(), ckpt)
    try q1.processAllAvailable() finally q1.stop()
    IndexMaintenance.compactIndex(spark, idx)

    // resuming into the compacted base dir would shadow every compacted
    // row behind a fresh sink log — it must fail fast, not lose data
    intercept[IllegalStateException] {
      IndexStream.append(spark, Layout.Pq, idx, mkStream(), ckpt)
    }

    // log rotation: SAME source checkpoint, fresh epoch sink dir —
    // only the unseen wave flows into the new epoch
    vecs.filter(pmod(col("vec_id"), lit(3)) === 2).write.parquet(s"$staging/wave2")
    val epochDir = IndexMaintenance.nextEpochDir(spark, idx)
    val q2 = IndexStream.append(spark, Layout.Pq, idx, mkStream(), ckpt, sinkDir = epochDir)
    try q2.processAllAvailable() finally q2.stop()
    val wave2n = vecs.filter(pmod(col("vec_id"), lit(3)) === 2).count()
    assert(spark.read.parquet(epochDir).count() === wave2n,
      "epoch must hold exactly the post-compaction wave (no replay, no loss)")

    // serving reads base + epoch and equals the batch-built full index
    val servedFull = PqIndex.searchIndex(spark, seed, query, nprobe = 3)
      .collect().map(_.toString).toSeq
    val servedLive = PqIndex.searchIndex(spark, idx, query, nprobe = 3)
      .collect().map(_.toString).toSeq
    assert(servedLive === servedFull)

    // the next compaction folds the epoch back into the base layout
    IndexMaintenance.compactIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/vectors").count() === vecs.count())
    assert(PqIndex.searchIndex(spark, idx, query, nprobe = 3)
      .collect().map(_.toString).toSeq === servedFull)
  }

  test("residual layout: full compact/rotate cycle, serving equal, prunings intact (r10)") {
    // the fourth persisted layout — the one a 100 TB deployment runs —
    // gets the same stop→compact→refuse-stale-resume→rotate→serve-equal
    // →re-compact contract the IVF/PQ/LSH cycles pin
    val idx = tmp("graft-rotate-res")
    val staging = tmp("graft-rotate-res-staging")
    val ckpt = tmp("graft-rotate-res-ckpt")
    val seed = tmp("graft-rotate-res-seed")
    PqIndex.writeResidualIndex(spark, Sf, seed) // full-corpus reference build
    spark.read.parquet(s"$seed/centroids").write.parquet(s"$idx/centroids")
    spark.read.parquet(s"$seed/codebooks").write.parquet(s"$idx/codebooks")
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    (0 until 2).foreach(w =>
      vecs.filter(pmod(col("vec_id"), lit(3)) === w).write.parquet(s"$staging/wave$w"))
    def mkStream() = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/wave*")
    val q1 = IndexStream.append(spark, Layout.Residual, idx, mkStream(), ckpt)
    try q1.processAllAvailable() finally q1.stop()

    val before = IndexMaintenance.parquetFileCount(spark, s"$idx/vectors")
    IndexMaintenance.compactIndex(spark, idx)
    val after = IndexMaintenance.parquetFileCount(spark, s"$idx/vectors")
    assert(after < before, s"files: $before -> $after")

    // resume into the compacted base must fail fast
    intercept[IllegalStateException] {
      IndexStream.append(spark, Layout.Residual, idx, mkStream(), ckpt)
    }

    // rotate: same source checkpoint, fresh epoch dir, only the unseen wave
    vecs.filter(pmod(col("vec_id"), lit(3)) === 2).write.parquet(s"$staging/wave2")
    val epochDir = IndexMaintenance.nextEpochDir(spark, idx)
    val q2 = IndexStream.append(spark, Layout.Residual, idx, mkStream(), ckpt,
      sinkDir = epochDir)
    try q2.processAllAvailable() finally q2.stop()
    val wave2n = vecs.filter(pmod(col("vec_id"), lit(3)) === 2).count()
    assert(spark.read.parquet(epochDir).count() === wave2n,
      "epoch must hold exactly the post-compaction wave (no replay, no loss)")

    // serving (base + epoch) equals the batch-built full index
    val servedFull = PqIndex.searchResidualIndex(spark, seed, query, nprobe = 3)
      .collect().map(_.toString).toSeq
    val servedLive = PqIndex.searchResidualIndex(spark, idx, query, nprobe = 3)
      .collect().map(_.toString).toSeq
    assert(servedLive === servedFull)

    // re-compact folds the epoch; serving and row count unchanged, and
    // both prunings survive the rewrite (PartitionFilters + codes-only
    // candidate scan)
    IndexMaintenance.compactIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/vectors").count() === vecs.count())
    val df = PqIndex.searchResidualIndex(spark, idx, query, nprobe = 3)
    assert(df.collect().map(_.toString).toSeq === servedFull)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"), "pruning lost after compaction")
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(scans.exists(s => s.contains("rcode_0") && !s.contains("embedding")),
      scans.mkString("\n"))
  }

  test("folded-epoch leftovers (crash between swap and delete) never double-serve") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val idx = tmp("graft-crash-ivf")
    IvfIndex.writeIndex(spark, Sf, idx)
    val all = spark.read.parquet(s"$idx/vectors")
    val total = all.count()
    // split the build into base + one epoch (the post-compaction resume
    // layout: epoch rows live under a batch=<id> subdir)
    val base2 = all.filter(pmod(col("vec_id"), lit(3)) =!= 2)
    val epoch = all.filter(pmod(col("vec_id"), lit(3)) === 2)
    base2.write.mode("overwrite").partitionBy("cluster_id").parquet(s"$idx/vectors_tmp")
    epoch.write.partitionBy("cluster_id").parquet(s"$idx/vectors_e1/batch=0")
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$idx/vectors"), true)
    fs.rename(new Path(s"$idx/vectors_tmp"), new Path(s"$idx/vectors"))
    assert(IndexMaintenance.vectorsDf(spark, idx).count() === total)

    // snapshot the epoch dir, compact (folds + deletes it), then restore
    // the snapshot — the on-disk state of a crash BETWEEN the base swap
    // and the epoch deletions
    val bak = tmp("graft-crash-bak")
    FileUtil.copy(fs, new Path(s"$idx/vectors_e1"), fs, new Path(s"$bak/vectors_e1"),
      false, spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.compactIndex(spark, idx)
    // the marker traveled with the swap: present, and it names epoch 1 folded
    val markerTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/vectors/_graft_compacted")), "UTF-8")
    assert(IndexMaintenance.isCompacted(spark, idx))
    assert(markerTxt.contains("folded=1"), s"marker: $markerTxt")
    FileUtil.copy(fs, new Path(s"$bak/vectors_e1"), fs, new Path(s"$idx/vectors_e1"),
      false, spark.sparkContext.hadoopConfiguration)

    // the leftover's rows are already in the compacted base: serving
    // must skip it (no duplicates) and the epoch number is never reused
    assert(IndexMaintenance.vectorsDf(spark, idx).count() === total)
    assert(IndexMaintenance.vectorsDf(spark, idx)
      .groupBy(col("vec_id")).count().filter(col("count") > 1).count() === 0L)
    assert(IndexMaintenance.nextEpochDir(spark, idx).endsWith("vectors_e2"))

    // the next compaction reconciles: leftover deleted, rows unchanged
    IndexMaintenance.compactIndex(spark, idx)
    assert(!fs.exists(new Path(s"$idx/vectors_e1")))
    assert(spark.read.parquet(s"$idx/vectors").count() === total)
  }

  test("base-dir spellings with a trailing slash or file: scheme still fail fast") {
    val idx = tmp("graft-alias-ivf")
    IvfIndex.writeIndex(spark, Sf, idx)
    IndexMaintenance.compactIndex(spark, idx)
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    val ckpt = tmp("graft-alias-ckpt")
    def mkStream() = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"${tmp("graft-alias-src")}/*")
    // equivalent-but-non-identical spellings of the compacted base dir
    // must hit the same guard as the exact string (ADVICE r8)
    for (alias <- Seq(s"$idx/vectors/", s"file:$idx/vectors"))
      intercept[IllegalStateException] {
        IndexStream.appendToIndex(spark, idx, mkStream(), ckpt, sinkDir = alias)
      }
  }

  test("a non-index directory is rejected, not silently rewritten") {
    val idx = tmp("graft-compact-bogus")
    Tables.documents(spark, Sf).limit(5).write.parquet(s"$idx/vectors")
    intercept[IllegalArgumentException] {
      IndexMaintenance.compactIndex(spark, idx)
    }
  }
}
