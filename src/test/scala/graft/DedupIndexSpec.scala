package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex, IndexMaintenance, Layout}
import graft.streaming.IndexStream

/** The persisted band index (r10): incremental near-dup candidates
  * against the index must equal the batch MinHash→LSH chain on the
  * grown corpus minus the already-adjudicated known–known pairs;
  * streamed appends must be byte-identical to batch builds and
  * exactly-once; the maintenance contract applies unchanged.
  */
class DedupIndexSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def docs: DataFrame =
    Tables.documents(spark, Sf).select(col("doc_id"), col("text"))

  private val oldDocs = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
  private val newDocs = docs.filter(pmod(col("doc_id"), lit(3)) === 2)

  /** Batch-chain candidates of an arbitrary doc frame (the grown-corpus
    * reference the incremental path must reproduce).
    */
  private def batchCandidates(d: DataFrame): Seq[(Long, Long, Long)] = {
    val bands = Dedup.bandSignaturesOf(d)
    bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
  }

  test("incremental candidates == batch chain on grown corpus minus known–known") {
    val idx = tmp("graft-bandidx")
    DedupIndex.writeBandIndex(oldDocs, idx)
    val got = DedupIndex.newNearDupCandidates(spark, idx, newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val grown = batchCandidates(docs)
    val known = batchCandidates(oldDocs).toSet
    val want = grown.filterNot(known) // exactly the pairs touching a new doc
    assert(got === want)
    assert(got.nonEmpty, "corpus split produced no cross/new candidates — spec is vacuous")
    // and the removed set is exactly the known–known pairs, so nothing leaks
    assert(grown.toSet -- got.toSet === known)
  }

  test("verified near-dups carry the exact-jaccard contract of the batch verify") {
    val idx = tmp("graft-bandidx-v")
    DedupIndex.writeBandIndex(oldDocs, idx)
    val verified = DedupIndex.newNearDups(spark, idx, newDocs, oldDocs)
    // every candidate row verifies (inner joins lose nothing)...
    val nCand = DedupIndex.newNearDupCandidates(spark, idx, newDocs).count()
    assert(verified.count() === nCand)
    // ...and jaccard matches an independent string-set computation
    val sets = docs.select(col("doc_id"),
      graft.functions.TextExprs.shingles(
        graft.functions.TextFunctions.tokens(col("text"))).as("sh"))
    val bad = verified
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("ji", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jwant", graft.functions.VectorFunctions.r6(
        col("ji") / (lit(1.0) *
          (size(col("sh_a")).cast("long") + size(col("sh_b")) - col("ji")))))
      .filter(col("jaccard") =!= col("jwant") || col("n_inter") =!= col("ji"))
      .count()
    assert(bad === 0L)
    // threshold filter applies to the rounded value
    val thr = DedupIndex.newNearDups(spark, idx, newDocs, oldDocs, minJaccard = 0.5)
    assert(thr.filter(col("jaccard") < 0.5).count() === 0L)
  }

  test("streamed append is byte-identical to a batch build and exactly-once") {
    val idx = tmp("graft-bandidx-s")
    val staging = tmp("graft-bandidx-staging")
    val ckpt = tmp("graft-bandidx-ckpt")
    // seed the base with a batch build of the old docs, then stream the
    // new docs in as two waves
    DedupIndex.writeBandIndex(oldDocs, idx)
    (0 until 2).foreach(w =>
      newDocs.filter(pmod(col("doc_id"), lit(2)) === w).write.parquet(s"$staging/wave$w"))
    def mkStream() = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/wave*")
    // a parquet-sink append into the BATCH-built base would shadow every
    // batch row behind a fresh _spark_metadata log — the guard must
    // refuse it (r10: this spec found the pre-compaction shadowing hole)
    intercept[IllegalStateException] {
      IndexStream.append(spark, Layout.Band, idx, mkStream(), ckpt)
    }
    // the supported path: epoch sink dir, base + epoch served as a union
    val epochDir = IndexMaintenance.nextEpochDir(spark, idx)
    val q = IndexStream.append(spark, Layout.Band, idx, mkStream(), ckpt,
      sinkDir = epochDir)
    try q.processAllAvailable() finally q.stop()
    val got = DedupIndex.bandsDf(spark, idx)
      .collect().map(_.toString).sorted.toSeq
    val want = Dedup.bandSignaturesOf(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("maintenance contract: compaction by band, stale resume refused, serving equal") {
    val idx = tmp("graft-bandidx-m")
    val staging = tmp("graft-bandidx-m-staging")
    val ckpt = tmp("graft-bandidx-m-ckpt")
    DedupIndex.writeBandIndex(oldDocs, idx)
    oldDocs.limit(0).write.parquet(s"$staging/seed") // stream source dir exists
    def mkStream() = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/*")
    val candBefore = DedupIndex.newNearDupCandidates(spark, idx, newDocs)
      .collect().map(_.toString).sorted.toSeq
    val before = IndexMaintenance.parquetFileCount(spark, s"$idx/vectors")
    val n = IndexMaintenance.compactIndex(spark, idx)
    val bands = spark.read.parquet(s"$idx/vectors").select("band").distinct().count()
    assert(n === bands, s"expected one file per band: $n vs $bands")
    assert(n <= before)
    // serving (candidates) unchanged by the rewrite
    val candAfter = DedupIndex.newNearDupCandidates(spark, idx, newDocs)
      .collect().map(_.toString).sorted.toSeq
    assert(candAfter === candBefore)
    // the log-rotation guard covers this layout too
    intercept[IllegalStateException] {
      IndexStream.append(spark, Layout.Band, idx, mkStream(), ckpt)
    }
    assert(IndexMaintenance.nextEpochDir(spark, idx).endsWith("vectors_e1"))
  }
}
