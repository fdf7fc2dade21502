package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{IndexMaintenance, IvfIndex, PqIndex}

/** Streaming maintenance of the persisted IVF index: newly-ingested
  * embeddings are assigned to their cluster map-side (the same
  * zero-shuffle literal-centroid argmin the batch build uses — no
  * state, no shuffle, no join) and appended into the
  * `cluster_id`-partitioned parquet layout that `IvfIndex.searchIndex`
  * partition-prunes. This is how a production ANN index absorbs new
  * data without rebuilds: the coarse quantizer (centroids) stays
  * fixed between periodic re-trainings while the inverted lists grow,
  * exactly the Qdrant/Faiss operational model (reference
  * store_assets.py:40-77 rebuilds in memory instead — not an option at
  * 100 TB).
  *
  * Scale notes: each micro-batch is an embarrassingly-parallel scan →
  * project → partitioned append; no aggregation state accumulates, so
  * the stream runs indefinitely at constant memory. Searches see new
  * vectors as soon as their files commit: serving resolves every layout
  * through `IndexMaintenance.layoutDf`, which re-validates the layout's
  * file signature on each call, so a sink commit is read by the next
  * search.
  */
object IndexStream {

  /** Resolve the sink dir for an append stream, enforcing the
    * log-rotation contract: once `IndexMaintenance.compactIndex` has
    * rewritten the base `vectors` dir (sink log deleted), resuming a
    * parquet-sink stream into it would start a FRESH `_spark_metadata`
    * log that shadows every compacted file for batch readers — the
    * index would silently lose all pre-compaction rows. Fail fast and
    * point the caller at `IndexMaintenance.nextEpochDir` (serving
    * reads base + epochs via `IndexMaintenance.vectorsDf`).
    */
  private def resolveSink(spark: SparkSession, indexPath: String,
      sinkDir: String): (String, Boolean) = {
    val resolved = if (sinkDir == null) s"$indexPath/vectors" else sinkDir
    // compare QUALIFIED paths, not raw strings: a trailing slash, a
    // file: URI or a relative spelling of the base vectors dir must not
    // slip past the fail-fast below, nor pick the wrong sink format in
    // startAppend (ADVICE r8)
    def qualified(p: String) = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(path)
    }
    val isBase = qualified(resolved) == qualified(s"$indexPath/vectors")
    if (isBase && IndexMaintenance.isCompacted(spark, indexPath))
      throw new IllegalStateException(
        s"$resolved was compacted (its streaming sink log is gone); resuming a " +
          "stream into it would shadow every compacted row for batch readers. " +
          "Resume into IndexMaintenance.nextEpochDir(spark, indexPath) instead " +
          "(keep the same source checkpoint).")
    // same shadowing hazard, pre-compaction flavor (r10, found by the
    // band-index spec): a BATCH-built base dir has data files but no
    // `_spark_metadata`; pointing the parquet sink at it starts a fresh
    // log covering only streamed files, and batch readers honor the log
    // — every batch-built row silently disappears from serving. Only a
    // dir the sink itself created (or an empty/absent one) is safe.
    if (isBase) {
      val basePath = qualified(resolved)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasSinkLog = fs.exists(
        new org.apache.hadoop.fs.Path(basePath, "_spark_metadata"))
      if (!hasSinkLog && IndexMaintenance.parquetFileCount(spark, resolved) > 0)
        throw new IllegalStateException(
          s"$resolved holds batch-built data with no streaming sink log; a " +
            "parquet-sink append would shadow every existing row for batch " +
            "readers. Append into IndexMaintenance.nextEpochDir(spark, " +
            "indexPath) instead (serving unions base + epochs).")
    }
    (resolved, isBase)
  }

  /** Start the append stream. The base `vectors` dir uses the parquet
    * streaming sink (its `_spark_metadata` log gives batch readers
    * exactly-once visibility). A post-compaction EPOCH dir cannot — a
    * resumed query's batch ids continue from the checkpoint, and a
    * fresh sink log with a gapped id sequence is unreadable — so
    * epochs are written via foreachBatch into a `batch=<id>` subdir
    * with mode=overwrite: a replayed micro-batch rewrites its own
    * subdir, which makes re-delivery idempotent without any log
    * (serving reads the epoch as plain partitioned parquet).
    */
  private def startAppend(spark: SparkSession, indexPath: String,
      assigned: DataFrame, checkpoint: String, sinkDir: String,
      partCol: String): StreamingQuery = {
    val (resolved, isBase) = resolveSink(spark, indexPath, sinkDir)
    if (isBase)
      assigned.writeStream
        .format("parquet")
        .option("path", resolved)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partCol)
        .outputMode("append")
        .start()
    else {
      // overwrite-idempotency must hold across RESTARTS, not just
      // within one run (r14, ADVICE r13): when the sink is one of this
      // index's epoch dirs, a replayed batch id is redirected to the
      // epoch that already holds its subdir — a restart that resolved
      // a fresh epoch would otherwise duplicate the pre-crash append
      val isEpochOfIndex = new org.apache.hadoop.fs.Path(resolved)
        .getName.matches("vectors_e\\d+")
      assigned.writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          // a replayed batch whose epoch dir was folded AND deleted
          // before the restart has no subdir left to overwrite — its
          // rows already live in the compacted base, so the replay is
          // DROPPED off the marker's folded-batch record (r15, ADVICE
          // r14; writing it to a fresh epoch would double-serve
          // permanently)
          val target =
            if (!isEpochOfIndex) Some(resolved)
            else IndexMaintenance.epochDirHoldingBatch(spark, indexPath, id)
              .orElse(
                if (IndexMaintenance.isBatchFolded(spark, indexPath, id)) None
                else Some(resolved))
          target.foreach(t => df.write.mode("overwrite").partitionBy(partCol)
            .parquet(s"$t/batch=$id"))
        }
        .start()
    }
  }

  /** Attach cluster assignments to a (possibly streaming) embedding
    * DataFrame using the index's persisted centroids. Works identically
    * on batch inputs — one code path for backfill and the live stream.
    */
  def assignWithIndexCentroids(spark: SparkSession, indexPath: String,
      vecs: DataFrame): DataFrame = {
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val best = IvfIndex.nearest(col("embedding"), cents)
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("cluster_id", best.getField("cluster_id"))
  }

  /** Continuously append a stream of new embeddings into the persisted
    * index. `newVecs` must be a streaming DataFrame with
    * (vec_id, embedding); the query writes
    * `indexPath/vectors/cluster_id=.../part-*.parquet` per micro-batch.
    */
  def appendToIndex(spark: SparkSession, indexPath: String,
      newVecs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery =
    startAppend(spark, indexPath,
      assignWithIndexCentroids(spark, indexPath, newVecs),
      checkpoint, sinkDir, "cluster_id")

  /** PQ twin of [[assignWithIndexCentroids]]: cluster assignment AND
    * byte codes computed from the metadata persisted under the PQ
    * index path (PqIndex.writeIndex), so streamed rows are
    * byte-identical to batch-built ones (shared projection —
    * PqIndex.indexRows). Centroids and codebooks are fixed between
    * re-trainings, exactly like the IVF path.
    */
  def assignWithPqIndexMeta(spark: SparkSession, indexPath: String,
      vecs: DataFrame): DataFrame =
    PqIndex.indexRows(vecs,
      spark.read.parquet(s"$indexPath/centroids"),
      PqIndex.codebookMetaOf(spark.read.parquet(s"$indexPath/codebooks"), "cvec"))

  /** Continuously append a stream of new embeddings into the persisted
    * PQ index — the quantized store stays serveable (codes-only
    * candidate scans, partition pruning) while it grows; exactly-once
    * per source file via the checkpoint, like [[appendToIndex]].
    */
  def appendToPqIndex(spark: SparkSession, indexPath: String,
      newVecs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery =
    startAppend(spark, indexPath,
      assignWithPqIndexMeta(spark, indexPath, newVecs),
      checkpoint, sinkDir, "cluster_id")

  /** Residual-PQ twin of [[assignWithPqIndexMeta]]: cluster assignment
    * AND residual codes from the metadata persisted under the residual
    * index path (PqIndex.writeResidualIndex) via the SAME shared row
    * projection the batch build uses — streamed rows byte-identical.
    */
  def assignWithResidualIndexMeta(spark: SparkSession, indexPath: String,
      vecs: DataFrame): DataFrame =
    PqIndex.residualIndexRows(vecs,
      spark.read.parquet(s"$indexPath/centroids"),
      PqIndex.codebookMetaOf(spark.read.parquet(s"$indexPath/codebooks"), "rcvec"))

  /** Continuously append a stream of new embeddings into the persisted
    * RESIDUAL index — completing streaming maintenance across all four
    * persisted layouts (IVF, PQ, residual PQ, LSH); exactly-once per
    * source file via the checkpoint, like [[appendToIndex]], and the
    * same compaction/log-rotation contract (the layout partitions by
    * cluster_id, so IndexMaintenance applies unchanged).
    */
  def appendToResidualIndex(spark: SparkSession, indexPath: String,
      newVecs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery =
    startAppend(spark, indexPath,
      assignWithResidualIndexMeta(spark, indexPath, newVecs),
      checkpoint, sinkDir, "cluster_id")

  /** Band-index twin (r10): stream (doc_id, text) documents into the
    * persisted near-dup band index ([[graft.operators.DedupIndex]]).
    * Signing is the same map-side projection the batch build uses
    * (Dedup.bandSignaturesOf — byte-identical rows), stateless, so the
    * stream runs at constant memory; same compaction/log-rotation
    * contract (partition column `band`).
    */
  def appendToBandIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery =
    startAppend(spark, indexPath,
      graft.operators.Dedup.bandSignaturesOf(newDocs),
      checkpoint, sinkDir, "band")

  /** LSH twin: the hyperplanes are derived deterministically (no
    * persisted metadata to read), so streamed vectors bucket exactly
    * like batch-built ones by construction — completing streaming
    * append across all four persisted vector index families (IVF, PQ,
    * residual PQ, LSH).
    */
  def appendToLshIndex(spark: SparkSession, indexPath: String,
      newVecs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery =
    startAppend(spark, indexPath,
      newVecs.select(col("vec_id"), col("embedding"))
        .withColumn("bucket", graft.operators.LshAnn.bucketOf(col("embedding"))),
      checkpoint, sinkDir, "bucket")

  /** Streaming maintenance of the DROP-LEDGER groups (r13, r12 verdict
    * #5 — the last dedup stage that still required a batch
    * [[graft.operators.DedupGroups.foldPairs]] call): per micro-batch
    * of newly-ingested (doc_id, text) documents,
    *
    *  1. adjudicate the batch's near-dup pairs against the persisted
    *     band index AND among the batch itself
    *     ([[graft.operators.DedupIndex.newNearDups]] — candidate
    *     generation touches the index, never the corpus; exact
    *     hashed-shingle verify on candidates only, at the drop
    *     threshold),
    *  2. fold the verified pairs into the persisted groups table
    *     (touched buckets only — the bucketed blast radius is
    *     preserved, fold contract unchanged), and
    *  3. append the batch's own signatures into a band-index EPOCH dir
    *     (`batch=<id>` overwrite subdirs — the idempotent foreachBatch
    *     layout) so later batches see these docs as known.
    *
    * This completes "ingest to drop-ledger with no batch jobs":
    * [[graft.operators.DedupIndex.dropIncrementalQuery]]'s serve
    * becomes a pure read of state this stream maintains. Exactly-once
    * under micro-batch REPLAY without a sink log: the fold is
    * idempotent by the groups contract (re-delivered pairs merge
    * nothing); a replay that finds its own signatures already appended
    * (crash between 3 and the checkpoint commit) re-derives the SAME
    * verified pair set — batch-vs-batch pairs are re-found through the
    * index instead of the self-join, and verification is text-jaccard,
    * not band-count — so the fold is again a no-op; and the signature
    * append overwrites its own `batch=<id>` subdir.
    *
    * `corpusDocs` must lazily cover (doc_id, text) of every
    * already-indexed document INCLUDING earlier micro-batches (the
    * ingest sink this pipeline feeds — evaluated per batch, so growth
    * is seen); the batch's own text rides its own frame. Fold ordering
    * per batch is pairs-then-signatures: signing first would make the
    * batch's docs "known" and double-count their own bands.
    */
  def foldGroupsFromStream(spark: SparkSession, indexPath: String,
      groupsPath: String, newDocs: DataFrame, corpusDocs: () => DataFrame,
      checkpoint: String,
      minJaccard: Double = graft.operators.DedupIndex.DropThreshold): StreamingQuery = {
    val epochDir = IndexMaintenance.nextEpochDir(spark, indexPath)
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay of an already-folded batch (r15, ADVICE r14): its
        // band signatures live in the compacted base, and the fold
        // order (pairs THEN signatures) means its pairs were folded
        // before the signature write a compaction can see — the whole
        // replay is redundant, and writing the signatures to a fresh
        // epoch would double-count the batch's bands permanently
        if (!IndexMaintenance.isBatchFolded(spark, indexPath, id)) {
        val b = batch.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val pairs = graft.operators.DedupIndex
            .newNearDups(spark, indexPath, b, corpusDocs(), minJaccard)
            .select(col("doc_a"), col("doc_b"))
          graft.operators.DedupGroups.foldPairs(spark, groupsPath, pairs)
          // signature target derived per BATCH, not per start() (r14,
          // ADVICE r13): a crash between this append and the
          // checkpoint commit replays the batch after a restart that
          // resolved a FRESH epoch — the replay must overwrite the
          // pre-crash `batch=<id>` in the old epoch, or its band
          // signatures fold in twice permanently
          val target = IndexMaintenance.epochDirHoldingBatch(spark, indexPath, id)
            .getOrElse(epochDir)
          graft.operators.Dedup.bandSignaturesOf(b)
            .write.mode("overwrite").partitionBy("band")
            .parquet(s"$target/batch=$id")
          // the epoch dir grew under a possibly-read path
          spark.catalog.refreshByPath(target)
        } finally b.unpersist(false)
        }
      }
      .start()
  }

  /** Lexical posting-index twin (r11): stream (doc_id, text) documents
    * into the persisted BM25 index ([[graft.operators.LexIndex]]). The
    * posting projection is the same stateless map-side pass the batch
    * build uses (byte-identical rows); corpus stats are metadata the
    * caller folds per ingest batch via `LexIndex.addToStats` (the
    * centroids-between-retrainings model). Same compaction/log-rotation
    * contract (partition column `bucket`).
    */
  def appendToLexIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, checkpoint: String,
      sinkDir: String = null): StreamingQuery = {
    // tier-aware appends (r15, verdict #3): postings for terms the
    // last build tiered out are dropped MAP-SIDE against the bounded
    // broadcast stopterms table — without this, one streamed doc
    // carrying a stop-term re-grows that term's corpus-scale posting
    // list in a single hash bucket until the next rebuild. The stop
    // set is frozen at stream start (the centroids-between-retrainings
    // lifecycle); a NEW term crossing the tier mid-stream is what
    // LexIndex.needsRetier bounds and maintain() routes to rebuild.
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postings = graft.operators.LexIndex.postingsOf(newDocs)
    val filtered =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/stopterms")))
        postings.join(
          broadcast(spark.read.parquet(s"$indexPath/stopterms").select(col("term"))),
          Seq("term"), "left_anti")
      else postings
    startAppend(spark, indexPath, filtered, checkpoint, sinkDir, "bucket")
  }
}
