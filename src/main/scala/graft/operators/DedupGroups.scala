package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental duplicate-GROUP maintenance (r11, r10 verdict #4):
  * [[DedupIndex]] adjudicates an ingest batch's near-dup PAIRS against
  * the persisted band index, but group-level decisions (components /
  * canonical keeper / drop) still required the batch chain per corpus
  * state. This maintains the transitive groups ACROSS ingests:
  *
  *  - `indexPath/groups/gb=<b>/…` persists (doc_id, component) for
  *    every doc in a verified near-dup pair (component = min doc_id of
  *    the group, the same canonical-keeper labeling
  *    [[Dedup.components]] emits), BUCKETED by a doc_id hash
  *    (`gb = md5(doc_id) mod NumBuckets`, the LexIndex convention) —
  *    pairs-scale metadata next to the band index, never corpus-scale.
  *  - [[foldPairs]] folds one batch's verified pairs in. New pairs can
  *    only MERGE groups, never split, so the fold is: attach current
  *    labels to the pair endpoints (map-side broadcast-or-shuffle join
  *    against the groups table), contract to the QUOTIENT graph of
  *    distinct touched labels, run min-label propagation on that tiny
  *    graph only ([[Dedup.componentsOfPairs]] — re-propagation cost is
  *    proportional to touched groups, not the corpus), then rewrite
  *    ONLY the buckets holding a touched-label row or a batch endpoint
  *    (r12, r11 verdict #2 — the r11 fold rewrote the full table per
  *    ingest): untouched buckets cross by metadata rename, byte-
  *    identical (spec-pinned), via the rebalanceIndex swap helper.
  *
  * The fold is a pure function of (current table ∪ batch pairs), so
  * re-delivering a batch is a no-op: its pairs' endpoints already
  * share labels, the quotient graph is empty, and the rewrite
  * reproduces the same rows — exactly-once without a log
  * (DedupGroupsSpec pins it, the DedupIndexSpec re-delivery pattern).
  *
  * Crash/concurrency contract (r13, ADVICE r12): a fold that dies
  * inside its swap is rolled forward (or back) by the next read or
  * fold via [[IndexMaintenance.reconcileSwap]] — the keep-dir manifest
  * staged with the rewrite makes the repair deterministic — so an
  * installed `_complete`-marked state can never serve with a missing
  * groups dir; and the whole read-compute-swap span holds a
  * cross-process lock ([[IndexMaintenance.withSwapLock]]) so two
  * maintainers cannot fold from the same base state and silently drop
  * one fold's merges (DedupGroupsSpec pins both).
  * Because labels merge to the group minimum, incremental state after
  * any sequence of appends equals the batch [[Dedup.components]] on
  * the grown corpus — spec-enforced after EVERY append, not asserted.
  */
object DedupGroups {

  /** Bucket count: bounds the blast radius of a fold (a batch touching
    * k groups rewrites ≤ min(k·avg-group-size + 2·|pairs|, NumBuckets)
    * bucket dirs). Buckets bound what a fold REWRITES, not their size —
    * a hot bucket still splits into many part-files via
    * maxRecordsPerFile if it ever grows.
    */
  val NumBuckets = 32

  /** Column-side doc bucket (md5 keeps it engine-portable, the
    * [[LexIndex.bucketOf]] convention).
    */
  def bucketOf(docId: Column): Column =
    pmod(conv(substring(md5(docId.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(NumBuckets.toLong))

  /** Current group rows (doc_id, component). Reads reconcile first
    * (r13, ADVICE r12): a fold that died inside its swap — after
    * `groups` was renamed aside, before the staged dir was renamed in
    * — otherwise leaves a `_complete`-certified layout with no groups
    * dir, and every later session serves a broken state.
    */
  def groupsDf(spark: SparkSession, indexPath: String): DataFrame = {
    reconcileForRead(spark, indexPath)
    spark.read.parquet(s"$indexPath/groups").select(col("doc_id"), col("component"))
  }

  /** Roll a crashed fold's swap forward/back (see groupsDf). Assumes
    * the caller holds the fold lock (or is initializing a fresh path).
    */
  private def reconcile(spark: SparkSession, indexPath: String): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (IndexMaintenance.reconcileSwap(fs, new Path(s"$indexPath/groups_staging"),
        new Path(s"$indexPath/groups")))
      spark.catalog.refreshByPath(s"$indexPath/groups")
  }

  /** Read-path reconcile (r14, ADVICE r13): a reader that lands in a
    * HEALTHY fold's swap window — dst briefly missing between the
    * aside and staged renames — must not roll the swap "forward"
    * concurrently with the folder (racing renames make one side throw
    * a spurious IOException). Fast path: dst present → nothing to do,
    * lock-free (the overwhelmingly common case). dst missing → heal
    * only under the same `_groups_fold_lock` the folder holds; while a
    * live folder holds it, wait for its swap to land instead.
    */
  private def reconcileForRead(spark: SparkSession, indexPath: String): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(s"$indexPath/groups")
    if (fs.exists(dst)) return
    val lock = new Path(s"$indexPath/_groups_fold_lock")
    while (true) {
      IndexMaintenance.tryWithSwapLock(fs, lock) {
        reconcile(spark, indexPath)
      } match {
        case Some(_) => return
        case None =>
          if (fs.exists(dst)) return
          // wait deadline sized to the LOCK'S staleness window, not a
          // fixed 60 s (r15, ADVICE r14): a crashed (non-heartbeating)
          // folder's lock only becomes breakable at mtime + staleMs —
          // a shorter deadline guaranteed up to ~14 min of read
          // failures after a mid-swap crash even though the takeover
          // above would eventually succeed and heal. A LIVE folder
          // keeps refreshing mtime (heartbeat every staleMs/3), so the
          // deadline keeps moving and the reader waits for its swap to
          // land — staleness, not a stopwatch, is the liveness oracle.
          // The throw fires only once the lock has been breakable for
          // a full grace period and the takeover still failed (a store
          // where delete/create-exclusive misbehaves).
          val mtime =
            try fs.getFileStatus(lock).getModificationTime
            catch { case _: java.io.FileNotFoundException =>
              System.currentTimeMillis() } // released between checks: retry now
          val breakableAt = mtime + IndexMaintenance.SwapLockStaleMs
          if (System.currentTimeMillis() > breakableAt + 60L * 1000)
            throw new IllegalStateException(
              s"$dst missing and $lock stale-but-unbreakable past its " +
                "staleness window — a fold appears wedged inside its swap")
          Thread.sleep(100)
      }
    }
  }

  /** Initialize the groups table from the verified pairs of the
    * indexed corpus (one batch components run — the offline build
    * stage, like the band index itself). Staged + atomic swap.
    */
  def initGroups(spark: SparkSession, indexPath: String,
      verifiedPairs: DataFrame): Unit = {
    val staged = s"$indexPath/groups_staging"
    val rows = Dedup.componentsOfPairs(verifiedPairs)
      .select(col("doc_id"), col("component"), bucketOf(col("doc_id")).as("gb"))
    rows.write.mode("overwrite").partitionBy("gb").parquet(staged)
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a zero-pair corpus writes no part files (partitionBy emits
    // nothing for 0 rows) and a later read cannot infer a schema:
    // leave one empty footer-bearing file so the state stays readable
    if (IndexMaintenance.parquetFileCount(spark, staged) == 0)
      rows.limit(0).coalesce(1).write.mode("append").parquet(staged)
    IndexMaintenance.atomicSwap(fs, new Path(staged), new Path(s"$indexPath/groups"))
    // the swap replaced files UNDER an already-read path: drop the
    // session's cached file listing, or the next fold reads stale
    // part-file names and silently loses the swapped buckets' rows
    spark.catalog.refreshByPath(s"$indexPath/groups")
  }

  /** Fold one ingest batch's verified near-dup pairs (doc_a, doc_b —
    * [[DedupIndex.newNearDups]] output filtered at the drop threshold)
    * into the persisted groups. See object doc for the shape; the
    * rewrite is bucket-selective — a fold's I/O is proportional to the
    * groups it touches, never to the table.
    */
  def foldPairs(spark: SparkSession, indexPath: String,
      verifiedPairs: DataFrame): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cross-process single-maintainer guard over the whole
    // read-compute-swap span (r13, ADVICE r12: synchronized is
    // per-JVM; two processes folding from the same base state would
    // silently lose one fold's merges), with crash-reconcile first so
    // a predecessor that died mid-swap never blocks or corrupts us
    IndexMaintenance.withSwapLock(fs, new Path(s"$indexPath/_groups_fold_lock")) {
      reconcile(spark, indexPath)
      foldPairsLocked(spark, indexPath, verifiedPairs, fs)
    }
  }

  private def foldPairsLocked(spark: SparkSession, indexPath: String,
      verifiedPairs: DataFrame, fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val g = spark.read.parquet(s"$indexPath/groups")
      .select(col("doc_id"), col("component"), col("gb").cast("long").as("gb"))
    // endpoints carry their CURRENT label (or themselves if unseen)
    val p = verifiedPairs.select(col("doc_a"), col("doc_b"))
      .join(g.select(col("doc_id").as("doc_a"), col("component").as("la0")),
        Seq("doc_a"), "left")
      .join(g.select(col("doc_id").as("doc_b"), col("component").as("lb0")),
        Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("la0"), col("doc_a")).as("la"),
        coalesce(col("lb0"), col("doc_b")).as("lb"))
      .transform(graft.plans.ScanShare.shared)
    // quotient graph: one node per TOUCHED label — merging runs on
    // this tiny graph only, never on the corpus or the full table
    val labelEdges = p.filter(col("la") =!= col("lb"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b")).distinct()
    val mapping = Dedup.componentsOfPairs(labelEdges)
      .select(col("doc_id").as("component"), col("component").as("merged"))
    val endpoints = p.select(col("doc_a").as("doc_id"), col("la").as("component"))
      .union(p.select(col("doc_b").as("doc_id"), col("lb").as("component")))
    // blast radius: the buckets holding a row whose label merges, plus
    // the endpoints' own buckets — ≤ NumBuckets values, index metadata
    val touched = g.join(broadcast(mapping), Seq("component"), "left_semi")
      .select(col("gb"))
      .union(endpoints.select(bucketOf(col("doc_id")).as("gb")))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return
    // rewrite the touched buckets only: their current rows (label
    // mapping applied map-side) plus the batch endpoints (which hash
    // into touched buckets by construction); the doc-level min dedups
    // re-delivered endpoints
    val folded = g.filter(col("gb").isin(touched: _*))
      .select(col("doc_id"), col("component"))
      .unionByName(endpoints)
      .join(broadcast(mapping), Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("component")).as("component"))
      .groupBy(col("doc_id")).agg(min(col("component")).as("component"))
      .withColumn("gb", bucketOf(col("doc_id")))
    val staged = s"$indexPath/groups_staging"
    folded.write.mode("overwrite").partitionBy("gb").parquet(staged)
    val untouchedDirs = (0L until NumBuckets.toLong)
      .filterNot(touched.contains).map(b => s"gb=$b")
    IndexMaintenance.atomicSwap(fs, new Path(staged),
      new Path(s"$indexPath/groups"), untouchedDirs)
    // invalidate the session's cached file listing (see initGroups)
    spark.catalog.refreshByPath(s"$indexPath/groups")
  }
}
