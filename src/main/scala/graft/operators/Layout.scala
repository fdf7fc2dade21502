package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted index family's layout: the partition column of its
  * `indexPath/vectors` rows, and the one row projection from input rows
  * to layout rows against the metadata persisted under the index path.
  * The batch builders persist their metadata first and then
  * [[writeVectors]]; [[graft.streaming.IndexStream.append]] projects
  * each micro-batch with the same [[rows]], so streamed rows are
  * byte-identical to batch-built ones by construction. Builds and
  * epoch batches write through [[Layout.write]], already in the shape
  * a compaction leaves; [[IndexMaintenance]] folds every family by its
  * [[partCol]] alone, through the same writer.
  */
final class Layout private (val partCol: String,
    project: (SparkSession, String, DataFrame) => DataFrame) {

  /** The layout rows of `input` against the metadata under `indexPath`,
    * read once, here: a stream keeps the metadata it started with.
    */
  def rows(indexPath: String, input: DataFrame): DataFrame =
    project(input.sparkSession, indexPath, input)

  /** Overwrite `dir` with `rows` partitioned by [[partCol]]
    * ([[Layout.write]]): a base layout, a staged lexical rebuild and a
    * streamed epoch batch.
    */
  def write(rows: DataFrame, dir: String): Unit = Layout.write(rows, partCol, dir)

  /** Write the layout rows of `input` to `indexPath/vectors`. */
  def writeVectors(indexPath: String, input: DataFrame): Unit =
    write(rows(indexPath, input), s"$indexPath/vectors")
}

object Layout {

  /** The one writer of a partitioned layout: overwrite `dir` with
    * `rows` shuffled to one task per `partCol` value (values sharing a
    * hash task still get files of their own) and the writer rolling to
    * a new part-file every `rowsPerFile` records, so each value holds
    * ⌈rows/rowsPerFile⌉ files whatever the input's task count. Without
    * the shuffle every write task leaves one file per value it holds —
    * tasks × values files, each paying a writer, a checksum file and
    * `chmod` forks on a local file system. Builds, epoch batches, the
    * [[IndexMaintenance]] folds and [[graft.sources.Ingest.compactCorpus]]
    * all write through it.
    */
  def write(rows: DataFrame, partCol: String, dir: String,
      rowsPerFile: Long = 1L << 20): Unit =
    rows.repartition(col(partCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy(partCol).parquet(dir)

  private def meta(spark: SparkSession, indexPath: String, table: String): DataFrame =
    spark.read.parquet(s"$indexPath/$table")

  /** IVF: (vec_id, embedding, cluster_id) of the nearest persisted
    * centroid. The centroids stay fixed between re-trainings while the
    * inverted lists grow (the Qdrant/Faiss operational model).
    */
  val Ivf = new Layout("cluster_id", (spark, indexPath, vecs) =>
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("cluster_id",
        IvfIndex.nearest(col("embedding"), meta(spark, indexPath, "centroids"))
          .getField("cluster_id")))

  /** PQ: cluster and byte codes against the persisted centroids and
    * `cvec` codebooks, both fixed between re-trainings like IVF's.
    */
  val Pq = new Layout("cluster_id", (spark, indexPath, vecs) =>
    PqIndex.indexRows(vecs, meta(spark, indexPath, "centroids"),
      PqIndex.codebookMetaOf(meta(spark, indexPath, "codebooks"), "cvec")))

  /** Residual IVFPQ: cluster and residual codes against the persisted
    * centroids and `rcvec` codebooks.
    */
  val Residual = new Layout("cluster_id", (spark, indexPath, vecs) =>
    PqIndex.residualIndexRows(vecs, meta(spark, indexPath, "centroids"),
      PqIndex.codebookMetaOf(meta(spark, indexPath, "codebooks"), "rcvec")))

  /** LSH: the hyperplanes are derived deterministically; no metadata. */
  val Lsh = new Layout("bucket", (_, _, vecs) => LshAnn.bucketedOf(vecs))

  /** Near-dup band index: (doc_id, band, sig) of (doc_id, text) rows. */
  val Band = new Layout("band", (_, _, docs) => Dedup.bandSignaturesOf(docs))

  /** BM25 postings of (doc_id, text) rows, tier-aware: postings of the
    * terms the last build tiered out are dropped map-side against the
    * bounded, broadcast `stopterms` table. Without it one streamed doc
    * carrying a stop-term re-grows that term's corpus-scale posting list
    * in a single hash bucket until the next rebuild. The stop set is
    * frozen when [[rows]] is called (the centroids-between-retrainings
    * lifecycle); a NEW term crossing the tier is what
    * [[LexIndex.needsRetier]] bounds and `maintain` routes to a rebuild.
    * Corpus stats are metadata the caller folds per ingest batch
    * ([[LexIndex.addToStats]]).
    */
  val Lex = new Layout("bucket", (spark, indexPath, docs) => {
    val postings = LexIndex.postingsOf(docs)
    val stop = new org.apache.hadoop.fs.Path(s"$indexPath/stopterms")
    if (stop.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(stop))
      postings.join(broadcast(meta(spark, indexPath, "stopterms").select(col("term"))),
        Seq("term"), "left_anti")
    else postings
  })

  /** Every family's partition column, in the order a schema is matched. */
  val partCols: Seq[String] = Seq(Ivf, Pq, Residual, Lsh, Band, Lex).map(_.partCol).distinct
}
