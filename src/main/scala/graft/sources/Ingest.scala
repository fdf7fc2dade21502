package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Chunker, IndexMaintenance}

/** Ingest surface (SURVEY.md §1 step 1-2, the Spark re-expression of
  * the reference's crawl→parse→markdown ingest): read raw document
  * batches from JSONL / CSV / plain text, normalize into the canonical
  * documents schema, and write the corpus partitioned for downstream
  * pruning.
  *
  * Scale: schema is supplied explicitly (no inference pass over 100 TB)
  * and cleaning is per-row column math; the partitioned writer gives
  * `lang=` directory pruning to every downstream lang-filtered query.
  */
object Ingest {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** Cleanup + derived columns shared by all formats. */
  def normalize(raw: DataFrame): DataFrame =
    raw.withColumn("text", Chunker.cleanText(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .filter(col("text").isNotNull && length(col("text")) > 0)

  def fromJsonl(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(docSchema).json(path))

  def fromCsv(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.option("header", "true").schema(docSchema).csv(path))

  /** Plain-text lines: one document per line. doc_id is derived from
    * the CONTENT (xxhash64(source, text)), not monotonically_increasing_id:
    * positional ids depend on the partition layout, so re-ingesting the
    * same file assigned fresh ids and appendCorpus's anti-join saw every
    * line as new — duplicating the whole file (r9 review). Identical
    * lines share an id and collapse to one document, which is the
    * content-dedup contract the ingest exists for.
    */
  def fromText(spark: SparkSession, path: String, source: String): DataFrame =
    normalize(spark.read.text(path)
      .select(xxhash64(lit(source), col("value")).as("doc_id"),
        col("value").as("text"), lit("und").as("lang"), lit(source).as("source")))
      .dropDuplicates("doc_id")

  /** Downloaded newsletter HTML pages → markdown documents — the
    * reference's actual ingest front door (markdown_assets.py:30-94):
    * one file per issue, filename `{slug}_{hash}.html` where the slug
    * leads with the issue date as `{month-name}-{day}-{year}` (the
    * reference parses it with strptime "%B-%d-%Y",
    * markdown_assets.py:44-54). Reads whole files, extracts the
    * `page__header` h1 title and `page__content` div, converts to
    * markdown ([[graft.operators.Newsletter.htmlToMarkdown]]), and
    * derives the issue date from the filename. The result feeds
    * [[graft.operators.Newsletter.parseNewsletter]] directly.
    *
    * doc_id is a stable 60-bit prefix of md5(filename) — deterministic
    * across re-ingests, so [[appendCorpus]]'s idempotence holds for
    * re-downloaded issues. Scale: wholetext reading gives one task per
    * file; every transform after the read is per-row column math.
    */
  def fromHtml(spark: SparkSession, path: String): DataFrame =
    htmlDocs(spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("path"), col("value").as("html")))

  /** The per-file transform shared by [[fromHtml]] and the streaming
    * ingest (streaming/NewsletterStream) — one code path, so backfill
    * and live tail cannot drift. Input: (path, html) rows.
    */
  def htmlDocs(files: DataFrame): DataFrame = {
    import graft.operators.Newsletter
    val named = files
      .withColumn("fname", regexp_extract(col("path"), "([^/]+)\\.html$", 1))
    val slugDate = named
      // "march-4-2024-three-things_ab12cd.html" → ["march","4","2024"]
      .withColumn("dparts",
        slice(split(substring_index(col("fname"), "_", 1), "-"), 1, 3))
      .withColumn("issue_date",
        date_format(try_to_date(
          concat_ws("-", initcap(element_at(col("dparts"), 1)),
            element_at(col("dparts"), 2), element_at(col("dparts"), 3)),
          "MMMM-d-yyyy"), "yyyy-MM-dd"))
    slugDate.select(
      // 15 hex chars = 60 bits — collision-safe far past any issue count
      conv(substring(md5(col("fname")), 1, 15), 16, 10).cast("long").as("doc_id"),
      Newsletter.htmlToMarkdown(col("html")).as("md_text"),
      col("issue_date"), col("fname").as("source_file"))
  }

  /** Canonical corpus layout: parquet partitioned by lang. */
  def writeCorpus(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)

  /** The not-yet-ingested subset of `batch`: an anti-join against the
    * corpus's doc_id column (the Spark twin of the reference's
    * `new_newsletter_urls` only-new-items filter,
    * download_assets.py:62-74). The corpus side is pruned to its key
    * column at the scan; at 100 TB the same idempotence is usually had
    * even cheaper with a Structured Streaming file source whose
    * checkpoint tracks seen files — this is the content-level variant
    * that also survives re-delivered/renamed batches.
    */
  def newDocs(batch: DataFrame, corpusPath: String): DataFrame = {
    val spark = batch.sparkSession
    // ONLY a missing corpus means "everything is new": swallowing every
    // read failure here silently disabled dedup on a transient store
    // error and appendCorpus wrote duplicates (r9 review) — any other
    // failure must propagate
    val existing =
      try spark.read.parquet(corpusPath).select("doc_id")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getErrorClass == "PATH_NOT_FOUND" ||
              String.valueOf(e.getMessage).contains("Path does not exist") =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_id", LongType))))
      }
    batch.join(existing, Seq("doc_id"), "left_anti")
  }

  /** Idempotent incremental append: ingest only docs whose doc_id is not
    * already in the corpus, returning how many were written. Re-running
    * the same batch appends nothing (IngestSpec proves it).
    */
  def appendCorpus(batch: DataFrame, corpusPath: String): Long = {
    // lineage MUST be severed before writing: the anti-join plan reads
    // corpusPath, and appending to a path a running plan still reads is
    // a correctness race if any task recomputes mid-write. The delta is
    // batch-sized (small), so materializing it is the right call here.
    val fresh = graft.Checkpointing.cut(newDocs(batch, corpusPath))
    val n = fresh.count()
    if (n > 0)
      fresh.write.mode("append").partitionBy("lang").parquet(corpusPath)
    fresh.unpersist()
    n
  }

  /** Compact the corpus: incremental appends accumulate one small file
    * per (batch × partition), and at 100 TB the resulting
    * file-per-few-rows layout dominates scan cost with open/footer
    * overhead. Rewrite each lang partition into ceil(rows/rowsPerFile)
    * files through the staged rewrite the index folds use
    * ([[IndexMaintenance.writeStaged]]), then swap it in with
    * [[IndexMaintenance.atomicSwap]], so readers never see a
    * half-compacted corpus and a crash at any step leaves every row on
    * disk. Returns the file count after compaction.
    */
  def compactCorpus(spark: SparkSession, corpusPath: String,
      rowsPerFile: Long = 1L << 20): Long = {
    val tmp = corpusPath + "_compacting"
    IndexMaintenance.writeStaged(spark.read.parquet(corpusPath), "lang", rowsPerFile, tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.atomicSwap(fs,
      new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(corpusPath))
    IndexMaintenance.parquetFileCount(spark, corpusPath)
  }
}
