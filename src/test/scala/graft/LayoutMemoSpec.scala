package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IvfIndex, SearchApi}
import graft.streaming.IndexStream

/** The per-session layout memo ([[IndexMaintenance.layoutDf]], and
  * [[IndexMaintenance.layoutCollect]] for the collected centroids) and
  * the fork-free listing walk both validate with. Pins: a memoized serving
  * path stays exact across every way a layout changes under it
  * (stream-appended epoch, compaction, rebalance); an unchanged layout
  * reuses one resolved file index and a changed listing resolves a new
  * one, for a layout directory and a single-file table alike; the
  * walk lists exactly what Hadoop's recursive `listFiles`
  * lists; and no `listFiles` call is left in `src/main`.
  */
class LayoutMemoSpec extends AnyFunSuite {
  import SparkSuite._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def fileIndexes(df: DataFrame): Seq[FileIndex] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location }

  private val queryTexts = Seq(
    "vector search data pipelines",
    "distributed joins",
    "stream window order")

  test("a memoized serving path stays exact through append, compaction and rebalance") {
    import spark.implicits._
    // the index starts from the even vec_ids; the odd ones stream in
    val half = tmp("graft-memo-half")
    val vecs = Tables.embeddings(spark, Sf)
    vecs.filter(pmod(col("vec_id"), lit(2)) === 0)
      .write.parquet(s"$half/embeddings.parquet")
    Tables.documents(spark, Sf).write.parquet(s"$half/documents.parquet")
    val idx = tmp("graft-memo-idx")
    IvfIndex.writeIndex(spark, half, idx)
    val queries = queryTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")

    def serve(): Seq[String] =
      SearchApi.searchManyIndexed(spark, Sf, idx, queries, nprobe = Int.MaxValue)
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(6))).map(_.toString)
    def brute(corpus: String): Seq[String] =
      queryTexts.zipWithIndex.flatMap { case (t, i) =>
        SearchApi.search(spark, corpus, t)
          .withColumn("query_id", lit(i.toLong))
          .select("query_id", "doc_id", "score", "logit", "prob", "label",
            "rerank_rank", "lang", "text")
          .collect().toSeq.sortBy(_.getLong(6)).map(_.toString)
      }
    def baseIndex() =
      fileIndexes(IndexMaintenance.vectorsDf(spark, idx)).head

    val halfWant = brute(half)
    assert(halfWant.nonEmpty)
    assert(serve() === halfWant)
    val first = baseIndex()
    assert(serve() === halfWant, "second call on an unchanged layout")
    assert(baseIndex() eq first, "an unchanged layout reuses its file index")
    assert(fileIndexes(IndexMaintenance.layoutDf(spark, s"$idx/centroids")).head eq
      fileIndexes(IndexMaintenance.layoutDf(spark, s"$idx/centroids")).head)

    // stream the odd vec_ids into a fresh epoch next to the base
    val staging = tmp("graft-memo-staging")
    val ckpt = tmp("graft-memo-ckpt")
    vecs.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id", "embedding")
      .write.parquet(s"$staging/wave1")
    val stream = spark.readStream.schema(vecs.select("vec_id", "embedding").schema)
      .parquet(s"$staging/wave*")
    val q = IndexStream.appendToIndex(spark, idx, stream, ckpt,
      sinkDir = IndexMaintenance.nextEpochDir(spark, idx))
    try q.processAllAvailable() finally q.stop()
    val fullWant = brute(Sf)
    assert(fullWant !== halfWant, "the appended rows must change some answer")
    assert(serve() === fullWant, "after the epoch append")
    assert(fileIndexes(IndexMaintenance.vectorsDf(spark, idx)).size === 2)

    IndexMaintenance.compactIndex(spark, idx)
    assert(serve() === fullWant, "after compaction")
    val compacted = baseIndex()
    assert(!(compacted eq first), "a changed listing resolves a new file index")
    assert(fileIndexes(IndexMaintenance.vectorsDf(spark, idx)).size === 1)

    IndexMaintenance.rebalanceIndex(spark, idx)
    assert(serve() === fullWant, "after rebalance")
  }

  test("collected centroids are held while unchanged and re-collected when rewritten") {
    import spark.implicits._
    val idx = tmp("graft-memo-cents")
    def install(ids: Seq[Long]): Unit =
      ids.map(i => (i, Seq(i.toDouble, 0.0))).toDF("cluster_id", "cvec")
        .write.mode("overwrite").parquet(s"$idx/centroids")
    install(Seq(0L, 1L))
    val first = IvfIndex.installedCentroids(spark, idx)
    assert(first._1.sorted.toSeq === Seq(0L, 1L))
    val jobs = JobCounts.of(assert(IvfIndex.installedCentroids(spark, idx) eq first))
    assert(jobs === 0, "a warm collect runs no Spark job")
    install(Seq(0L, 1L, 2L))
    val rewritten = IvfIndex.installedCentroids(spark, idx)
    assert(rewritten._1.sorted.toSeq === Seq(0L, 1L, 2L))
    assert(rewritten._2.map(_.toSeq).sortBy(_.head).toSeq ===
      Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(2.0, 0.0)))
  }

  test("a streaming sink commit changes the signature the memo validates") {
    val sink = tmp("graft-memo-sink")
    val staging = tmp("graft-memo-sink-in")
    val ckpt = tmp("graft-memo-sink-ckpt")
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    vecs.filter(col("vec_id") < 10).write.parquet(s"$staging/w0")
    def run(): Unit = {
      val q = spark.readStream.schema(vecs.schema).parquet(s"$staging/w*")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val sig0 = IndexMaintenance.filesSig(spark, sink)
    val df0 = IndexMaintenance.layoutDf(spark, sink)
    assert(df0.count() === 10)
    assert(IndexMaintenance.layoutDf(spark, sink) eq df0)
    vecs.filter(col("vec_id") >= 10 && col("vec_id") < 15).write.parquet(s"$staging/w1")
    run()
    assert(IndexMaintenance.filesSig(spark, sink) !== sig0)
    val df1 = IndexMaintenance.layoutDf(spark, sink)
    assert(!(df1 eq df0))
    assert(df1.count() === 15)
  }

  test("a plain parquet file resolves once while unchanged; a rewrite resolves it afresh") {
    import spark.implicits._
    val dir = tmp("graft-memo-plain")
    def partFile(rows: Int): java.nio.file.Path = {
      val out = s"$dir/w$rows"
      (0 until rows).map(_.toLong).toDF("id").coalesce(1).write.parquet(out)
      new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    val file = java.nio.file.Paths.get(s"$dir/table.parquet")
    Files.move(partFile(3), file)
    val first = IndexMaintenance.layoutDf(spark, file.toString)
    assert(first.count() === 3)
    assert(fileIndexes(IndexMaintenance.layoutDf(spark, file.toString)).head eq
      fileIndexes(first).head, "an unchanged plain file reuses its file index")
    Files.move(partFile(5), file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val rewritten = IndexMaintenance.layoutDf(spark, file.toString)
    assert(!(fileIndexes(rewritten).head eq fileIndexes(first).head),
      "a rewritten plain file resolves a new file index")
    assert(rewritten.count() === 5)
  }

  test("a missing path or a plain file falls through to a plain read") {
    val missing = s"${tmp("graft-memo-missing")}/nope"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val memo = intercept[Exception](IndexMaintenance.layoutDf(spark, missing))
    assert(memo.getClass === plain.getClass)
    val file = Files.createTempFile("graft-memo", ".txt").toString
    Files.write(java.nio.file.Paths.get(file), "not parquet".getBytes("UTF-8"))
    val plainF = intercept[Exception](spark.read.parquet(file))
    val memoF = intercept[Exception](IndexMaintenance.layoutDf(spark, file))
    assert(memoF.getClass === plainF.getClass)
  }

  test("the listing walk returns exactly what recursive listFiles returns") {
    import spark.implicits._
    val root = tmp("graft-memo-walk")
    // nested partition dirs, _SUCCESS, a sink log and .crc side files
    Seq((1L, 0, "a"), (2L, 1, "b"), (3L, 1, "c"), (4L, 2, "a"))
      .toDF("id", "p", "q")
      .write.partitionBy("p", "q").parquet(s"$root/layout")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = fs.create(new Path(s"$root/layout/_spark_metadata/0"))
    try log.write("v1\n".getBytes("UTF-8")) finally log.close()
    def viaListFiles(p: Path): Set[(String, Long, Long)] = {
      val it = fs.listFiles(p, true)
      val out = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        out += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      out.result()
    }
    def viaWalk(p: Path): Set[(String, Long, Long)] =
      IndexMaintenance.filesUnder(fs, p)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    val layout = new Path(s"$root/layout")
    val want = viaListFiles(layout)
    assert(viaWalk(layout) === want)
    val names = want.map(e => new Path(e._1).getName)
    assert(names.contains("_SUCCESS"))
    assert(want.exists(_._1.contains("/_spark_metadata/0")))
    assert(want.exists(_._1.contains("/p=1/q=c/")))
    assert(!names.exists(_.endsWith(".crc")))
    // a plain-file root lists itself; a missing root throws alike
    val part = new Path(want.find(_._1.endsWith(".parquet")).get._1)
    assert(viaWalk(part) === viaListFiles(part))
    val gone = new Path(s"$root/gone")
    intercept[java.io.FileNotFoundException](viaListFiles(gone))
    intercept[java.io.FileNotFoundException](viaWalk(gone))
    // the signature string is the listing's path:length:mtime, sorted
    assert(IndexMaintenance.filesSig(spark, layout.toString) ===
      want.toSeq.map { case (p, l, m) => s"$p:$l:$m" }.sorted.mkString(";"))
  }

  test("no recursive Hadoop listFiles call is left in src/main") {
    val srcs = Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(srcs.length > 50)
    // java.io.File#listFiles() takes no argument; Hadoop's takes two
    val call = """(listFiles|listLocatedStatus)\((?!\))""".r
    val hits = srcs.toSeq.flatMap { f =>
      scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().zipWithIndex
        .collect { case (l, i) if call.findFirstIn(l).isDefined => s"$f:${i + 1}: $l" }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
