package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IvfIndex, LexIndex, LexicalSearch, SearchApi}

/** The fold path compaction, rebalance and maintain share. Pins: the
  * `_graft_compacted` marker format — a literal marker written the way
  * earlier releases wrote it reads the same (next epoch, folded batch
  * ranges, manifest, non-numeric `partx=` values containing `:`), and
  * a compaction writes exactly the expected text; and the reconcile a
  * fold runs first — a swap that crashed between its renames (staged
  * dir present, staged dir with a keep manifest, or only the aside
  * copy left) is rolled forward or back, so maintain succeeds and
  * full-coverage serving returns the pre-crash rows; the same holds for
  * the swaps of a lexical rebuild (`vectors_staging`, `stats_staging`).
  */
class MaintenanceFoldSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def copy(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(from).getFileSystem(conf)
    assert(FileUtil.copy(fs, new Path(from), fs, new Path(to), false, conf))
  }

  private def file(p: String) = new java.io.File(p)

  private def vecs(ids: Range, cluster: Option[Long]) =
    ids.map(i => (i.toLong, Array(i * 0.5f, 1f), cluster))
      .toDF("vec_id", "embedding", "cluster_id")

  test("the on-disk marker format: a literal marker reads as before; compaction writes it exactly") {
    val idx = tmp("graft-fold-marker")
    // base: cluster 0 (10 rows), 1 (5 rows) and a null key (2 rows),
    // one file per value
    vecs(0 until 10, Some(0L)).union(vecs(10 until 15, Some(1L)))
      .union(vecs(15 until 17, None))
      .coalesce(1).write.partitionBy("cluster_id").parquet(s"$idx/vectors")
    write(s"$idx/vectors/_graft_compacted",
      """7
        |folded=2,3
        |foldedbatches=0-4,6
        |partcol=cluster_id
        |part=0:10:2
        |part=1:5:1
        |partx=x:y:3
        |""".stripMargin)
    // a folded leftover (its epoch is in folded=): never served
    vecs(100 until 104, None).drop("cluster_id").withColumn("cluster_id", lit(0L))
      .coalesce(1).write.partitionBy("cluster_id").parquet(s"$idx/vectors_e3/batch=5")

    assert(IndexMaintenance.nextEpochDir(spark, idx).endsWith("/vectors_e7"))
    val folded = (0L to 10L).filter(b => IndexMaintenance.isBatchFolded(spark, idx, b))
    assert(folded === Seq(0L, 1L, 2L, 3L, 4L, 6L))
    // the decision reads the manifest alone: files 2 + 1, plus 3 for
    // the non-numeric value "x:y"; sizes 10 and 5 keep
    val none = IndexMaintenance.maintain(spark, idx)
    assert(none === IndexMaintenance.MaintainReport("none", 6L, 6L, 10L, 7.5, None, 0L))

    // a serving epoch: one footer read, and it routes to compaction
    vecs(20 until 23, None).drop("cluster_id").withColumn("cluster_id", lit(1L))
      .coalesce(1).write.partitionBy("cluster_id").parquet(s"$idx/vectors_e7/batch=9")
    assert(IndexMaintenance.nextEpochDir(spark, idx).endsWith("/vectors_e8"))
    val fold = IndexMaintenance.maintain(spark, idx)
    assert(fold === IndexMaintenance.MaintainReport("compact", 7L, 3L, 10L, 9.0, None, 1L))
    assert(read(s"$idx/vectors/_graft_compacted") ===
      """8
        |folded=2,3,7
        |foldedbatches=0-4,6,9
        |partcol=cluster_id
        |part=0:10:1
        |part=1:8:1
        |partx=__HIVE_DEFAULT_PARTITION__:1
        |""".stripMargin)
    assert(IndexMaintenance.isBatchFolded(spark, idx, 9L))
    assert(IndexMaintenance.nextEpochDir(spark, idx).endsWith("/vectors_e8"))
    assert(IndexMaintenance.vectorsDf(spark, idx).count() === 20L)
    val settled = IndexMaintenance.maintain(spark, idx)
    assert(settled === IndexMaintenance.MaintainReport("none", 3L, 3L, 10L, 9.0, None, 0L))
  }

  private val queryTexts = Seq(
    "vector search data pipelines",
    "distributed joins",
    "stream window order")

  test("a fold that crashed mid-swap is reconciled: maintain succeeds, serving is unchanged") {
    val queries = queryTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")
    def serve(idx: String): Seq[String] =
      SearchApi.searchManyIndexed(spark, Sf, idx, queries, nprobe = Int.MaxValue)
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(6))).map(_.toString)

    val src = s"${tmp("graft-fold-crash-src")}/idx"
    IvfIndex.writeIndex(spark, Sf, src)
    val want = serve(src)
    assert(want.nonEmpty)
    // what a completed compaction installs: the staged content of the
    // crashed folds below
    val ref = s"${tmp("graft-fold-crash-ref")}/idx"
    copy(src, ref)
    IndexMaintenance.compactIndex(spark, ref)

    def crashed(name: String)(breakSwap: String => Unit): Unit = {
      val idx = s"${tmp(s"graft-fold-crash-$name")}/idx"
      copy(src, idx)
      breakSwap(idx)
      assert(!file(s"$idx/vectors").exists() || !file(s"$idx/centroids").exists())
      val r = IndexMaintenance.maintain(spark, idx)
      assert(serve(idx) === want, s"$name: $r")
      Seq("vectors_old", "vectors_compacting", "centroids_old",
          "centroids_rebalancing", "vectors/_graft_keep_dirs").foreach { left =>
        assert(!file(s"$idx/$left").exists(), s"$name left $left behind")
      }
    }

    // the swap died between its two renames: roll forward
    crashed("staged") { idx =>
      copy(s"$ref/vectors", s"$idx/vectors_compacting")
      assert(file(s"$idx/vectors").renameTo(file(s"$idx/vectors_old")))
    }
    // a partition-selective swap died mid-flight: the staged dir holds
    // the touched partitions and the keep manifest, one keep dir has
    // already crossed, the others are still in the aside copy — roll
    // forward
    crashed("keep") { idx =>
      val dirs = file(s"$idx/vectors").listFiles().filter(_.isDirectory)
        .map(_.getName).sorted.toSeq
      val (keeps, touched) = dirs.partition(d => d.stripPrefix("cluster_id=").toLong % 2 == 1)
      assert(keeps.size >= 2 && touched.nonEmpty, "degenerate split — pin is vacuous")
      touched.foreach(d => copy(s"$ref/vectors/$d", s"$idx/vectors_compacting/$d"))
      write(s"$idx/vectors_compacting/_graft_keep_dirs", keeps.mkString("\n"))
      assert(file(s"$idx/vectors").renameTo(file(s"$idx/vectors_old")))
      assert(file(s"$idx/vectors_old/${keeps.head}")
        .renameTo(file(s"$idx/vectors_compacting/${keeps.head}")))
    }
    // the swap died after the aside rename, before any staged dir was
    // complete: roll back
    crashed("aside") { idx =>
      assert(file(s"$idx/vectors").renameTo(file(s"$idx/vectors_old")))
    }
    // the same for rebalance's second swap, the centroids table
    crashed("centroids") { idx =>
      assert(file(s"$idx/centroids").renameTo(file(s"$idx/centroids_old")))
    }
  }

  test("a lexical rebuild that crashed mid-swap is reconciled: maintain succeeds, serving is unchanged") {
    def serve(idx: String): Seq[String] =
      LexIndex.searchTerms(spark, idx, LexicalSearch.QueryTerms).collect().toSeq.map(_.toString)
    val src = s"${tmp("graft-lex-crash-src")}/idx"
    LexIndex.writeIndex(spark, Sf, src)
    val want = serve(src)
    assert(want.nonEmpty)

    def crashed(table: String): Unit = {
      val idx = s"${tmp(s"graft-lex-crash-$table")}/idx"
      copy(src, idx)
      // the rebuild staged `table` and moved the serving copy aside
      copy(s"$idx/$table", s"$idx/${table}_staging")
      assert(file(s"$idx/$table").renameTo(file(s"$idx/${table}_old")))
      val r = IndexMaintenance.maintain(spark, idx)
      assert(serve(idx) === want, s"$table: $r")
      Seq("vectors", "stopterms", "stats").flatMap(t => Seq(s"${t}_old", s"${t}_staging"))
        .foreach(left => assert(!file(s"$idx/$left").exists(), s"$table left $left behind"))
    }
    crashed("vectors")
    crashed("stopterms")
    crashed("stats")
  }
}
