package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, IndexMaintenance, IvfIndex, Layout, LexIndex, LshAnn, PqIndex}
import graft.streaming.IndexStream

/** Layout identity of the six index families, for a change to how a
  * persisted layout is written (see the verify skill's "Layout
  * identity"). Copy this file into `src/main/scala/graft/` of a scratch
  * checkout of each side and run
  *
  *   sbt -batch "runMain graft.LayoutIdentity <sf dir> <workdir>"
  *
  * It writes the rows whose id is not ≡ 3 mod 4 as a corpus dir of
  * their own and the held-out ids ≡ 3 mod 4 as two stream sources, and
  * per family builds the layout, tries a parquet-sink append into the
  * batch-built base (it must be refused) and stream-appends the
  * held-out slice into `IndexMaintenance.nextEpochDir`. After the build
  * and after the append it writes to `<workdir>/identity.txt`, per
  * table, its rows, `sum(xxhash64(*))`, schema and every data dir's
  * footer rows and file count; `<workdir>/digest.txt` holds one line
  * per (family, step, table) with its total file count.
  */
object LayoutIdentity {
  def main(args: Array[String]): Unit = {
    val Array(sf, work) = args
    val spark = SparkSession.builder().master("local[4]").appName("layout-identity")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(work), true)
    val full = new StringBuilder
    val digest = new StringBuilder
    def out(s: String): Unit = full.append(s.replace(work, "<work>")).append('\n')

    val corpus = s"$work/corpus"
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    emb.filter(pmod(col("vec_id"), lit(4)) =!= 3).write.parquet(s"$corpus/embeddings.parquet")
    docs.filter(pmod(col("doc_id"), lit(4)) =!= 3).write.parquet(s"$corpus/documents.parquet")
    emb.filter(pmod(col("vec_id"), lit(4)) === 3).select("vec_id", "embedding")
      .write.parquet(s"$work/in_vectors/w0")
    docs.filter(pmod(col("doc_id"), lit(4)) === 3).select("doc_id", "text")
      .write.parquet(s"$work/in_docs/w0")

    def dataDirs(root: Path): Seq[(Path, Seq[Path])] = {
      val here = fs.listStatus(root).toSeq
      val files = here.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
      val sub = here.filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName).flatMap(st => dataDirs(st.getPath))
      (if (files.nonEmpty) Seq(root -> files) else Nil) ++ sub
    }
    def footerRows(p: Path): Long = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }
    def snapshot(name: String, step: String, idx: String): Unit = {
      val tag = s"[$name/$step]"
      val tables = fs.listStatus(new Path(idx)).filter(_.isDirectory).map(_.getPath.getName).sorted
      out(s"$tag dirs: ${tables.mkString(" ")}")
      tables.foreach { t =>
        val df: DataFrame = spark.read.parquet(s"$idx/$t")
        val rows = df.count()
        val hash = df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
          .head().get(0)
        val schema = df.schema.simpleString
        out(s"$tag $t rows=$rows hash=$hash schema=$schema")
        val dirs = dataDirs(new Path(s"$idx/$t"))
        dirs.foreach { case (d, files) =>
          val rel = d.toString.substring(d.toString.indexOf(s"/$t") + 1)
          out(s"$tag   $rel rows=${files.map(footerRows).sum} files=${files.size}")
        }
        digest.append(s"$tag $t rows=$rows hash=$hash schema=$schema " +
          s"files=${dirs.map(_._2.size).sum}\n")
      }
      out(s"$tag served=${IndexMaintenance.vectorsDf(spark, idx).count()}")
    }

    val families: Seq[(String, Layout, String => Unit, Boolean)] = Seq(
      ("ivf", Layout.Ivf, IvfIndex.writeIndex(spark, corpus, _), true),
      ("pq", Layout.Pq, PqIndex.writeIndex(spark, corpus, _), true),
      ("residual", Layout.Residual, PqIndex.writeResidualIndex(spark, corpus, _), true),
      ("lsh", Layout.Lsh, LshAnn.writeIndex(spark, corpus, _), true),
      ("band", Layout.Band, DedupIndex.writeBandIndex(spark, corpus, _), false),
      ("lex", Layout.Lex, idx => LexIndex.writeIndexOf(
        Tables.fanOut(Tables.documents(spark, corpus)).select(col("doc_id"), col("text")),
        idx, maxDfFraction = 0.2), false))
    families.foreach { case (name, layout, build, vectorInput) =>
      val idx = s"$work/$name"
      build(idx)
      snapshot(name, "built", idx)
      val (in, schema) =
        if (vectorInput) (s"$work/in_vectors", emb.select("vec_id", "embedding").schema)
        else (s"$work/in_docs", docs.select("doc_id", "text").schema)
      def stream() = spark.readStream.schema(schema).parquet(s"$in/w*")
      val refused =
        try {
          IndexStream.append(spark, layout, idx, stream(), s"$work/$name.ckpt_base").stop()
          "accepted"
        } catch { case e: IllegalStateException => s"refused: ${e.getMessage.take(100)}" }
      out(s"[$name] base append: $refused")
      val epoch = IndexMaintenance.nextEpochDir(spark, idx)
      out(s"[$name] epoch: $epoch")
      val q = IndexStream.append(spark, layout, idx, stream(), s"$work/$name.ckpt", epoch)
      try q.processAllAvailable() finally q.stop()
      snapshot(name, "appended", idx)
    }
    def write(file: String, s: StringBuilder): Unit = {
      val o = fs.create(new Path(s"$work/$file"), true)
      try o.write(s.toString.getBytes("UTF-8")) finally o.close()
    }
    write("identity.txt", full)
    write("digest.txt", digest)
    spark.stop()
  }
}
