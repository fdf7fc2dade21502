package graft

import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sources.Ingest
import graft.streaming.DocStream

/** The persisted DSIR LUT artifact (r10): train-once-serve-many with
  * fingerprint drift detection — a corpus refresh forces a retrain, a
  * no-op append does not, and the artifact serves the exact rows a
  * fresh training produces (so the proven stream ≡ batch scoring
  * carries over unchanged). The temp corpora and the artifacts trained
  * on them are deleted after the suite.
  */
class DsirArtifactSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkSuite._

  private val made = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit =
    try made.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    finally super.afterAll()

  /** The corpus's installed artifact, recorded for deletion. */
  private def artifactOf(corpus: String): String = {
    val a = TextAnalysis.dsirLutArtifact(spark, corpus)
    made += a
    a
  }

  private def freshCorpus(): String = {
    val root = Files.createTempDirectory("graft-dsir-corpus").toString
    made += root
    val path = root + "/docs"
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), col("text"))
    Ingest.appendCorpus(docs.filter(col("doc_id") % 3 =!= 2), path)
    path
  }

  private def lutRows(artifact: String): Seq[(Long, Long)] =
    TextAnalysis.loadDsirLut(spark, artifact).toSeq

  test("artifact rows == fresh training; second call serves the cache") {
    val corpus = freshCorpus()
    val a1 = artifactOf(corpus)
    val want = TextAnalysis.dsirLutOf(spark.read.parquet(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(lutRows(a1) === want)
    // the marker predates the second call and survives it: served, not rebuilt
    val marker = java.nio.file.Paths.get(a1, "_complete")
    val mtime = java.nio.file.Files.getLastModifiedTime(marker)
    val a2 = artifactOf(corpus)
    assert(a2 === a1)
    assert(java.nio.file.Files.getLastModifiedTime(marker) === mtime)
  }

  test("corpus refresh invalidates; no-op append does not") {
    val corpus = freshCorpus()
    val a1 = artifactOf(corpus)
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), col("text"))

    // no-op append: every doc_id already present → zero rows written,
    // files untouched, artifact still valid
    val n0 = Ingest.appendCorpus(docs.filter(col("doc_id") % 3 =!= 2), corpus)
    assert(n0 === 0L)
    assert(artifactOf(corpus) === a1)

    // real refresh: new docs land → fingerprint changes → retrain, and
    // the new artifact equals a fresh training on the GROWN corpus
    val n1 = Ingest.appendCorpus(docs.filter(col("doc_id") % 3 === 2), corpus)
    assert(n1 > 0L)
    val a2 = artifactOf(corpus)
    assert(a2 !== a1)
    val wantGrown = TextAnalysis.dsirLutOf(spark.read.parquet(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(lutRows(a2) === wantGrown)
    // the stale artifact is untouched (older readers finish their scan)
    assert(lutRows(a1) !== wantGrown)
  }

  test("artifact LUT scores streams exactly like a freshly trained LUT") {
    val corpus = freshCorpus()
    val artifact = artifactOf(corpus)
    val fresh = TextAnalysis.dsirLutOf(spark.read.parquet(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, Sf).limit(50)
    val a = docs.select(col("doc_id"),
        DocStream.dsirScore(TextAnalysis.loadDsirLut(spark, artifact))(col("text")))
      .collect().map(_.toString).sorted.toSeq
    val b = docs.select(col("doc_id"), DocStream.dsirScore(fresh)(col("text")))
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }
}
