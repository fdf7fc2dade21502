package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexMaintenance

/** r12: the shared install-once cached-layout core (bandIndexFor /
  * lexIndexFor / residualIndexFor / dropStateFor / ivfIndexFor all ride
  * it). Pins: build runs once per fingerprint; a crashed partial (base
  * present, no `_complete` marker) is cleared and rebuilt rather than
  * served; a build that throws leaves no staging dir; different
  * fingerprints get different installs. Every install under a spec
  * prefix is deleted after the suite.
  */
class CachedLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkSuite._

  private val prefixes = scala.collection.mutable.ArrayBuffer.empty[String]

  private def freshPrefix() = {
    val p = s"spec${java.util.UUID.randomUUID().toString.take(8)}"
    prefixes += p
    p
  }

  override def afterAll(): Unit =
    try new java.io.File(sys.props("java.io.tmpdir")).listFiles()
      .filter(f => prefixes.exists(p => f.getName.startsWith(s"graft_${p}_")))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    finally super.afterAll()

  test("build runs once; the installed path is reused") {
    val prefix = freshPrefix()
    var builds = 0
    def get() = IndexMaintenance.cachedLayout(spark, prefix, "fp-a") { staging =>
      builds += 1
      val d = new java.io.File(staging); d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$staging/payload"), "x".getBytes)
    }
    val p1 = get()
    val p2 = get()
    assert(p1 === p2)
    assert(builds === 1)
    assert(new java.io.File(s"$p1/payload").exists())
    assert(new java.io.File(s"$p1/_complete").exists())
  }

  test("a crashed partial install (no marker) is cleared and rebuilt") {
    val prefix = freshPrefix()
    var builds = 0
    def get(fp: String) = IndexMaintenance.cachedLayout(spark, prefix, fp) { staging =>
      builds += 1
      val d = new java.io.File(staging); d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$staging/payload"), s"b$builds".getBytes)
    }
    val p1 = get("fp-crash")
    // simulate the crash window: marker gone, stale payload left behind
    assert(new java.io.File(s"$p1/_complete").delete())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p1/stale"), "stale".getBytes)
    val p2 = get("fp-crash")
    assert(p2 === p1)
    assert(builds === 2, "marker-less partial was served instead of rebuilt")
    assert(!new java.io.File(s"$p1/stale").exists(),
      "stale partial contents survived the reinstall")
    assert(new java.io.File(s"$p1/_complete").exists())
  }

  test("a build that throws leaves nothing behind; the next build installs clean rows") {
    import spark.implicits._
    val prefix = freshPrefix()
    def installed = new java.io.File(sys.props("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.startsWith(s"graft_${prefix}_")).toSeq
    val boom = new IllegalStateException("build failed after writing centroids")
    val thrown = intercept[IllegalStateException] {
      IndexMaintenance.cachedLayout(spark, prefix, "fp-fail") { staging =>
        Seq((1L, "bad")).toDF("cluster_id", "tag").write.parquet(s"$staging/centroids")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(installed.isEmpty, s"a failed build left ${installed.mkString(", ")} behind")
    val p = IndexMaintenance.cachedLayout(spark, prefix, "fp-fail") { staging =>
      Seq((2L, "good")).toDF("cluster_id", "tag").write.parquet(s"$staging/centroids")
    }
    assert(spark.read.parquet(s"$p/centroids").as[(Long, String)].collect().toSeq ===
      Seq((2L, "good")))
    assert(installed === Seq(new java.io.File(p).getName))
  }

  test("fingerprints key separate installs") {
    val prefix = freshPrefix()
    def get(fp: String) = IndexMaintenance.cachedLayout(spark, prefix, fp) { staging =>
      new java.io.File(staging).mkdirs()
    }
    assert(get("fp-1") !== get("fp-2"))
  }
}
