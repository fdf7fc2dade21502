package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Chunker
import graft.functions.TextFunctions._

/** Degenerate-document robustness: the driver corpus has no nulls or
  * empties, so these guard the per-row text operators against the
  * inputs a real 100 TB crawl certainly contains.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  private val weird = Seq(
    (1L, "single"),
    (2L, ""),
    (3L, "   "),
    (4L, "two tokens"),
    (5L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (6L, "dup dup dup dup dup"),
  ).toDF("doc_id", "text")

  test("shingles of short docs are empty, not descending-sequence garbage") {
    val out = weird.select(col("doc_id"), shingles(tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty) // 1 token < k=3
    assert(out(4L).isEmpty) // 2 tokens < k=3
    assert(out(6L) === Seq("dup dup dup")) // distinct shingles collapse
    assert(out(5L).length === 24)
  }

  test("cdc chunking survives empty and single-token docs") {
    val chunks = Chunker.cdcChunks(weird).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // every doc yields at least one chunk (empty text tokenizes to [""])
    assert(byDoc.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    byDoc.values.foreach(cs => assert(cs.map(_.getLong(2)).sum > 0))
  }

  test("fixed-size chunking yields no chunks for empty docs and full coverage otherwise") {
    val chunks = Chunker.chunkedText(weird).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // trim("")/trim("   ") tokenize to [""] — one 1-word chunk, no crash
    byDoc.values.foreach { cs =>
      assert(cs.map(_.getLong(3)).sum > 0)
    }
    assert(byDoc(5L).map(_.getLong(3)).sum === 26)
  }

  test("quality and langid columns do not throw on degenerate docs") {
    val out = weird.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("q"),
      graft.operators.TextAnalysis.predLang(col("text")).as("lang"))
      .collect()
    assert(out.length === 6)
    // quality is a sigmoid: NaN is the only failure mode worth guarding
    out.foreach { r =>
      assert(!r.isNullAt(2))
      assert(r.isNullAt(1) || !r.getDouble(1).isNaN)
    }
  }

  test("gopher stats survive empty / single-token / all-duplicate docs") {
    val g = weird.select(col("doc_id"),
        graft.operators.TextAnalysis.gopherStats(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_toks"), col("s.uniq_frac"), col("s.top2_frac"),
        col("s.dup3_frac"), col("s.mean_wlen"), col("s.keep"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // empty text tokenizes to [""]: one token, no grams, zero fractions
    assert(g(2L) === ((1L, 1.0, 0.0, 0.0, 0.0)))
    assert(g(1L)._3 === 0.0) // single token: no 2-grams
    // "dup dup dup dup dup": one distinct token, fully repetitive
    assert(g(6L)._2 === 0.2)
    assert(g(6L)._3 === 1.0) // every 2-gram is the same
    assert(g(6L)._4 === 0.666667) // 3 identical 3-grams → dup frac r6(2/3)
  }

  test("entropy term fold handles degenerate docs without nulls") {
    import graft.functions.TextFunctions.tokens
    import graft.functions.VectorFunctions.cents
    val toks = tokens(col("text"))
    val n = size(toks)
    val termE6 = transform(array_distinct(toks), t => {
      val p = size(filter(toks, y => y === t)) / (lit(1.0) * n)
      cents(-p * log(p), 1e6)
    })
    val out = weird.select(col("doc_id"),
        aggregate(termE6, lit(0L), (a, x) => a + x).as("e6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) === 0L) // [""] — single type, zero entropy
    assert(out(6L) === 0L) // constant doc — zero entropy
    assert(out(5L) > 0L)   // 26 uniform types — maximal positive entropy
  }

  test("minhash signatures of shingle-less docs are null-safe for banding") {
    val sigs = weird.select(col("doc_id"),
      graft.functions.MinHashExpr.minhashSig(
        shingles(tokens(col("text"))), 4).as("mh"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1)))
      .toMap
    // docs with no shingles produce null/empty signatures, which the
    // band join drops instead of matching everything-to-everything
    val short = sigs(1L)
    assert(short == null || short.forall(_ == null) || short.isEmpty)
  }

  test("dup-char fraction is 0 for empty, whitespace and sub-n docs — never NaN") {
    val got = weird.select(col("doc_id"),
      graft.operators.TextAnalysis.dupCharFrac(
        gramsAll(tokens(col("text")), 2)).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0 && got(2L) === 0.0 && got(3L) === 0.0)
    assert(got(6L) === 1.0) // "dup dup ×5": every bigram duplicated
    got.values.foreach(v => assert(!v.isNaN && v >= 0.0 && v <= 1.0))
  }

  test("readability drops zero-word docs instead of emitting NaN rows") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-read").toString
    weird.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.readability(spark, dir).collect()
    // "" and "   " tokenize to [""] (1 token) so they survive with
    // n_words=1; no row may carry NaN/null metrics
    r.foreach { row =>
      assert(row.getLong(row.fieldIndex("n_words")) >= 1)
      assert(!row.getDouble(row.fieldIndex("flesch_ease")).isNaN)
      assert(!row.getDouble(row.fieldIndex("fk_grade")).isNaN)
    }
  }

  test("asof join carries null, not garbage, for purchases with no prior click") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-asof").toString
    // user 1: purchase BEFORE any click; user 2: purchases only
    Seq(
      (1L, "2024-06-01 10:00:00", 1L, "purchase", 5.0, """{"k": 1}"""),
      (2L, "2024-06-01 11:00:00", 1L, "click", 1.0, """{"k": 1}"""),
      (3L, "2024-06-01 12:00:00", 1L, "purchase", 7.0, """{"k": 1}"""),
      (4L, "2024-06-01 09:00:00", 2L, "purchase", 9.0, """{"k": 1}"""))
      .toDF("event_id", "ts0", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts0").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val a = graft.operators.EventOps.asofJoin(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(a(1L) === None) // before the only click
    assert(a(3L).isDefined) // after it
    assert(a(4L) === None) // user with no clicks at all
  }

  test("scd2 of a single-event user is one open version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-scd").toString
    Seq((1L, "2024-06-01 10:00:00", 5L, "view", 0.0, """{"k": 30}"""))
      .toDF("event_id", "ts0", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts0").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val s = graft.operators.EventOps.scd2(spark, dir).collect()
    assert(s.length === 1)
    assert(s.head.getLong(s.head.fieldIndex("tier")) === 1L) // 30 div 25
    assert(s.head.isNullAt(s.head.fieldIndex("valid_to_us")))
    assert(s.head.getLong(s.head.fieldIndex("version")) === 1L)
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
    rows.toDF("event_id", "ts0", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts0").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("gini/lorenz of a no-purchase corpus emit zero rows, not a division error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-gini0").toString
    writeEvents(dir, Seq((1L, "2024-06-01 10:00:00", 1L, "view", 5.0, "{}")))
    assert(graft.operators.EventOps.gini(spark, dir).collect().isEmpty)
    assert(graft.operators.EventOps.lorenz(spark, dir).collect().isEmpty)
  }

  test("lorenz of a single purchaser is one decile-0 row with full share") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-lz1").toString
    writeEvents(dir, Seq((1L, "2024-06-01 10:00:00", 7L, "purchase", 12.5, "{}")))
    val rows = graft.operators.EventOps.lorenz(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("decile")) === 0L)
    assert(r.getLong(r.fieldIndex("n_users")) === 1L)
    assert(r.getDouble(r.fieldIndex("share")) === 1.0)
    assert(r.getDouble(r.fieldIndex("cum_share")) === 1.0)
    // and the gini of one user is exactly 2*(1/1)*(1) - 2 = 0
    val g = graft.operators.EventOps.gini(spark, dir).collect().head
    assert(g.getDouble(g.fieldIndex("gini")) === 0.0)
  }

  test("MAD of constant values flags nothing and reports a null max_rz") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-mad0").toString
    writeEvents(dir, (1L to 9L).map(i =>
      (i, "2024-06-01 10:00:00", i, "purchase", 4.0, "{}")))
    val r = graft.operators.EventOps.madOutliers(spark, dir).collect().head
    assert(r.getDouble(r.fieldIndex("med_value")) === 4.0)
    assert(r.getDouble(r.fieldIndex("mad_value")) === 0.0)
    assert(r.getLong(r.fieldIndex("n_outliers")) === 0L)
    assert(r.isNullAt(r.fieldIndex("max_abs_rz")))
  }

  test("user overlap of a single-type corpus is an empty matrix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-ov1").toString
    writeEvents(dir, (1L to 5L).map(i =>
      (i, "2024-06-01 10:00:00", i, "view", 1.0, "{}")))
    assert(graft.operators.EventOps.userOverlap(spark, dir).collect().isEmpty)
  }

  test("novelty of verbatim copies: the first doc owns every gram, the rest own none") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-nov").toString
    val txt = "alpha beta gamma delta epsilon"
    Seq((10L, txt, "en", "web", txt.length.toLong),
        (11L, txt, "en", "web", txt.length.toLong),
        (12L, txt, "en", "web", txt.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out === Map(10L -> 1.0, 11L -> 0.0, 12L -> 0.0))
  }

  test("heaps of a one-doc corpus yields one checkpoint and no crash on the degenerate fit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-heaps").toString
    Seq((0L, "a b c a b", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextAnalysis.heaps(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("cum_tokens")) === 5L)
    assert(r.getLong(r.fieldIndex("cum_types")) === 3L)
    // a 1-point regression is degenerate: the fit must be NaN/null,
    // never a fabricated slope
    val beta = r.get(r.fieldIndex("heaps_beta"))
    assert(beta == null || beta.asInstanceOf[Double].isNaN)
  }

  test("all-zero embeddings normalize and quantize to zeros instead of dividing by zero") {
    import graft.operators.KnnSearch
    // the query (vec_id 0) and one corpus row are all-zero; the rest are
    // ordinary vectors
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-zero").toString
    val zero = Set(0L, 5L)
    (0L until 20L).map(id =>
        (id, Seq.tabulate(64)(i => if (zero(id)) 0.0f else ((id * 7 + i * 3) % 11 - 5) / 4.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val norms = KnnSearch.normalize(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(norms.size === 20)
    zero.foreach(id => assert(norms(id) === ((0.0, 0.0, 0.0)), s"vec $id"))
    assert(norms(1L)._1 > 0.0)
    val quant = KnnSearch.quantize(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(quant.size === 20)
    zero.foreach(id => assert(quant(id) === ((0.0, 0L, 0L)), s"vec $id"))
    // a zero query scores every candidate 0: the top k is the lowest ids
    val hits = KnnSearch.quantizedSearch(spark, dir, k = 4).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      (0L until 4L).map(id => (id, 0L, 0.0)))
  }
}
