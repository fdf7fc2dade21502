package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Decontam, EventOps, Relational, TextAnalysis}

/** Semantics of the corpus-scoring / hygiene wave: TF-IDF keywords,
  * unigram-LM quality, benchmark decontamination, z-score anomalies,
  * session path mining.
  */
class CorpusHygieneSpec extends AnyFunSuite {
  import SparkSuite._

  test("tfidf: at most 3 keywords per doc, df bounded by n_docs, scores ranked") {
    val rows = TextAnalysis.tfidfKeywords(spark, Sf).collect()
    val nDocs = Tables.documents(spark, Sf).count()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    assert(rows.forall(r => r.getLong(4) <= nDocs), "df exceeds corpus size")
    // within a doc, rank order follows score order
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      val scores = sorted.map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lm_score: log-probs are negative and the output is the corpus minimum") {
    val out = TextAnalysis.lmScore(spark, Sf).collect()
    assert(out.forall(_.getDouble(2) < 0.0))
    // scores ascend in the returned (worst-first) order modulo ties
    val s = out.map(_.getDouble(2))
    assert(s.zip(s.tail).forall { case (a, b) => a <= b })
  }

  test("lm_score excludes null-text docs from the worst-K rank (r15, ADVICE r14)") {
    import spark.implicits._
    // fewer tokenized docs than worstK, plus a null-text doc: before
    // the r15 filter the null row's null avg_logprob sorted FIRST
    // ascending and led the graded output; empty/whitespace text
    // tokenizes to [""] under split(trim, \s+) (df-trained like any
    // token), so those docs legitimately score
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-edge").toString
    Seq((0L, "alpha beta gamma"), (1L, "alpha alpha"), (2L, "beta"),
        (3L, ""), (4L, "   "), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.lmScore(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L),
      out.mkString(", "))
    assert(out.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN),
      out.mkString(", "))
  }

  test("contamination: benchmark docs never flag themselves; ratios in (0,1]") {
    val rows = Decontam.contamination(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 97 != 0), "benchmark doc flagged as contaminated")
    assert(rows.forall { r =>
      val c = r.getDouble(3); c > 0.0 && c <= 1.0 && r.getLong(2) <= r.getLong(1)
    })
  }

  test("anomaly: output is the |z|-descending extreme tail") {
    val rows = Relational.anomaly(spark, Sf).collect()
    assert(rows.length == 15)
    val zs = rows.map(r => math.abs(r.getDouble(3)))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b }, "not |z|-descending")
    // totalprice is a bounded sum-of-uniforms: the extreme tail still
    // sits beyond 1.5 sd even at sf0.001
    assert(zs.last >= 1.5, s"tail |z| ${zs.last} too mild to be an outlier set")
  }

  test("approx quantiles stay within sketch accuracy of the exact percentiles") {
    val rows = Relational.approxQuantilesRaw(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(5) <= 0.05, s"p50 relative error ${r.getDouble(5)} too large")
      assert(r.getDouble(3) <= r.getDouble(4), "exact p50 > exact p99")
    }
  }

  test("knn classify: one prediction per query, votes bounded by k") {
    val rows = graft.operators.KnnSearch.knnClassify(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 5))
    assert(rows.forall(r => (0L to 9L).contains(r.getLong(2))))
  }

  test("histogram partitions the orders exactly, with consistent edges") {
    val rows = Relational.histogram(spark, Sf).collect()
    val total = Tables.orders(spark, Sf).count()
    assert(rows.map(_.getLong(3)).sum == total, "histogram counts must sum to row count")
    assert(rows.forall(r => r.getDouble(2) == r.getLong(1) * 30000.0))
  }

  test("minhash estimate tracks the exact jaccard (sketch calibration)") {
    val rows = graft.operators.Dedup.minhashEstimate(spark, Sf).collect()
    assert(rows.nonEmpty)
    // estimates are k/16 fractions
    assert(rows.forall { r =>
      val e = r.getDouble(2); e >= 0.0 && e <= 1.0 && (e * 16).round / 16.0 == e
    })
    // unbiased estimator with 16 perms: mean |err| stays moderate
    val meanErr = rows.map(_.getDouble(4)).sum / rows.length
    assert(meanErr < 0.35, s"sketch is uncalibrated: mean |err| $meanErr")
  }

  test("banded range join finds exactly the naive cross-join's pairs") {
    import org.apache.spark.sql.functions._
    val banded = EventOps.rangeJoinPairs(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // ground truth: the O(n²) formulation on the small SF
    val ev = Tables.events(spark, Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val a = ev.select(col("event_id").as("id_f"), col("user_id").as("user_f"),
      col("event_type").as("type_f"), col("us").as("us_f"))
    val b = ev.select(col("event_id").as("id_s"), col("user_id").as("user_s"),
      col("event_type").as("type_s"), col("us").as("us_s"))
    val naive = a.crossJoin(b)
      .filter((col("us_f") < col("us_s")
          || (col("us_f") === col("us_s") && col("id_f") < col("id_s")))
        && col("us_s") - col("us_f") <= 60L * 1000000
        && col("user_f") =!= col("user_s"))
      .groupBy("type_f", "type_s").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(banded == naive, s"banded $banded != naive $naive")
  }

  test("drift report covers every dimension; parity halves show no real drift") {
    val rows = graft.operators.KnnSearch.driftReport(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 64L))
    // a random parity split of one distribution: mean shift stays tiny
    assert(rows.forall(_.getDouble(3) < 0.1), "parity halves drifted implausibly")
  }

  test("drift report splits negative vec_ids by parity like pmod(vec_id, 2)") {
    import spark.implicits._
    // even ids (negative included) carry 1.0s, odd ids 0.0s: every
    // even id must land in ref and every odd id in cur
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-neg").toString
    val ids = Seq(-6L, -5L, -4L, -3L, -2L, -1L, 0L, 1L, 2L, 3L)
    ids.map(id => (id, Seq.fill(4)(if (Math.floorMod(id, 2L) == 0L) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.operators.KnnSearch.driftReport(spark, dir).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === (1L to 4L))
    assert(rows.forall(r => r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0),
      rows.mkString(", "))
  }

  test("event paths: session counts conserve against sessionize") {
    val totalSessions = EventOps.sessionize(spark, Sf).count()
    val paths = EventOps.eventPaths(spark, Sf, topK = 1000000).collect()
    assert(paths.map(_.getLong(1)).sum == totalSessions,
      "path frequencies must partition the session set")
    assert(paths.forall(_.getString(0).nonEmpty))
  }
}
