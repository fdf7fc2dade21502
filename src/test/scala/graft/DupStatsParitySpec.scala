package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

/** The native one-pass DupStatsExpr must agree EXACTLY with the
  * `array_sort` + `aggregate` HOF folds that define the semantics (and
  * that the DuckDB oracle mirrors) — on fixtures, edge cases, and the
  * whole sf0.001 corpus at every gram size the graded queries use.
  */
class DupStatsParitySpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  test("native == HOF on hand fixtures and edge cases") {
    val df = Seq(
      Seq("a", "b", "a", "c", "a", "b"),           // mixed runs
      Seq("x"),                                    // singleton
      Seq.empty[String],                           // empty
      Seq("", "", "y"),                            // empty-string elements
      Seq("same", "same", "same"),                 // all equal
      Seq("aa", "b", "aa", "cc", "cc", "cc"),      // mass != count weighting
    ).toDF("xs")
    val got = df.select(
      TextAnalysis.dupCountFrac(col("xs")).as("nc"),
      TextAnalysis.dupCharFrac(col("xs")).as("nm"),
      TextHof.dupCountFracHof(col("xs")).as("hc"),
      TextHof.dupCharFracHof(col("xs")).as("hm")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(2), s"count frac: $r")
      assert(r.getDouble(1) === r.getDouble(3), s"char frac: $r")
    }
    // spot-check absolute values on the first fixture:
    // a×3 + b×2 duplicated of 6 elements → 5/6; all length-1 → same mass
    assert(got(0).getDouble(0) === math.floor(5.0 / 6.0 * 1e6 + 0.5) / 1e6)
  }

  test("null elements get defined behavior, not an NPE (ADVICE r6)") {
    // current call sites (split/gramsAll/shingles) never produce null
    // elements; a future caller must get the documented semantics —
    // nulls mutually equal with mass 0 — instead of a comparator NPE
    val got = Seq(1).toDF("one")
      .select(graft.functions.TextExprs.dupStats(
        array(lit(null).cast("string"), lit("a"), lit(null).cast("string"),
          lit("a"), lit("bb"))).as("s"))
      .select(col("s.dup_cnt"), col("s.tot_cnt"), col("s.dup_mass"), col("s.tot_mass"))
      .head()
    assert(got.getLong(0) === 4L) // two nulls + two "a"s duplicated
    assert(got.getLong(1) === 5L)
    assert(got.getLong(2) === 2L) // nulls carry no mass; "a"×2 = 2 chars
    assert(got.getLong(3) === 4L) // a+a+bb
  }

  test("fused gram construction == unfused chain, struct-bitwise (r8)") {
    // DupGramStatsExpr(toks, k) must equal dupStats(gramsAll(toks, k))
    // field for field — the fused path hash-counts grams instead of
    // materializing + sorting, but the statistics are sums over the
    // same (gram, count, chars) multiset
    val toks = tokens(col("text"))
    (2 to 4).foreach { k =>
      val bad = Tables.documents(spark, Sf)
        .select(graft.functions.TextExprs.dupGramStats(toks, k).as("f"),
          graft.functions.TextExprs.dupStats(gramsAll(toks, k)).as("u"))
        .filter(col("f.dup_cnt") =!= col("u.dup_cnt") ||
          col("f.tot_cnt") =!= col("u.tot_cnt") ||
          col("f.dup_mass") =!= col("u.dup_mass") ||
          col("f.tot_mass") =!= col("u.tot_mass"))
        .count()
      assert(bad === 0L, s"fused gram stats diverged at k=$k on $bad docs")
    }
    // short-doc guard + NULL token array resolve to all-zero stats,
    // exactly like the unfused size()-guarded chain
    val edge = Seq(Some(Seq("one", "two")), Some(Seq.empty[String]), None)
      .toDF("toks")
      .select(graft.functions.TextExprs.dupGramStats(col("toks"), 3).as("f"),
        graft.functions.TextExprs.dupStats(gramsAll(col("toks"), 3)).as("u"))
      .collect()
    edge.foreach { r =>
      assert(r.getStruct(0).toSeq === r.getStruct(1).toSeq, s"edge: $r")
    }
  }

  test("native == HOF over the whole corpus at every graded gram size") {
    val toks = tokens(col("text"))
    val lines = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    val cases = Seq(
      gramsAll(toks, 2), gramsAll(toks, 3), gramsAll(toks, 4), lines)
    cases.zipWithIndex.foreach { case (xs, i) =>
      val bad = Tables.documents(spark, Sf)
        .select(
          TextAnalysis.dupCountFrac(xs).as("nc"),
          TextAnalysis.dupCharFrac(xs).as("nm"),
          TextHof.dupCountFracHof(xs).as("hc"),
          TextHof.dupCharFracHof(xs).as("hm"))
        .filter(col("nc") =!= col("hc") || col("nm") =!= col("hm"))
        .count()
      assert(bad === 0L, s"case $i diverged on $bad docs")
    }
  }
}
