package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The native raw-stats expressions (GopherRawExpr / EntropyRawExpr)
  * must be BIT-identical to the HOF folds they replace — the doubles
  * are produced by the same column arithmetic on the same integer
  * counts, so equality is exact, not approximate.
  */
class GopherParitySpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  private val edgeTexts = Seq(
    "",                                   // empty → [""] token
    "   ",                                // whitespace only
    "one",                                // single token (no grams)
    "a b",                                // one bigram, no trigram
    "x x x x x x",                        // all-same (top2 run = n-1)
    "the the quick quick the the brown",  // interleaved runs
    "héllo wörld héllo wörld héllo",      // multi-byte chars (mass = chars)
    "a  b\tc\nd   e",                     // mixed whitespace splits
    (1 to 200).map(i => s"w${i % 7}").mkString(" ")) // long with collisions

  test("gopherStats native ≡ HOF fold on corpus docs and edge cases") {
    val corpus = graft.Tables.documents(spark, Sf).select(col("text"))
      .union(edgeTexts.toDF("text"))
    val both = corpus.select(
      TextAnalysis.gopherStats(col("text")).as("n"),
      TextHof.gopherStatsHof(col("text")).as("h"))
    assert(both.filter(col("n") =!= col("h")).count() === 0L)
    // and the graded query is unchanged
    val nat = TextAnalysis.gopherRules(spark, Sf).orderBy("doc_id").collect()
    val hof = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), TextHof.gopherStatsHof(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_toks"), col("g.uniq_frac"), col("g.top2_frac"),
        col("g.dup3_frac"), col("g.mean_wlen"), col("g.keep"))
      .orderBy("doc_id").collect()
    assert(nat.toSeq === hof.toSeq)
  }

  test("entropyScore native ≡ HOF fold row-for-row") {
    val nat = TextAnalysis.entropyScore(spark, Sf).orderBy("doc_id").collect()
    val hof = TextHof.entropyScoreHof(spark, Sf).orderBy("doc_id").collect()
    assert(nat.toSeq === hof.toSeq)
  }

  test("native entropy handles degenerate token arrays like the fold") {
    val df = edgeTexts.toDF("text")
      .select(graft.functions.TextExprs.entropyRaw(
        graft.functions.TextFunctions.tokens(col("text"))).as("s"))
      .select(col("s.n_uniq"), col("s.ent_e6"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    // single-token docs carry zero entropy; all rows are well-defined
    assert(rows.forall { case (u, e) => u >= 1 && e >= 0 })
    assert(rows(2) === ((1L, 0L)))
  }
}
