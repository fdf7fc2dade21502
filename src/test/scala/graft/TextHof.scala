package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{cents, r6}
import graft.operators.Dedup

/** The text kernels' semantic definitions as interpreted
  * `aggregate`/`transform` folds — the parity references for the native
  * GopherRawExpr, EntropyRawExpr, DupStatsExpr, GramCountsExpr and
  * MinHashExpr (GopherParitySpec, DupStatsParitySpec,
  * PropertyParitySpec, MinHashSpec), and the formulations the DuckDB
  * oracle mirrors. Spec-only.
  */
object TextHof {

  /** HOF twin of `TextAnalysis.gopherStats` — the semantic definition the oracle
    * mirrors (grams + sorted run-length fold); spec-only.
    */
  def gopherStatsHof(text: Column): Column = {
    val toks = tokens(text)
    val g2 = gramsAll(toks, 2)
    val g3 = gramsAll(toks, 3)
    val nToks = size(toks).cast("long")
    val nG2 = size(g2).cast("long")
    val nG3 = size(g3).cast("long")
    // max bigram multiplicity = longest equal run in the sorted array
    // (same value as the count-equal nested scan, O(G log G) not O(G²);
    // the oracle keeps the quadratic formulation — values identical)
    val top2Cnt = when(size(g2) > 0,
      aggregate(array_sort(g2),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best")))
      .otherwise(lit(0L)).cast("long")
    val uniqFrac = r6(size(array_distinct(toks)).cast("long") / (lit(1.0) * nToks))
    val top2Frac = when(nG2 > 0, r6(top2Cnt / (lit(1.0) * nG2))).otherwise(lit(0.0))
    val dup3Frac = when(nG3 > 0,
      r6((nG3 - size(array_distinct(g3)).cast("long")) / (lit(1.0) * nG3)))
      .otherwise(lit(0.0))
    val meanWlen = r6(sumTokenLengths(toks) / (lit(1.0) * nToks))
    val keep = (top2Frac <= 0.08 && uniqFrac >= 0.42
      && meanWlen >= 3.0 && meanWlen <= 10.0).cast("long")
    struct(nToks.as("n_toks"), uniqFrac.as("uniq_frac"), top2Frac.as("top2_frac"),
      dup3Frac.as("dup3_frac"), meanWlen.as("mean_wlen"), keep.as("keep"))
  }

  /** The sorted run-length entropy fold as a column (spec twin of
    * TextExprs.entropyRaw's ent_e6 field).
    */
  def entropyE6Hof(toks: Column): Column = {
    val n = size(toks)
    // cents(-p ln p) for a token occurring `run` times — identical
    // per-distinct-token terms to the oracle's formulation; the sum is
    // order-independent because each term is integerized first
    def termOf(run: Column) = {
      val p = run / (lit(1.0) * n)
      cents(-p * log(p), 1e6)
    }
    aggregate(array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc")),
      (acc, x) => {
        val closes = acc.getField("run") > 0 && (x =!= acc.getField("prev"))
        struct(x.as("prev"),
          when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
            .otherwise(lit(1L)).as("run"),
          (acc.getField("acc") + when(closes, termOf(acc.getField("run")))
            .otherwise(lit(0L))).as("acc"))
      },
      acc => acc.getField("acc") +
        when(acc.getField("run") > 0, termOf(acc.getField("run"))).otherwise(lit(0L)))
  }

  /** HOF twin of `TextAnalysis.entropyScore` — the sorted run-length
    * fold the oracle mirrors.
    */
  def entropyScoreHof(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        entropyE6Hof(toks).as("ent_e6"))
      .withColumn("entropy", r6(col("ent_e6") / lit(1e6)))
      .withColumn("norm_entropy",
        when(col("n_uniq") > 1, r6(col("ent_e6") / (lit(1e6) * log(col("n_uniq")))))
          .otherwise(lit(0.0)))
      .select("doc_id", "n_toks", "n_uniq", "entropy", "norm_entropy")
  }

  /** Char-weighted duplicate fraction of a gram array: the HOF twin of
    * `TextAnalysis.dupCharFrac` (sort + run-length fold).
    */
  def dupCharFracHof(grams: Column): Column = {
    val runLen = (run: Column, prev: Column) =>
      run * length(prev).cast("long")
    val folded = aggregate(array_sort(grams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"), lit(0L).as("tot")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        val closes = !same && acc.getField("run") >= 2L
        struct(x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          (acc.getField("dup") + when(closes,
            runLen(acc.getField("run"), acc.getField("prev"))).otherwise(0L)).as("dup"),
          (acc.getField("tot") + length(x).cast("long")).as("tot"))
      },
      acc => struct(
        (acc.getField("dup") + when(acc.getField("run") >= 2L,
          runLen(acc.getField("run"), acc.getField("prev"))).otherwise(0L)).as("dup"),
        acc.getField("tot").as("tot")))
    when(folded.getField("tot") > 0,
      r6(folded.getField("dup") / (lit(1.0) * folded.getField("tot"))))
      .otherwise(lit(0.0))
  }

  /** Count-weighted duplicate fraction over an array WITH multiplicity:
    * Σ_{x: count(x)≥2} count(x) / Σ_x 1 — the element-count twin of
    * `TextAnalysis.dupCharFrac` (same sort + run-length fold, O(n log n) per row).
    */
  def dupCountFracHof(xs: Column): Column = {
    val folded = aggregate(array_sort(xs),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"), lit(0L).as("tot")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        val closes = !same && acc.getField("run") >= 2L
        struct(x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          (acc.getField("dup") + when(closes, acc.getField("run")).otherwise(0L)).as("dup"),
          (acc.getField("tot") + 1L).as("tot"))
      },
      acc => struct(
        (acc.getField("dup") + when(acc.getField("run") >= 2L,
          acc.getField("run")).otherwise(0L)).as("dup"),
        acc.getField("tot").as("tot")))
    when(folded.getField("tot") > 0,
      r6(folded.getField("dup") / (lit(1.0) * folded.getField("tot"))))
      .otherwise(lit(0.0))
  }

  /** HOF twin of `TextExprs.gramCounts` — the semantic definition
    * (O(G²) interpreted).
    */
  def gramCountsHof(tokens: Column, k: Int): Column = {
    val grams = gramsAll(tokens, k)
    transform(array_distinct(grams), g =>
      struct(g.as("g"), size(filter(grams, x => x === g)).cast("long").as("c")))
  }

  /** HOF twin of `Dedup.minhashSignatures` (the numeric spec the
    * oracle mirrors; MinHashSpec asserts equality).
    */
  def minhashSignaturesHof(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), shingles(tokens(col("text"))).as("sh"))
      .select(col("doc_id") +: (0 until Dedup.NumPerms).map(j =>
        array_min(transform(col("sh"), s =>
          md5(concat(lit(j.toString), lit(":"), s)))).as(s"m$j")): _*)
}
