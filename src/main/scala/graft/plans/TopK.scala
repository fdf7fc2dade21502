package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-group top-k — the repo's single rank rule for k-NN, ANN and
  * eval ground truth: `row_number() OVER (PARTITION BY group ORDER BY
  * score DESC, tie ASC)`, cast to long into `rankCol`, filtered with a
  * literal `≤ k`.
  *
  * The literal bound is what lets Spark's `InsertWindowGroupLimit`
  * plan a `WindowGroupLimit` in Partial mode before the rank Exchange
  * (for k up to `spark.sql.optimizer.windowGroupLimitThreshold`, 1000
  * by default), so each map task ships at most k rows per group
  * instead of every scored row (the two-stage local-then-global top-k
  * of distributed k-NN). Under the DESC order NaN scores rank first
  * and NULL scores last; ties break on `tie` ascending.
  */
object TopK {
  def apply(df: DataFrame, group: String, score: String, tie: String, k: Int,
      rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(col(group)).orderBy(col(score).desc, col(tie).asc)).cast("long"))
      .filter(col(rankCol) <= k)
}
