package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.seqSum

/** The vector kernels' semantic definitions as interpreted
  * `zip_with` folds — the parity references for the native
  * DotProductExpr and Dist2Expr (VectorExprsSpec). Spec-only.
  */
object VectorHof {

  /** HOF formulation of `dot` (interpreted; kept as the numeric spec). */
  def dotHof(a: Column, b: Column): Column =
    seqSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** HOF formulation of `dist2` (interpreted; the numeric spec). */
  def dist2Hof(a: Column, b: Column): Column =
    seqSum(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }))
}
