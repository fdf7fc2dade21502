package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, RowNumber}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SortExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{Final, Partial, WindowExec, WindowGroupLimitExec}

/** The per-query top-k rank shuffles of an executed plan, found from
  * node types rather than plan strings: a filtered `row_number` Window
  * whose input arrives through a shuffle. Each comes back as (the
  * window's first order key, whether a Partial-mode `WindowGroupLimit`
  * sits directly below that shuffle — the map-side bound that ships at
  * most k rows per group per partition). A cached frame's plan is
  * searched too: its rank shuffles run when the cache is built.
  */
object RankExchanges {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  // codegen wrappers, sorts, AQE reads and stages are transparent here
  private def skipped(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: SortExec | _: AQEShuffleReadExec |
        _: QueryStageExec => true
    case _ => false
  }

  private def shuffleBelow(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
    case e: ShuffleExchangeExec => Some(e)
    case ReusedExchangeExec(_, e) => shuffleBelow(e)
    case w: WindowGroupLimitExec if w.mode == Final => shuffleBelow(w.child)
    case _ if skipped(p) => children(p).headOption.flatMap(shuffleBelow)
    case _ => None
  }

  private def partialBelow(p: SparkPlan): Boolean = p match {
    case w: WindowGroupLimitExec => w.mode == Partial
    case _ if skipped(p) => children(p).headOption.exists(partialBelow)
    case _ => false
  }

  private def windowBelow(p: SparkPlan): Option[WindowExec] = p match {
    case w: WindowExec => Some(w)
    case i: InputAdapter => windowBelow(i.child)
    case _ => None
  }

  def apply(plan: SparkPlan): Seq[(String, Boolean)] =
    nodes(plan).collect { case f: FilterExec => windowBelow(f.child) }.flatten
      .filter(_.windowExpression.exists(_.exists(_.isInstanceOf[RowNumber])))
      .flatMap { w =>
        val key = w.orderSpec.head.child match {
          case a: Attribute => a.name
          case e => e.sql
        }
        shuffleBelow(w.child).map(e => key -> partialBelow(e.child))
      }
}
