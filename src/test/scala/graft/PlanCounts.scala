package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Dictionary-decode joins and Exchanges (shuffle and broadcast) of an
  * executed physical plan, walked as a tree rather than read from `explain`
  * text. The walk unwraps AQE (its final plan) and query stages, follows
  * subqueries, and stops at reused exchanges. A cached relation is a leaf:
  * the plan that filled an `InMemoryRelation` is not counted. A decode join
  * is a join with a side that reaches a scan of the terms table (columns
  * `id`, `lex`, `dt`) without crossing another join.
  */
object PlanCounts {
  final case class Counts(decodeJoins: Int, exchanges: Int)

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil
    case o => o.children ++ o.subqueries
  }

  private def isTermsScan(p: SparkPlan): Boolean = p.children.isEmpty && {
    val cols = p match {
      case f: FileSourceScanExec => f.relation.schema.fieldNames.toSeq
      case m: InMemoryTableScanExec => m.relation.output.map(_.name)
      case o => o.output.map(_.name)
    }
    Set("id", "lex", "dt").subsetOf(cols.toSet)
  }

  private def scansTerms(p: SparkPlan): Boolean = p match {
    case _: BaseJoinExec => false
    case _ => isTermsScan(p) || children(p).exists(scansTerms)
  }

  def of(root: SparkPlan): Counts = {
    def walk(p: SparkPlan): Counts = {
      val here = p match {
        case j: BaseJoinExec if j.children.exists(scansTerms) => Counts(1, 0)
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => Counts(0, 1)
        case _ => Counts(0, 0)
      }
      children(p).map(walk).foldLeft(here)((a, b) =>
        Counts(a.decodeJoins + b.decodeJoins, a.exchanges + b.exchanges))
    }
    walk(root)
  }
}
