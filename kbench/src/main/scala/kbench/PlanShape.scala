package kbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Operator counts of an executed physical plan (`plan.*` metrics).
  *
  * The walk unwraps `AdaptiveSparkPlanExec` (its final plan) and
  * `QueryStageExec` (its stage plan), follows subquery plans, and stops at
  * reused exchanges, which do not run again. A cached relation is a leaf: an
  * `InMemoryTableScanExec` is one scan and the plan that filled the cache is
  * not counted. A decode join is a join with a side that scans the terms
  * (dictionary) table, recognised by its columns, without passing through
  * another join.
  */
final case class PlanShape(exchanges: Int = 0, smj: Int = 0, bhj: Int = 0, shj: Int = 0,
    decodeJoins: Int = 0, windows: Int = 0, udfs: Int = 0, scans: Int = 0) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges, smj + o.smj,
    bhj + o.bhj, shj + o.shj, decodeJoins + o.decodeJoins, windows + o.windows,
    udfs + o.udfs, scans + o.scans)
  def metrics: Seq[(String, Double)] = Seq("plan.exchanges" -> exchanges, "plan.smj" -> smj,
    "plan.bhj" -> bhj, "plan.shj" -> shj, "plan.decode_joins" -> decodeJoins,
    "plan.windows" -> windows, "plan.udfs" -> udfs, "plan.scans" -> scans)
    .map { case (k, v) => k -> v.toDouble }
}

object PlanShape {
  /** Columns that identify a scan of the terms table. */
  private val TermsCols = Set("id", "lex", "dt")
  private val UdfExprs = Set("ScalaUDF", "ScalaUDAF", "ScalaAggregator")
  private val LambdaOps = Set("MapElementsExec", "MapPartitionsExec", "MapGroupsExec",
    "CoGroupExec", "AppendColumnsExec", "AppendColumnsWithObjectExec",
    "FlatMapGroupsWithStateExec")

  /** The children the walk visits (wrappers unwrapped, subqueries included). */
  def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil
    case o => o.children ++ o.subqueries
  }

  /** A leaf over a terms-shaped relation. Its full schema is used, since
    * column pruning leaves only the columns the query reads in `output`. */
  private def isTermsScan(p: SparkPlan): Boolean = p.children.isEmpty && {
    val cols = p match {
      case f: FileSourceScanExec => f.relation.schema.fieldNames.toSeq
      case m: InMemoryTableScanExec => m.relation.output.map(_.name)
      case o => o.output.map(_.name)
    }
    TermsCols.subsetOf(cols.toSet)
  }

  /** Does this join side reach a terms scan without crossing another join? */
  private def scansTerms(p: SparkPlan): Boolean = p match {
    case _: BaseJoinExec => false
    case _ => isTermsScan(p) || children(p).exists(scansTerms)
  }

  def of(root: SparkPlan): PlanShape = {
    var s = PlanShape()
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec => ()
        case _ =>
          val name = p.getClass.getSimpleName
          val udfs = p.expressions.map(_.collect {
            case e if UdfExprs(e.getClass.getSimpleName) => 1 }.size).sum +
            (if (LambdaOps(name)) 1 else 0)
          s = s + PlanShape(
            exchanges = p match {
              case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
              case _ => 0 },
            smj = if (p.isInstanceOf[SortMergeJoinExec]) 1 else 0,
            bhj = if (p.isInstanceOf[BroadcastHashJoinExec]) 1 else 0,
            shj = if (p.isInstanceOf[ShuffledHashJoinExec]) 1 else 0,
            decodeJoins = p match {
              case j: BaseJoinExec if j.children.exists(scansTerms) => 1
              case _ => 0 },
            windows = if (name == "WindowExec") 1 else 0,
            udfs = udfs,
            scans = if (p.children.isEmpty) 1 else 0)
      }
      children(p).foreach(visit)
    }
    visit(root)
    s
  }
}
