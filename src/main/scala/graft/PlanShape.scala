package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.storage.StorageLevel

/** Operator counts of an executed physical plan, walked as a tree rather than
  * read from `explain` text.
  *
  * The walk unwraps `AdaptiveSparkPlanExec` (its final plan) and
  * `QueryStageExec` (its stage plan), follows subquery plans, and stops at
  * reused exchanges, which do not run again. A cached relation is a leaf: an
  * `InMemoryTableScanExec` is one scan (and one cached scan) and the plan that
  * filled the cache is not counted. An RDD-backed leaf (`ExternalRDDScanExec`,
  * `RDDScanExec`) counts the `ShuffleDependency`s in its RDD's lineage as
  * shuffles, stopping at persisted RDDs the way it stops at cached relations.
  * A decode join is a join with a side that scans the terms (dictionary)
  * table, recognised by its columns, without passing through another join.
  * `udfs` counts Scala UDF expressions and typed lambda operators
  * (`mapPartitions` and the like).
  *
  * Count a plan after its action has run: until then AQE has not picked its
  * final plan.
  */
final case class PlanShape(shuffles: Int = 0, broadcasts: Int = 0, smj: Int = 0,
    bhj: Int = 0, shj: Int = 0, decodeJoins: Int = 0, windows: Int = 0, udfs: Int = 0,
    scans: Int = 0, cachedScans: Int = 0) {
  /** Shuffle plus broadcast Exchanges. */
  def exchanges: Int = shuffles + broadcasts

  def +(o: PlanShape): PlanShape = PlanShape(shuffles + o.shuffles,
    broadcasts + o.broadcasts, smj + o.smj, bhj + o.bhj, shj + o.shj,
    decodeJoins + o.decodeJoins, windows + o.windows, udfs + o.udfs, scans + o.scans,
    cachedScans + o.cachedScans)

  /** The counts by name, in field order. */
  def fields: Seq[(String, Int)] = productElementNames.zip(
    productIterator.map(_.asInstanceOf[Int])).toSeq

  /** One-line JSON object of [[fields]]. */
  def json: String = fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
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

  /** Every node the walk reaches, in pre-order. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = root +: children(root).flatMap(nodes)

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

  private def one(b: Boolean): Int = if (b) 1 else 0

  /** Shuffle dependencies in an RDD's lineage, each counted once, not
    * looking past a persisted RDD. */
  private def lineageShuffles(root: RDD[_]): Int = {
    val seen = collection.mutable.Set[Int]()
    def go(r: RDD[_]): Int =
      if (r.getStorageLevel != StorageLevel.NONE || !seen.add(r.id)) 0
      else r.dependencies.map { d =>
        one(d.isInstanceOf[ShuffleDependency[_, _, _]]) + go(d.rdd)
      }.sum
    go(root)
  }

  private def rddShuffles(p: SparkPlan): Int = p match {
    case e: ExternalRDDScanExec[_] => lineageShuffles(e.rdd)
    case r: RDDScanExec => lineageShuffles(r.rdd)
    case _ => 0
  }

  private def ofNode(p: SparkPlan): PlanShape = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec => PlanShape()
    case _ =>
      val name = p.getClass.getSimpleName
      PlanShape(
        shuffles = one(p.isInstanceOf[ShuffleExchangeLike]) + rddShuffles(p),
        broadcasts = one(p.isInstanceOf[BroadcastExchangeLike]),
        smj = one(p.isInstanceOf[SortMergeJoinExec]),
        bhj = one(p.isInstanceOf[BroadcastHashJoinExec]),
        shj = one(p.isInstanceOf[ShuffledHashJoinExec]),
        decodeJoins = p match {
          case j: BaseJoinExec => one(j.children.exists(scansTerms))
          case _ => 0
        },
        windows = one(name == "WindowExec"),
        udfs = p.expressions.map(_.collect {
          case e if UdfExprs(e.getClass.getSimpleName) => 1 }.size).sum + one(LambdaOps(name)),
        scans = one(p.children.isEmpty),
        cachedScans = one(p.isInstanceOf[InMemoryTableScanExec]))
  }

  def of(root: SparkPlan): PlanShape = nodes(root).map(ofNode).foldLeft(PlanShape())(_ + _)
}
