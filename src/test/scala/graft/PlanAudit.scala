package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollapseCodegenStages, FileSourceScanExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Typed plan summary: the plan facts the specs pin, counted by
  * operator class instead of grepped from the plan string.
  *
  * `summarize` walks the FINAL plan (call it after an action so AQE
  * has settled); `initial` walks the INITIAL adaptive plan — what the
  * planner chose before any runtime statistics, which is fixed for a
  * given query and dataset (QueryPackSpec's golden pins it). Both walks
  * descend through AQE wrappers, query stages, subqueries and cached
  * relations.
  */
object PlanAudit {

  final case class Summary(
      shuffleExchanges: Int,
      broadcastExchanges: Int,
      reusedExchanges: Int,
      scans: Int,
      scansWithPushedFilters: Int,
      wholeStageCodegenSpans: Int,
      sorts: Int,
      windows: Int,
      takeOrdered: Int,
      joins: Int,
      cartesianProducts: Int,
      broadcastNestedLoopJoins: Int) {

    /** The golden-file form: `field=count`, in declaration order. */
    def line: String = productElementNames.zip(productIterator)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** Flatten the plan tree. In the initial walk each adaptive plan
    * contributes its initial plan with codegen stages collapsed as AQE
    * will collapse them, so codegen spans are counted before execution.
    */
  private def nodes(p: SparkPlan, initial: Boolean): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec =>
        Seq(if (initial) CollapseCodegenStages()(a.initialPlan) else a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    p +: (children ++ p.subqueries).flatMap(nodes(_, initial))
  }

  def summarize(df: DataFrame): Summary = count(nodes(df.queryExecution.executedPlan, initial = false))

  def initial(qe: QueryExecution): Summary = count(nodes(qe.executedPlan, initial = true))

  private def count(ns: Seq[SparkPlan]): Summary = {
    // an initial plan has no ReusedExchange nodes yet: AQE's stage cache
    // reuses an exchange whose canonical form it has already seen
    val exchanges = ns.collect { case e: Exchange => e.canonicalized }
    Summary(
      shuffleExchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcastExchanges = ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      reusedExchanges = ns.count(_.isInstanceOf[ReusedExchangeExec]) +
        exchanges.size - exchanges.distinct.size,
      scans = ns.count(_.isInstanceOf[FileSourceScanExec]),
      scansWithPushedFilters = ns.count {
        case s: FileSourceScanExec => s.dataFilters.nonEmpty ||
          s.partitionFilters.nonEmpty
        case _ => false
      },
      wholeStageCodegenSpans = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      sorts = ns.count(_.isInstanceOf[SortExec]),
      windows = ns.count(_.isInstanceOf[WindowExec]),
      takeOrdered = ns.count(_.isInstanceOf[TakeOrderedAndProjectExec]),
      joins = ns.count(_.isInstanceOf[BaseJoinExec]),
      cartesianProducts = ns.count(_.isInstanceOf[CartesianProductExec]),
      broadcastNestedLoopJoins =
        ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }
}
