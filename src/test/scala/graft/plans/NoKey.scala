package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-pin predicates for the unpartitioned window shapes: `KeyedWindowRule`
  * plans them on the keyed execs with NO partition keys, so a pin on a
  * global shape must match the exec AND its empty key list (a keyed node
  * of the same class is a different plan). */
object NoKey {
  /** Every node of a physical plan, through AQE wrappers, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  def rank(p: SparkPlan): Boolean = p match {
    case e: KeyedRankExec => e.partKeys.isEmpty
    case _ => false
  }
  def running(p: SparkPlan): Boolean = p match {
    case e: KeyedRunningAggExec => e.partKeys.isEmpty
    case _ => false
  }
  def total(p: SparkPlan): Boolean = p match {
    case e: KeyedTotalAggExec => e.partKeys.isEmpty
    case _ => false
  }
  def offset(p: SparkPlan): Boolean = p match {
    case e: KeyedOffsetExec => e.partKeys.isEmpty
    case _ => false
  }
  def bounded(p: SparkPlan): Boolean = p match {
    case e: KeyedBoundedAggExec => e.partKeys.isEmpty
    case _ => false
  }
  def range(p: SparkPlan): Boolean = p match {
    case e: RangeAggExec => e.partKeys.isEmpty
    case _ => false
  }

  /** Any keyed exec with at least one partition key, by node name
    * (`KeyedTotalAgg`, `KeyedRank`, …) — the keyed counterpart of the
    * predicates above, for pins that used to match plan strings. */
  def keyed(p: SparkPlan, nodeName: String): Boolean = p match {
    case e: KeyedRunningAggExec => e.partKeys.nonEmpty && e.nodeName == nodeName
    case e: KeyedOffsetExec => e.partKeys.nonEmpty && e.nodeName == nodeName
    case e: KeyedBoundedAggExec => e.partKeys.nonEmpty && e.nodeName == nodeName
    case e: KeyedTotalAggExec => e.partKeys.nonEmpty && e.nodeName == nodeName
    case e: KeyedRankExec => e.partKeys.nonEmpty && e.nodeName == nodeName
    case _ => false
  }
}
