package graft.tables

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Where the scan-parallelism heal lands among the declared queries. The
  * measured winners load with [[Scan.Parallel]], each on the keys named
  * here; the reference-parity float aggregates and the plan-lint plant
  * load stock, because their oracle answers depend on the single-task
  * scan (see `Tables.table`).
  */
class ScanPlacementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val healed: Map[String, Set[String]] = Map(
    "x2_jaccard_ngram" -> Set("doc_id"),
    "x147_flagged_lineitem_panel" -> Set("o_orderkey", "l_orderkey"),
    "x144_group_stats_attach" -> Set("l_orderkey"),
    "x108_exactsubstr_release" -> Set("doc_id"),
    "x51_token_budget_select" -> Set("doc_id"),
    "w3_volume_rank" -> Set("l_orderkey"),
    "x6_json_extract" -> Set("event_id"),
    "a3b_percentile_builtin" -> Set("l_orderkey"),
    "x149_topitems_composite_rank_join" -> Set("l_orderkey"),
    "x130_video_neardup" -> Set("doc_id"),
    "x27_edit_join" -> Set("p_partkey"))

  private val stock = Seq("flagship_etl", "a1_asset_agg", "j1_left_join_enrich",
    "j7_salted_join", "q1_pricing_summary", "x133_plan_lint")

  /** Key columns of the heal's repartitions in `q`'s optimized plan,
    * persisted inputs included (x130 persists its hashed media frame): a
    * hash repartition on one bare column, to one partition per core. */
  private def healKeys(q: String): Set[String] = {
    val cores = spark.sparkContext.defaultParallelism
    def keys(p: LogicalPlan): Seq[String] = p.collect {
      case RepartitionByExpression(Seq(a: AttributeReference), _, Some(n), _)
          if n == cores => Seq(a.name)
      case m: InMemoryRelation => keys(m.cacheBuilder.logicalPlan)
    }.flatten
    keys(SparkEntry.queries(q)(spark, TestSpark.Sf001)
      .queryExecution.optimizedPlan).toSet
  }

  healed.foreach { case (q, keys) =>
    test(s"$q heals its scans on ${keys.toSeq.sorted.mkString(", ")}") {
      assert(healKeys(q) === keys)
    }
  }

  stock.foreach { q =>
    test(s"$q keeps the stock scan") {
      assert(healKeys(q).isEmpty)
    }
  }
}
