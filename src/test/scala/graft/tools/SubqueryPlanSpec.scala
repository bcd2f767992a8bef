package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.plans.NoKey

/** Decorrelation pins for the subquery surface (SparkEntryR5b): every
  * EXISTS / NOT EXISTS / correlated-scalar-aggregate must be rewritten by
  * Catalyst into a hash join against a once-scanned (possibly aggregated)
  * subquery side. The failure mode these guard against is a per-outer-row
  * subquery execution or a nested-loop product — either one is quadratic
  * and unrunnable at 100 TB.
  */
class SubqueryPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  private def noProduct(p: String, q: String): Unit =
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"$q plans a nested-loop product")

  test("q4 EXISTS decorrelates to a LeftSemi hash join") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    noProduct(p, "q4")
  }

  test("q21 double correlation decorrelates to LeftSemi + LeftAnti hash joins") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi"), "EXISTS did not become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not become an anti join")
    noProduct(p, "q21")
  }

  test("q17 correlated scalar aggregates decorrelate to one per-part aggregate join") {
    val p = plan("q17_small_qty_revenue")
    // both correlated scalars (count, sum per part) fold into aggregate-
    // then-join — no subquery re-execution per outer row, no product
    assert(p.contains("HashAggregate"), "no decorrelated aggregate")
    noProduct(p, "q17")
  }

  test("q22 NOT EXISTS plans LeftAnti; scalar threshold is a one-row subquery") {
    val p = plan("q22_idle_rich_customers")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not become an anti join")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "uncorrelated threshold should run once as a scalar subquery")
    noProduct(p, "q22")
  }

  test("q2 per-nation max decorrelates, then the argmax join is eliminated (r13)") {
    // Catalyst decorrelates the per-nation max scalar subquery into an
    // aggregate + equi-join on s_nationkey; since round 13,
    // ArgMaxJoinRule collapses THAT into a single-scan windowed filter,
    // which the keyed-window family plans as the zero-exchange
    // KeyedTotalAgg — the supplier table is read ONCE and never joined
    // against its own aggregate
    val exec = SparkEntry.queries("q2_top_supplier_per_nation")(spark, sf)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(NoKey.nodes(exec).exists(NoKey.keyed(_, "KeyedTotalAgg")),
      s"expected the argmax heal:\n$p")
    assert(p.linesIterator.count(_.contains("supplier.parquet")) === 1,
      "supplier must be scanned exactly once")
    noProduct(p, "q2")
  }

  test("subquery pack: every query returns rows at sf0.001") {
    for (q <- Seq("q17_small_qty_revenue", "q4_priority_exists",
      "q21_waiting_supplier", "q22_idle_rich_customers",
      "q2_top_supplier_per_nation")) {
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q returned 0 rows")
    }
  }

  // ---- round-5c: the remaining TPC-H shapes (SparkEntryR5c) ----

  test("q11 HAVING threshold runs its scalar subquery once") {
    val p = plan("q11_balance_concentration")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "global-total threshold should be a one-shot scalar subquery")
    assert(p.contains("HashAggregate"), "no grouped aggregate")
    noProduct(p, "q11")
  }

  test("q15 max-revenue threshold is a one-shot scalar subquery over the CTE") {
    val p = plan("q15_top_supplier")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "MAX(total_rev) should run once, not per supplier row")
    assert(p.contains("HashAggregate"), "no per-supplier aggregate")
    noProduct(p, "q15")
  }

  test("q16 NOT IN plans a null-aware LeftAnti hash join") {
    val p = plan("q16_supplier_diversity")
    assert(p.contains("LeftAnti"), "NOT IN did not become an anti join")
    noProduct(p, "q16")
  }

  test("q20 nested IN chain plans stacked LeftSemi hash joins") {
    val p = plan("q20_heavy_shippers")
    val semis = "LeftSemi".r.findAllIn(p).size
    assert(semis >= 2, s"expected two stacked semi joins, saw $semis in:\n$p")
    noProduct(p, "q20")
  }

  test("q19 disjunctive bands stay a hash equi-join with a residual filter") {
    val p = plan("q19_banded_revenue")
    assert(p.contains("HashJoin"), "partkey equi-join lost to a non-hash strategy")
    noProduct(p, "q19")
  }

  test("q13 keeps the outer join (zero-order customers survive)") {
    val p = plan("q13_order_distribution")
    assert(p.contains("LeftOuter"), "left join collapsed — zero bucket would vanish")
    noProduct(p, "q13")
  }

  test("q8 dimension tree broadcasts at defaults") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), "no broadcast join in the dim tree")
    noProduct(p, "q8")
  }

  test("r5c pack: every query returns rows at sf0.001") {
    for (q <- Seq("q6_forecast_revenue", "q8_market_share",
      "q11_balance_concentration", "q12_late_shipments",
      "q13_order_distribution", "q14_promo_effect", "q15_top_supplier",
      "q16_supplier_diversity", "q19_banded_revenue", "q20_heavy_shippers")) {
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q returned 0 rows")
    }
  }
}
