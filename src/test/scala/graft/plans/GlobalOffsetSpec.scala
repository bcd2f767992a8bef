package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The automatic unpartitioned lag/lead rewrite: `lag/lead(e, n[, d])
  * OVER (ORDER BY ...)` must plan as a no-key [[KeyedOffsetExec]]
  * (range partition + boundary-value metadata + ring/queue pass), never a
  * single-partition `WindowExec` — and be BIT-IDENTICAL to the window
  * it replaces. Orders are TOTAL (`v, id`): like a ROWS frame, an
  * offset over a non-total order is only defined up to the sort's tie
  * placement in either plan.
  *
  * The fixture runs on 4 input partitions and the session plans ~32
  * shuffle partitions over 1000 rows, so lag/lead values cross range-
  * partition boundaries in every test — the stitched-context path is
  * always exercised, not just the in-partition rings.
  */
class GlobalOffsetSpec extends AnyFunSuite with BeforeAndAfterAll {
  // the small-frame cost guard would keep these ~1000-row fixtures on
  // the single-partition window; disable it here — the guard itself is
  // pinned in GlobalRankRuleSpec's dedicated test (forked suites run
  // sequentially, so the conf toggle cannot race another suite)
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  private def fixture: DataFrame = {
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) === 0, lit(null))
          .otherwise(pmod(col("id") * 37, lit(20))).as("v"))
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }

  private def checkRewritten(df: => DataFrame): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    assert(plan.exists(NoKey.offset),
      s"expected a no-key KeyedOffsetExec:\n${on.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("lag(1) and lead(1) with null defaults match the window exactly") {
    fixture.createOrReplaceTempView("go_t")
    checkRewritten(spark.sql(
      """SELECT id, v,
        |  lag(v)  OVER (ORDER BY v, id) AS pv,
        |  lead(v) OVER (ORDER BY v, id) AS nv
        |FROM go_t""".stripMargin))
  }

  test("multi-step offsets with explicit and column defaults") {
    fixture.createOrReplaceTempView("go_t2")
    // offsets larger than 1 cross several boundary rows; defaults are a
    // literal and the CURRENT row's own column (WindowExec's contract)
    checkRewritten(spark.sql(
      """SELECT id,
        |  lag(id, 7, -1)  OVER (ORDER BY v, id) AS p7,
        |  lead(id, 5, id) OVER (ORDER BY v, id) AS n5,
        |  lag(id, 3)      OVER (ORDER BY v, id) AS p3
        |FROM go_t2""".stripMargin))
  }

  test("offset zero and offsets beyond the frame edge") {
    fixture.createOrReplaceTempView("go_t3")
    checkRewritten(spark.sql(
      """SELECT id,
        |  lag(id, 0)     OVER (ORDER BY v, id) AS self,
        |  lag(id, 2000)  OVER (ORDER BY v, id) AS off_edge,
        |  lead(id, 999)  OVER (ORDER BY v, id) AS last_reach
        |FROM go_t3""".stripMargin))
  }

  test("expression inputs: the lagged value is computed, not a bare column") {
    fixture.createOrReplaceTempView("go_t4")
    checkRewritten(spark.sql(
      """SELECT id, v - lag(v, 1) OVER (ORDER BY v, id) AS dv,
        |  lead(id * 2 + 1, 2) OVER (ORDER BY v, id) AS nx
        |FROM go_t4""".stripMargin))
  }

  test("the return-delta shape: market returns from consecutive prices") {
    // the canonical time-series query a user writes in plain SQL
    fixture.createOrReplaceTempView("go_t5")
    val df = spark.sql(
      """SELECT id,
        |  CAST(id AS DOUBLE) / nullif(lag(id) OVER (ORDER BY id), 0) - 1
        |    AS ret
        |FROM go_t5""".stripMargin)
    checkRewritten(df)
  }

  test("ignore-nulls offsets and partitioned offsets are untouched") {
    fixture.createOrReplaceTempView("go_t6")
    val ign = spark.sql(
      """SELECT id, lead(v) IGNORE NULLS OVER (ORDER BY v, id) AS nv
        |FROM go_t6""".stripMargin)
    assert(!nodes(ign).exists(NoKey.offset),
      "ignore-nulls reach is unbounded; must stay a window")
    assert(nodes(ign).exists(_.isInstanceOf[WindowExec]))
    import org.apache.spark.sql.expressions.Window
    val part = fixture.withColumn("pv",
      lag("v", 1).over(Window.partitionBy(pmod(col("id"), lit(7))).orderBy("v", "id")))
    assert(!nodes(part).exists(NoKey.offset))
  }

  test("empty input, single row, and conf opt-out") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("v", "id")
    val empty = fixture.filter(col("id") < 0)
      .withColumn("pv", lag("v", 1).over(w))
    assert(empty.collect().isEmpty)
    checkRewritten(fixture.limit(1).withColumn("pv", lag("v", 1).over(w)))
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    try {
      val df = fixture.withColumn("pv", lag("v", 1).over(w))
      assert(!nodes(df).exists(NoKey.offset),
        "conf=false must disable the rewrite")
    } finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
  }
}
