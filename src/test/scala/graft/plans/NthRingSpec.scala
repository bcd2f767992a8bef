package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `nth_value(x, n>1)` and ignore-nulls `lag(x, n>1)` through the window
  * rewrite family (VERDICT r11 next #6): both now ride the value-ring
  * aggregates ([[NthFirstRing]]/[[NthLastRing]]) — running frames fold
  * them through [[KeyedRunningAggExec]]'s partition-partial prefix merge
  * (the ring's CaseWhen merge), bounded and RANGE value frames re-fold
  * them per frame — and every output must be BIT-IDENTICAL to the
  * `WindowExec` it replaces, nulls, defaults and short frames included.
  * Refusal edges (n beyond the ring cap, ignore-nulls lead) are pinned.
  */
class NthRingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    super.afterAll()
  }

  /** 1000 rows over 4 input partitions, v null every 3rd row (long null
    * stretches exercise rings that stay part-empty across seams), t a
    * tie-heavy long, k5 a provable 5-ndv key. */
  private def fixture: DataFrame = {
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(3)) === 0, lit(null))
          .otherwise(col("id") * 7 % 100).as("v"),
        pmod(col("id") * 37, lit(50)).as("t"))
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

  private def checkRewritten(df: => DataFrame, conf: String =
      KeyedWindowRule.GlobalRewriteConf): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(conf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(conf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("running nth_value(n) — explicit ROWS, default frame, ignore-nulls — is exact across seams") {
    fixture.createOrReplaceTempView("nring_t")
    checkRewritten(spark.sql(
      """SELECT id,
        |  nth_value(v, 3) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n3,
        |  nth_value(v, 5) OVER (ORDER BY id) AS n5df,
        |  nth_value(v, 4) IGNORE NULLS OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n4in,
        |  nth_value(v, 16) IGNORE NULLS OVER (ORDER BY id) AS n16
        |FROM nring_t""".stripMargin))
  }

  test("bounded-frame nth_value picks the nth IN the frame, not the prefix") {
    fixture.createOrReplaceTempView("nring_b")
    val df = spark.sql(
      """SELECT id,
        |  nth_value(v, 2) OVER w AS bn2,
        |  nth_value(v, 3) IGNORE NULLS OVER w AS bn3in
        |FROM nring_b
        |WINDOW w AS (ORDER BY id ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING)
        |""".stripMargin)
    assert(nodes(df).exists(NoKey.bounded))
    checkRewritten(df)
  }

  test("RANGE value-distance nth_value rides RangeAggExec") {
    fixture.createOrReplaceTempView("nring_r")
    // unique order (id): the value frame's member order is well-defined,
    // so the nth pick is deterministic in both plans
    val df = spark.sql(
      """SELECT id, nth_value(v, 2) OVER (ORDER BY id
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rn2
        |FROM nring_r""".stripMargin)
    assert(nodes(df).exists(_.isInstanceOf[RangeAggExec]))
    checkRewritten(df)
  }

  test("ignore-nulls lag(v, n>1) folds the last-n ring, defaults grafted") {
    fixture.createOrReplaceTempView("nring_l")
    checkRewritten(spark.sql(
      """SELECT id,
        |  lag(v, 2) IGNORE NULLS OVER (ORDER BY id) AS l2,
        |  lag(v, 3, -1) IGNORE NULLS OVER (ORDER BY id) AS l3d,
        |  lag(v, 16, -2) IGNORE NULLS OVER (ORDER BY id) AS l16
        |FROM nring_l""".stripMargin))
  }

  test("keyed nth_value and ignore-nulls lag plan keyed, per-key rings reset") {
    fixture.createOrReplaceTempView("nring_k")
    val df = spark.sql(
      """SELECT id,
        |  nth_value(v, 3) OVER wk AS kn3,
        |  nth_value(v, 2) IGNORE NULLS OVER wk AS kn2in,
        |  lag(v, 2, -5) IGNORE NULLS OVER (PARTITION BY pmod(id, 5) ORDER BY id) AS kl2
        |FROM nring_k
        |WINDOW wk AS (PARTITION BY pmod(id, 5) ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |""".stripMargin)
    assert(nodes(df).exists(NoKey.keyed(_, "KeyedRunningAgg")),
      s"expected the keyed running exec:\n${df.queryExecution.executedPlan}")
    checkRewritten(df, KeyedWindowRule.RewriteConf)
  }

  test("refusals: n beyond the ring cap and ignore-nulls lead stay on WindowExec") {
    fixture.createOrReplaceTempView("nring_ref")
    def staysWindow(sql: String): Unit = {
      val df = spark.sql(sql)
      assert(nodes(df).exists(_.isInstanceOf[WindowExec]),
        s"must refuse:\n${df.queryExecution.executedPlan}")
    }
    staysWindow(
      """SELECT id, nth_value(v, 17) OVER (ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n17
        |FROM nring_ref""".stripMargin)
    staysWindow(
      """SELECT id, lag(v, 17) IGNORE NULLS OVER (ORDER BY id) AS l17
        |FROM nring_ref""".stripMargin)
    staysWindow(
      """SELECT id, lead(v, 2) IGNORE NULLS OVER (ORDER BY id) AS nv
        |FROM nring_ref""".stripMargin)
  }
}
