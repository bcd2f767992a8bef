package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The input-size stock gate (OPTIMIZATION r16,
  * [[KeyedWindowRule.StockBytesConf]]): below the byte threshold, window
  * shapes whose stock evaluation is LINEAR in the input keep Spark's
  * plan — the heal's fixed job cascade (range sampling + boundary
  * passes) never amortizes over a few MB — while RANGE value-distance
  * frames (O(n·frame) at stock) rewrite regardless of size. Both
  * directions are pinned for the global and the keyed rule, plus
  * result identity across the gate (the two plans must agree bit for
  * bit — the gate picks between two correct plans, never changes one).
  */
class WindowStockGateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  override def beforeAll(): Unit = {
    super.beforeAll()
    // isolate the SIZE gate from the maxRows guard (the range fixture
    // carries a maxRows proof that would keep stock on its own)
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    spark.conf.set(KeyedWindowRule.StockBytesConf, "0") // TestSpark default
    super.afterAll()
  }

  /** ~8 KB estimated: well under any MB-scale threshold. */
  private def fixture: DataFrame =
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        pmod(col("id") * 37, lit(20)).as("v"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id") * 13, lit(3)) + 1).cast("int")).as("k3"))

  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }

  private def withGate[A](bytes: String)(f: => A): A = {
    spark.conf.set(KeyedWindowRule.StockBytesConf, bytes)
    try f finally spark.conf.set(KeyedWindowRule.StockBytesConf, "0")
  }

  private def keyedRunning: DataFrame = {
    fixture.createOrReplaceTempView("wsg_t")
    spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM wsg_t""".stripMargin)
  }

  private def globalRunning: DataFrame = {
    fixture.createOrReplaceTempView("wsg_t")
    spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM wsg_t""".stripMargin)
  }

  private def globalRange: DataFrame = {
    fixture.createOrReplaceTempView("wsg_t")
    spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY id
        |  RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS rs
        |FROM wsg_t""".stripMargin)
  }

  test("keyed shapes are NOT gated: the keyed heal fires below the threshold") {
    // the keyed family is the planning target of the self-join collapse
    // rules (they construct keyed Windows expecting the heal), so the
    // size gate deliberately does not apply there — see the
    // KeyedWindowRule comment beside provablySmall
    val plan = withGate((1L << 30).toString) { nodes(keyedRunning) }
    assert(plan.exists(NoKey.keyed(_, "KeyedRunningAgg")),
      s"expected the keyed heal regardless of the gate:\n${plan.head}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
  }

  test("below the threshold a linear global shape keeps Spark's Window") {
    val plan = withGate((1L << 30).toString) { nodes(globalRunning) }
    assert(plan.exists(_.isInstanceOf[WindowExec]),
      s"expected the stock Window below the gate:\n${plan.head}")
    assert(!plan.exists(NoKey.running))
  }

  test("above the threshold (1 byte) the global heal fires as before") {
    val plan = withGate("1") { nodes(globalRunning) }
    assert(plan.exists(NoKey.running),
      s"expected the no-key KeyedRunningAggExec above the gate:\n${plan.head}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
  }

  test("RANGE value frames are never gated: rewrite fires below the threshold") {
    val plan = withGate((1L << 30).toString) { nodes(globalRange) }
    assert(plan.exists(_.isInstanceOf[RangeAggExec]),
      s"expected RangeAggExec despite the size gate (O(n·frame) at stock):\n${plan.head}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
  }

  test("the gate picks between two identical-result plans") {
    val gStock = withGate((1L << 30).toString) { globalRunning.collect() }
    val gHealed = withGate("1") { globalRunning.collect() }
    assert(gStock.map(_.toString).sorted.toSeq ===
      gHealed.map(_.toString).sorted.toSeq)
  }

  test("rule-constructed windows are exempt: the j1 argmax collapse still heals") {
    // j1: enrichment join of bars with their own keyed aggregate — the
    // collapse trades the join for a rule-constructed total Window that
    // must NOT be stranded on a stock WindowExec by the size gate (the
    // sf0.001 fixture is far below any MB threshold)
    val prior = spark.conf.getOption(KeyedWindowRule.NdvHintsConf)
    KeyedWindowRule.registerNdvHint(spark, "ativo", 3L)
    try withGate((1L << 30).toString) {
      val j1 = graft.SparkEntry.queries("j1_left_join_enrich")(
        spark, graft.TestSpark.Sf0001)
      val plan = nodes(j1)
      assert(plan.exists(NoKey.keyed(_, "KeyedTotalAgg")),
        s"expected the zero-join KeyedTotalAgg attach despite the gate:\n" +
          j1.queryExecution.executedPlan)
      assert(!plan.exists(_.isInstanceOf[WindowExec]))
    } finally prior match {
      case Some(v) => spark.conf.set(KeyedWindowRule.NdvHintsConf, v)
      case None => spark.conf.unset(KeyedWindowRule.NdvHintsConf)
    }
  }
}
