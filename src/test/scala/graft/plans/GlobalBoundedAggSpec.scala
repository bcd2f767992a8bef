package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The bounded-ROWS-frame arm of the unpartitioned-window rewrite
  * (VERDICT r10 #1): `agg(x) OVER (ORDER BY … ROWS BETWEEN k PRECEDING
  * AND [CURRENT ROW | j PRECEDING])` written in plain SQL — the
  * reference's own W1 rolling-mean shape (`etl/etl_job.py:126-130`)
  * minus the PARTITION BY — must plan as a no-key
  * [[KeyedBoundedAggExec]] (range partition + k boundary tuples per
  * partition + row-local re-fold), never a single-partition
  * `WindowExec`, and must be BIT-IDENTICAL to the window it replaces.
  * Plus the r10 #4 arm:
  * ignore-nulls `lag(e, 1)` rides [[KeyedRunningAggExec]] as a
  * `Last(ignoreNulls)` exclusive prefix with a coalesced default.
  *
  * All orders are TOTAL (v, id): a ROWS frame over a non-total order is
  * only defined up to the sort's arbitrary tie placement in EITHER plan.
  */
class GlobalBoundedAggSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  /** 1000 rows across 4 input partitions; v has heavy ties (20 distinct
    * values) and nulls salt every 10th v; d is a decimal payload. */
  private def fixture: DataFrame = {
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) === 0, lit(null))
          .otherwise(pmod(col("id") * 37, lit(20))).as("v"),
        (col("id") % 100).cast("decimal(10,2)").as("d"))
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

  private def checkRewritten(df: => DataFrame,
                             expectBounded: Boolean = true): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    if (expectBounded)
      assert(plan.exists(NoKey.bounded),
        s"expected a no-key KeyedBoundedAggExec:\n${on.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("the global 7-row rolling mean — the reference W1 shape — plans Window-free") {
    fixture.createOrReplaceTempView("gba_t")
    checkRewritten(spark.sql(
      """SELECT id,
        |  avg(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm7
        |FROM gba_t""".stripMargin))
  }

  test("sum/count/min/max/avg/first/last over bounded frames match the window exactly") {
    fixture.createOrReplaceTempView("gba_t2")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(v)   OVER w AS s3,
        |  count(v) OVER w AS c3,
        |  count(*) OVER w AS cs3,
        |  min(v)   OVER w AS mn3,
        |  max(v)   OVER w AS mx3,
        |  avg(v)   OVER w AS av3,
        |  first_value(v) OVER w AS fv3,
        |  last_value(v)  OVER w AS lv3,
        |  max(concat('s', CAST(v AS STRING))) OVER w AS mxs3
        |FROM gba_t2
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("a strictly-preceding frame end (5 PRECEDING AND 2 PRECEDING) clips and empties exactly") {
    fixture.createOrReplaceTempView("gba_t3")
    // first rows: empty frames → init evaluation (null sum / zero count)
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(v)   OVER w AS s52,
        |  count(v) OVER w AS c52,
        |  avg(d)   OVER w AS a52
        |FROM gba_t3
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING)
        |""".stripMargin))
  }

  test("decimal rolling sum keeps Sum's own widening across the partition seam") {
    fixture.createOrReplaceTempView("gba_t4")
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sd
        |FROM gba_t4""".stripMargin))
  }

  test("min_periods parity: the pandas-style qualified rolling mean is exact") {
    // the reference's min_periods=7 spelling: value only when the frame
    // is full — the composed CASE must survive the rewrite unchanged
    fixture.createOrReplaceTempView("gba_t5")
    checkRewritten(spark.sql(
      """SELECT id,
        |  CASE WHEN count(v) OVER w = 7 THEN avg(v) OVER w END AS mm7
        |FROM gba_t5
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("mixed node: bounded + running + rank + lag stack over ONE exchange") {
    fixture.createOrReplaceTempView("gba_t6")
    val df = spark.sql(
      """SELECT id,
        |  avg(v) OVER (ORDER BY v, id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm7,
        |  sum(v) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  row_number() OVER (ORDER BY v, id) AS rn,
        |  lag(v, 2)    OVER (ORDER BY v, id) AS pv
        |FROM gba_t6""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.bounded) &&
      plan.exists(NoKey.running) &&
      plan.exists(NoKey.rank) &&
      plan.exists(NoKey.offset),
      s"expected all four execs stacked:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"stack must share one range exchange:\n${df.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("frames beyond maxBoundedFrame keep Spark's plan") {
    import org.apache.spark.sql.expressions.Window
    spark.conf.set(KeyedWindowRule.MaxBoundedFrameConf, "16")
    try {
      val df = fixture.withColumn("s",
        sum("v").over(Window.orderBy("v", "id").rowsBetween(-17, 0)))
      assert(!nodes(df).exists(NoKey.bounded),
        s"k=17 must stay on WindowExec at cap 16:\n${df.queryExecution.executedPlan}")
      assert(nodes(df).exists(_.isInstanceOf[WindowExec]))
      val ok = fixture.withColumn("s",
        sum("v").over(Window.orderBy("v", "id").rowsBetween(-16, 0)))
      assert(nodes(ok).exists(NoKey.bounded))
    } finally spark.conf.unset(KeyedWindowRule.MaxBoundedFrameConf)
  }

  test("centered and FOLLOWING frames fold exactly through the forward context") {
    // two-sided and pure-lookahead frames (r11 session 2): pending rows
    // finalize when the row maxFwd ahead arrives, or at the drain
    // against the stitched forward context
    fixture.createOrReplaceTempView("gba_fwd")
    checkRewritten(spark.sql(
      """SELECT id,
        |  avg(v)   OVER (ORDER BY v, id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS centered7,
        |  sum(v)   OVER (ORDER BY v, id
        |    ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS ahead6,
        |  count(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN 2 FOLLOWING AND 7 FOLLOWING) AS far6,
        |  max(concat('s', CAST(v AS STRING))) OVER (ORDER BY v, id
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mxs3,
        |  sum(d)   OVER (ORDER BY id
        |    ROWS BETWEEN 4 PRECEDING AND 2 FOLLOWING) AS sd7
        |FROM gba_fwd""".stripMargin))
    // a frame wider than the data: every seam and both clips crossed
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN 900 PRECEDING AND 900 FOLLOWING) AS s
        |FROM gba_fwd""".stripMargin))
  }

  test("moments and correlation fold exactly over bounded frames (bounded-only whitelist)") {
    // stddev/variance/corr/covar are float-order-sensitive: they ride
    // ONLY the bounded execs (sequential re-fold = WindowExec's own
    // order) — pinned bit-identical here; the running path must refuse.
    // corr's operands must VARY within each frame (d, id do; v is
    // frame-constant under the v-led order): a zero variance makes
    // Spark's own corr throw DIVIDE_BY_ZERO under ANSI in either plan
    fixture.createOrReplaceTempView("gba_mom")
    checkRewritten(spark.sql(
      """SELECT id,
        |  stddev_samp(v) OVER w AS sd,
        |  var_pop(v)     OVER w AS vp,
        |  stddev_pop(d)  OVER w AS sdp,
        |  corr(d, id)    OVER w AS cr,
        |  covar_samp(v, id) OVER w AS cv
        |FROM gba_mom
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN 9 PRECEDING AND 2 FOLLOWING)
        |""".stripMargin))
    // a RUNNING stddev merges partials (different float order) — it must
    // stay on Spark's window, not silently ride the prefix machinery
    val running = spark.sql(
      """SELECT id, stddev_samp(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sd
        |FROM gba_mom""".stripMargin)
    assert(!nodes(running).exists(NoKey.running),
      s"running stddev must not ride the partial-merge path:\n${running.queryExecution.executedPlan}")
    assert(nodes(running).exists(_.isInstanceOf[WindowExec]))
  }

  test("RANGE k-preceding frames ride RangeAggExec, not the row-count exec (r11 #1)") {
    import org.apache.spark.sql.expressions.Window
    val ranged = fixture.withColumn("s",
      sum("v").over(Window.orderBy("id").rangeBetween(-3, 0)))
    assert(!nodes(ranged).exists(NoKey.bounded))
    assert(nodes(ranged).exists(_.isInstanceOf[RangeAggExec]),
      s"value-distance trailing frame must plan RangeAggExec:\n${ranged.queryExecution.executedPlan}")
    assert(!nodes(ranged).exists(_.isInstanceOf[WindowExec]))
  }

  test("ignore-nulls lag(e, 1) rewrites as a Last exclusive prefix (ADVICE r10 #4)") {
    fixture.createOrReplaceTempView("gba_ign")
    // null default: the bare gap-fill shape
    val df = spark.sql(
      """SELECT id, v,
        |  lag(v) IGNORE NULLS OVER (ORDER BY v, id) AS prev_seen
        |FROM gba_ign""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.running),
      s"expected the Last(ignoreNulls) fold:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived:\n${df.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("ignore-nulls lag(e, 1, default) grafts the default exactly; n > 1 rides the last-n ring (r12)") {
    fixture.createOrReplaceTempView("gba_ign2")
    // non-null default: returned exactly when NO preceding non-null
    // value exists (the whole-frame head), never for mid-frame gaps
    val df = spark.sql(
      """SELECT id,
        |  lag(v, 1, -99) IGNORE NULLS OVER (ORDER BY v, id) AS pv
        |FROM gba_ign2""".stripMargin)
    val onRows = df.collect()
    assert(!nodes(df).exists(_.isInstanceOf[WindowExec]))
    assert(onRows.count(_.getAs[Long]("pv") == -99L) >= 1,
      "at least the global head row must carry the default")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
    // n > 1 ignore-nulls: since round 12 the NthLastRing value-ring
    // plans it through the running exec (exactness pinned in
    // NthRingSpec and the props batteries); only the plan shape here
    val n2 = spark.sql(
      """SELECT id, lag(v, 2) IGNORE NULLS OVER (ORDER BY v, id) AS pv2
        |FROM gba_ign2""".stripMargin)
    assert(!nodes(n2).exists(_.isInstanceOf[WindowExec]),
      s"lag(e,2) ignore-nulls must ride the ring rewrite:\n${n2.queryExecution.executedPlan}")
    assert(nodes(n2).exists(NoKey.running))
  }

  test("empty input and a frame larger than the data are exact") {
    fixture.createOrReplaceTempView("gba_t9")
    // AQE may fold the empty stage away entirely — only the identity
    // (zero rows either way) is pinned here
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN 900 PRECEDING AND CURRENT ROW) AS s
        |FROM gba_t9 WHERE id < 0""".stripMargin), expectBounded = false)
    // k approaching the row count: every partition seam crossed hard
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN 900 PRECEDING AND CURRENT ROW) AS s
        |FROM gba_t9""".stripMargin))
  }

  test("driver-metadata budget: partitions × reach over budget coalesces, exact") {
    // VERDICT r11 "what's wrong" #1: the per-side reach cap guards one
    // factor of the driver-metadata product, not partitions × reach.
    // Under a tiny budget the exec must coalesce CONSECUTIVE sorted
    // partitions (order preserved, no shuffle) until the product fits —
    // parallelism degrades gracefully instead of the driver OOMing — and
    // stay bit-identical.
    fixture.createOrReplaceTempView("gba_budget")
    val q =
      """SELECT id,
        |  sum(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS s,
        |  lag(v, 7) OVER (ORDER BY v, id) AS l7
        |FROM gba_budget""".stripMargin
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val base = spark.sql(q).collect().map(_.toString).sorted.toSeq
      spark.conf.set(BoundaryBudget.Conf, "100")
      try {
        val df = spark.sql(q)
        val rows = df.collect().map(_.toString).sorted.toSeq
        assert(rows === base)
        assert(nodes(df).exists(NoKey.bounded),
          s"budget must not change the PLAN, only the runtime partition " +
            s"count:\n${df.queryExecution.executedPlan}")
        // reach 29 at budget 100 → at most 3 partitions survive
        assert(df.rdd.getNumPartitions <= 3,
          s"expected ≤ 3 coalesced partitions, got ${df.rdd.getNumPartitions}")
      } finally spark.conf.unset(BoundaryBudget.Conf)
      // sanity: without the budget the plan keeps its full parallelism
      assert(spark.sql(q).rdd.getNumPartitions > 3)
    } finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }
}
