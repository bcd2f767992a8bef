package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The automatic unpartitioned-ranking-window rewrite (VERDICT r9 #1):
  * `row_number()/rank()/dense_rank() OVER (ORDER BY ...)` written by a
  * plain SQL/DataFrame user must plan as a no-key [[KeyedRankExec]]
  * (range partition + offset pass), never a single-partition `WindowExec` —
  * and the rewritten result must be BIT-IDENTICAL to the window it
  * replaces, which the spec checks by running every query twice, with
  * the rule on and off.
  */
class GlobalRankRuleSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  /** 1000 rows across 4 input partitions; v has heavy ties (20 distinct
    * values), g a grouping key, and nulls salt every 10th v.
    */
  private def fixture: DataFrame = {
    import spark.implicits._
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) === 0, lit(null))
          .otherwise(pmod(col("id") * 37, lit(20))).as("v"),
        pmod(col("id"), lit(7)).as("g"))
  }

  /** Every node of the executed plan, descending through AQE wrappers
    * and query-stage boundaries (after an action, the final plan nests
    * inside Result/ShuffleQueryStage nodes whose `children` are empty).
    */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }

  /** Run `sql` with the rewrite on and off; assert the on-plan contains
    * a no-key KeyedRankExec and no WindowExec, and both results agree
    * exactly.
    */
  private def checkRewritten(df: => DataFrame): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    assert(plan.exists(NoKey.rank),
      s"expected a no-key KeyedRankExec:\n${on.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("SQL row_number over ORDER BY plans as no-key KeyedRank, no window") {
    fixture.createOrReplaceTempView("grr_t")
    checkRewritten(spark.sql(
      "SELECT id, v, row_number() OVER (ORDER BY v, id) AS rn FROM grr_t"))
  }

  test("rank and dense_rank over a tie-heavy non-total order match the window exactly") {
    fixture.createOrReplaceTempView("grr_t2")
    // no tiebreak: ranks must still be exact because ties share a rank
    checkRewritten(spark.sql(
      """SELECT v, rank() OVER (ORDER BY v) AS rk,
        |       dense_rank() OVER (ORDER BY v) AS drk
        |FROM grr_t2""".stripMargin))
  }

  test("all three rank kinds over one order share ONE range exchange") {
    fixture.createOrReplaceTempView("grr_t3")
    val df = spark.sql(
      """SELECT id, row_number() OVER (ORDER BY v DESC, id) AS rn,
        |       rank() OVER (ORDER BY v DESC, id) AS rk,
        |       dense_rank() OVER (ORDER BY v DESC, id) AS drk
        |FROM grr_t3""".stripMargin)
    checkRewritten(df)
    val plan = nodes(df)
    // row_number resolves with a ROW frame, rank/dense_rank with RANGE,
    // so the analyzer may emit stacked Window nodes → stacked execs; the
    // outer exec's requirement is satisfied by the inner's preserved
    // range partitioning + order, so there must still be exactly ONE
    // exchange however the nodes stack
    val execs = plan.collect { case g: KeyedRankExec if NoKey.rank(g) => g }
    assert(execs.flatMap(_.rankKinds).toSet ===
      Set(RankKind.RowNumber, RankKind.Rank, RankKind.DenseRank))
    val exchanges = plan.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges.length === 1,
      s"stacked rank execs must reuse one range exchange:\n${df.queryExecution.executedPlan}")
  }

  test("ntile and percent_rank rewrite and match the window exactly") {
    fixture.createOrReplaceTempView("grr_t5")
    // ntile: uneven buckets (1000 % 7 != 0); percent_rank: tie-heavy
    // order with no tiebreak — both must be bit-identical to WindowExec
    checkRewritten(spark.sql(
      """SELECT id, v, ntile(7) OVER (ORDER BY v, id) AS nt,
        |       percent_rank() OVER (ORDER BY v) AS pr
        |FROM grr_t5""".stripMargin))
    // more buckets than rows: each row its own bucket
    checkRewritten(spark.sql(
      """SELECT id, ntile(50) OVER (ORDER BY v, id) AS nt
        |FROM grr_t5 WHERE id < 20""".stripMargin))
  }

  test("cume_dist over a tie-heavy order matches the window exactly") {
    fixture.createOrReplaceTempView("grr_t6")
    // cume_dist = (last peer's global position) / N: tied rows share the
    // run-END value, exercising the buffered pass; nulls lead the order
    checkRewritten(spark.sql(
      """SELECT v, cume_dist() OVER (ORDER BY v) AS cd,
        |       percent_rank() OVER (ORDER BY v) AS pr
        |FROM grr_t6""".stripMargin))
    // single row: cd = 1.0 exactly
    checkRewritten(spark.sql(
      "SELECT id, cume_dist() OVER (ORDER BY v) AS cd FROM grr_t6 WHERE id = 3"))
  }

  test("DataFrame-API windows rewrite the same way") {
    import org.apache.spark.sql.expressions.Window
    checkRewritten(fixture.withColumn("rn",
      row_number().over(Window.orderBy(col("v").asc_nulls_first, col("id")))))
  }

  test("the small-frame cost guard keeps provably tiny frames on the window") {
    import org.apache.spark.sql.expressions.Window
    // restore the DEFAULT guard for this test (the suite disables it)
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "4096")
    try {
      // a LIMIT gives the plan a hard maxRows bound — the marker library
      // code puts on bounded level frames; the one-task sort of ≤4096
      // rows beats a range exchange whose sampling pass re-executes the
      // upstream
      val small = fixture.limit(100)
        .withColumn("rn", row_number().over(Window.orderBy("v", "id")))
      assert(!nodes(small).exists(NoKey.rank),
        s"guard should keep the provably-small frame on the window:\n${small.queryExecution.executedPlan}")
      assert(nodes(small).exists(_.isInstanceOf[WindowExec]))
      // bound above the threshold → rewrite (and a frame with no
      // maxRows at all — any scan — rewrites a fortiori)
      val big = spark.range(100000)
        .withColumn("rn", row_number().over(Window.orderBy("id")))
      assert(nodes(big).exists(NoKey.rank),
        "a frame without a small-bound proof must still rewrite")
    } finally spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }

  test("top-k rank filters keep Spark's WindowGroupLimit path") {
    fixture.createOrReplaceTempView("grr_t4")
    val df = spark.sql(
      """SELECT * FROM (
        |  SELECT id, v, row_number() OVER (ORDER BY v, id) AS rn FROM grr_t4
        |) WHERE rn <= 5""".stripMargin)
    val plan = nodes(df)
    assert(!plan.exists(NoKey.rank),
      s"top-k shape must stay with InferWindowGroupLimit:\n${df.queryExecution.executedPlan}")
    assert(plan.exists(p => p.isInstanceOf[WindowGroupLimitExec] ||
      p.isInstanceOf[WindowExec]),
      s"expected the window top-k plan:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 5)
  }

  test("partitioned windows and non-rank functions are untouched") {
    import org.apache.spark.sql.expressions.Window
    // g = pmod(id, 7) is PROVABLY low-ndv, so since r11 the keyed rank
    // rule heals this one (KeyedWindowSpec owns that family); this
    // partitioned window must never plan as a no-key exec
    val partitioned = fixture.withColumn("rn",
      row_number().over(Window.partitionBy("g").orderBy("v", "id")))
    assert(!nodes(partitioned).exists(NoKey.rank))
    assert(nodes(partitioned).exists(NoKey.keyed(_, "KeyedRank")))
    // an UNPROVABLE partition key keeps Spark's hash-clustered window
    val unprovable = fixture.withColumn("rn",
      row_number().over(Window.partitionBy("id").orderBy("v")))
    assert(!nodes(unprovable).exists(_.isInstanceOf[KeyedRankExec]))
    assert(nodes(unprovable).exists(_.isInstanceOf[WindowExec]))
    // running sum over the full frame: not a rank — handled by the
    // prefix-sum rewrite instead (GlobalRunningAggSpec), never by
    // the rank exec, and never left as a single-partition window
    val cumsum = fixture.limit(50).withColumn("cs",
      sum("id").over(Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(!nodes(cumsum).exists(NoKey.rank))
    assert(nodes(cumsum).exists(NoKey.running))
    assert(!nodes(cumsum).exists(_.isInstanceOf[WindowExec]))
  }

  test("a node mixing a rank and a lag stacks both execs over one exchange") {
    // window expressions group into nodes by (partitionSpec, orderSpec)
    // — frames are per-expression — so row_number and lag share ONE
    // node; since round 10 BOTH kinds rewrite (no-key rank + offset execs
    // stacked, sharing the range exchange), and the node must vanish
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("v", "id")
    val mixed = fixture.limit(50)
      .withColumn("rn", row_number().over(w))
      .withColumn("lv", lag("v", 1).over(w))
    val onRows = mixed.collect()
    val plan = nodes(mixed)
    assert(plan.exists(NoKey.rank) &&
      plan.exists(NoKey.offset),
      s"mixed rank+lag must stack both execs:\n${mixed.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"stack must share one exchange:\n${mixed.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try mixed.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("empty input and conf opt-out") {
    import org.apache.spark.sql.expressions.Window
    val empty = fixture.filter(col("id") < 0)
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    assert(empty.collect().isEmpty)
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    try {
      val df = fixture.withColumn("rn",
        row_number().over(Window.orderBy("v", "id")))
      assert(!nodes(df).exists(NoKey.rank),
        "conf=false must disable the rewrite")
    } finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
  }

  test("rewritten rank agrees with GlobalRank.withRowNumber on a total order") {
    import org.apache.spark.sql.expressions.Window
    val viaRule = fixture
      .withColumn("rn", row_number().over(Window.orderBy("v", "id")))
      .select(col("id"), col("rn").cast("long").as("rn"))
    val viaHelper = graft.stats.GlobalRank.withRowNumber(
        fixture, Seq(col("v").asc_nulls_first, col("id")), "rn")
      .select(col("id"), col("rn"))
    assert(viaRule.exceptAll(viaHelper).count() === 0L)
    assert(viaHelper.exceptAll(viaRule).count() === 0L)
  }
}
