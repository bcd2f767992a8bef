package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The ROWS half-unbounded cells (r13): `agg OVER (ROWS UNBOUNDED
  * PRECEDING AND k PRECEDING/FOLLOWING)` beyond the running arms heals
  * by COMPOSITION — `lag(running, k, empty-frame value)` backward,
  * `lead(running, k, total)` forward — both pieces riding the existing
  * execs over one range exchange. Global-only by design (a keyed window
  * is already hash-parallel).
  */
class RowsShiftSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  private def fixture: DataFrame =
    spark.range(0, 500, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(7)) === 0, lit(null))
          .otherwise(col("id") % 90).as("v"),
        (col("id") % 100).cast("decimal(10,2)").as("d"))

  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    flatten(df.queryExecution.executedPlan)
  }

  private def checkComposed(sql: String): Unit = {
    fixture.createOrReplaceTempView("rshift")
    val on = spark.sql(sql)
    val onRows = on.collect().map(_.toString).sorted.toSeq
    assert(!nodes(on).exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived:\n${on.queryExecution.executedPlan}")
    val planStr = on.queryExecution.executedPlan.toString
    assert(planStr.contains("RunningAgg"), s"no running piece:\n$planStr")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val off =
      try spark.sql(sql).collect().map(_.toString).sorted.toSeq
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows === off)
  }

  test("ROWS UNBOUNDED..k PRECEDING composes to lag(running), bit-identical") {
    checkComposed(
      """SELECT id,
        |  sum(v)   OVER w AS s, count(v) OVER w AS c, count(*) OVER w AS cs,
        |  min(v)   OVER w AS mn, max(v)  OVER w AS mx, avg(d) OVER w AS av
        |FROM rshift
        |WINDOW w AS (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |  AND 3 PRECEDING)""".stripMargin)
    checkComposed(
      """SELECT id, sum(d) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |  AND 17 PRECEDING) AS s
        |FROM rshift""".stripMargin)
  }

  test("ROWS UNBOUNDED..k FOLLOWING composes to lead(running, k, total), bit-identical") {
    checkComposed(
      """SELECT id,
        |  sum(v)   OVER w AS s, count(*) OVER w AS cs,
        |  min(v)   OVER w AS mn, avg(d) OVER w AS av
        |FROM rshift
        |WINDOW w AS (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |  AND 4 FOLLOWING)""".stripMargin)
  }

  test("mixed node: shifted + plain running + rank in one window clause") {
    checkComposed(
      """SELECT id,
        |  sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 2 PRECEDING) AS hist,
        |  count(*) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 5 FOLLOWING) AS look,
        |  sum(v) OVER (ORDER BY id) AS run,
        |  row_number() OVER (ORDER BY id) AS rn
        |FROM rshift""".stripMargin)
  }

  test("empty-frame defaults: count 0, sum null on the first k rows; total on the last k") {
    fixture.createOrReplaceTempView("rshift")
    val rows = spark.sql(
      """SELECT id,
        |  count(*) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 2 PRECEDING) AS c,
        |  sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 2 PRECEDING) AS s,
        |  count(*) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 2 FOLLOWING) AS cf
        |FROM rshift ORDER BY id""".stripMargin).collect()
    assert(rows(0).getLong(1) === 0L && rows(0).isNullAt(2))
    assert(rows(1).getLong(1) === 0L && rows(1).isNullAt(2))
    assert(rows(2).getLong(1) === 1L)
    assert(rows(rows.length - 1).getLong(3) === rows.length.toLong)
    assert(rows(rows.length - 3).getLong(3) === rows.length.toLong)
  }

  test("keyed ROWS-shifted windows stay on WindowExec (hash-parallel already)") {
    fixture.createOrReplaceTempView("rshift")
    val df = spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 3 PRECEDING) AS s
        |FROM rshift""".stripMargin)
    assert(nodes(df).exists(_.isInstanceOf[WindowExec]),
      s"keyed shift must keep Spark's plan:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 500)
  }

  test("an unhealable sibling keeps ONE single window: no split pessimization (ADVICE r13)") {
    // a rows-shift target sharing its node with a shape the family
    // cannot heal (a bounded ROWS frame beyond maxBoundedFrame): the
    // split would leave a residual one-task WindowExec PLUS an extra
    // window stage, so the rule must leave the ORIGINAL single window
    fixture.createOrReplaceTempView("rshift_mix")
    val df = spark.sql(
      """SELECT id,
        |  sum(v) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 3 PRECEDING) AS shifted,
        |  sum(v) OVER (ORDER BY id
        |    ROWS BETWEEN 2000000 PRECEDING AND CURRENT ROW) AS huge
        |FROM rshift_mix""".stripMargin)
    val wins = nodes(df).collect { case w: WindowExec => w }
    assert(wins.length === 1,
      s"expected exactly one un-split window:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 500)
  }

  test("plan-provably tiny frames keep the single-task window (cost guard)") {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf) // restore default 4096
    try {
      val tiny = fixture.limit(50)
      tiny.createOrReplaceTempView("rshift_tiny")
      val df = spark.sql(
        """SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED
          |  PRECEDING AND 3 PRECEDING) AS s
          |FROM rshift_tiny""".stripMargin)
      assert(nodes(df).exists(_.isInstanceOf[WindowExec]),
        s"tiny frame must stay a window:\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
}
