package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Inward-suffix frames against an ALL-NULL leading range partition
  * (r13 hardening): nulls sort first, so a dense null group can occupy
  * an entire range partition; its null runs' unbounded-following frames
  * span every later row, and the BAND-CUT suffix seed must recover the
  * next partition's head band through the stitch even though the
  * all-null partition has no value threshold to serve context with.
  */
class RangeAggNullPartSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  /** 40% nulls: the range exchange's first partition(s) are all-null. */
  private def fixture: DataFrame =
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(5)) < 2, lit(null))
          .otherwise(pmod(col("id") * 37, lit(40))).as("t"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id") * 13, lit(3)) + 1).cast("int")).as("k3"))

  private def parity(sql: String, keyed: Boolean): Unit = {
    fixture.createOrReplaceTempView("rng_np")
    val on = spark.sql(sql)
    val onRows = on.collect().map(_.toString).sorted.toSeq
    assert(on.queryExecution.executedPlan.toString.contains("RangeAgg"),
      s"rewrite did not fire:\n${on.queryExecution.executedPlan}")
    val conf =
      if (keyed) KeyedWindowRule.RewriteConf else KeyedWindowRule.GlobalRewriteConf
    spark.conf.set(conf, "false")
    val off =
      try spark.sql(sql).collect().map(_.toString).sorted.toSeq
      finally spark.conf.set(conf, "true")
    assert(onRows === off, "inward frames diverged over the all-null partition")
  }

  test("global inward suffix is exact when the first range partition is all-null") {
    parity(
      """SELECT id,
        |  sum(t)   OVER (ORDER BY t RANGE BETWEEN 2 FOLLOWING
        |    AND UNBOUNDED FOLLOWING) AS fut,
        |  count(*) OVER (ORDER BY t RANGE BETWEEN 5 FOLLOWING
        |    AND UNBOUNDED FOLLOWING) AS futc
        |FROM rng_np""".stripMargin, keyed = false)
  }

  test("global inward prefix is exact when the first range partition is all-null") {
    parity(
      """SELECT id,
        |  sum(t)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
        |    AND 2 PRECEDING) AS hist
        |FROM rng_np""".stripMargin, keyed = false)
  }

  test("keyed inward shapes are exact with dense per-key null heads") {
    parity(
      """SELECT id,
        |  sum(t)   OVER (PARTITION BY k3 ORDER BY t
        |    RANGE BETWEEN 3 FOLLOWING AND UNBOUNDED FOLLOWING) AS kfut,
        |  count(*) OVER (PARTITION BY k3 ORDER BY t
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 3 PRECEDING) AS khist
        |FROM rng_np""".stripMargin, keyed = true)
  }

  test("outward half-unbounded stays exact on the same fixture (regression)") {
    parity(
      """SELECT id,
        |  sum(t)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
        |    AND 5 FOLLOWING) AS pre,
        |  count(*) OVER (ORDER BY t RANGE BETWEEN 5 PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS suf
        |FROM rng_np""".stripMargin, keyed = false)
  }
}
