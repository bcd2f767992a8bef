package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The VALUE-DISTANCE (RANGE) trailing-frame arm of the window rewrite
  * (VERDICT r11 missing #1): `agg(x) OVER ([PARTITION BY k] ORDER BY t
  * RANGE BETWEEN Δ PRECEDING AND CURRENT ROW)` — the trailing-by-event-
  * time rolling window (the reference's `w9_window_frames` trailing-2-day
  * shape) — must plan as [[RangeAggExec]] on the shared range exchange
  * (global: full parallelism; keyed: parallelism bounded by data, not
  * ndv) and be BIT-IDENTICAL to the `WindowExec` it replaces, including
  * RANGE peer semantics (later peers at the same order value are IN the
  * frame) and the null peer group. Every refusal edge (descending,
  * FOLLOWING value bounds, non-literal distances, calendar intervals)
  * and the run-time harvest-overflow guard are pinned.
  */
class RangeAggSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  /** 1000 rows over 4 input partitions; t is a tie-heavy event "time"
    * (long, ~50 distinct values, nulls salted) so RANGE peers and the
    * null group both straddle would-be boundaries; ts/dt are true timestamp
    * and date views of it; d decimal; k3 a 3-value key. */
  private def fixture: DataFrame = {
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(11)) === 0, lit(null))
          .otherwise(pmod(col("id") * 37, lit(50))).as("t"),
        (col("id") % 100).cast("decimal(10,2)").as("d"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id") * 13, lit(3)) + 1).cast("int")).as("k3"))
      .withColumn("ts",
        timestamp_seconds(col("t") * 86400 + col("id") % 3))
      .withColumn("dt", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        coalesce(col("t"), lit(0)).cast("int")))
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

  private def checkRewritten(df: => DataFrame, keyed: Boolean = false): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    assert(plan.exists(_.isInstanceOf[RangeAggExec]),
      s"expected RangeAggExec:\n${on.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    val conf =
      if (keyed) KeyedWindowRule.RewriteConf else KeyedWindowRule.GlobalRewriteConf
    spark.conf.set(conf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(conf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("global trailing RANGE frame over a long order: peers + nulls exact") {
    fixture.createOrReplaceTempView("rng_t")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(t)   OVER w AS s5,
        |  count(t) OVER w AS c5,
        |  count(*) OVER w AS cs5,
        |  min(id)  OVER w AS mn5,
        |  max(id)  OVER w AS mx5,
        |  avg(d)   OVER w AS ad5,
        |  first_value(t) OVER w AS fv5,
        |  last_value(t)  OVER w AS lv5
        |FROM rng_t
        |WINDOW w AS (ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("zero distance (RANGE 0 PRECEDING) = the pure peer-group frame") {
    fixture.createOrReplaceTempView("rng_t0")
    checkRewritten(spark.sql(
      """SELECT id, sum(id) OVER (ORDER BY t
        |  RANGE BETWEEN 0 PRECEDING AND CURRENT ROW) AS sp
        |FROM rng_t0""".stripMargin))
  }

  test("timestamp order with a day-time INTERVAL distance — the w9 trailing-2-day shape") {
    fixture.createOrReplaceTempView("rng_ts")
    checkRewritten(spark.sql(
      """SELECT id,
        |  avg(d)   OVER w AS trail_avg,
        |  count(*) OVER w AS trail_n
        |FROM rng_ts
        |WINDOW w AS (ORDER BY ts
        |  RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("date order with an integer day distance") {
    fixture.createOrReplaceTempView("rng_dt")
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY dt
        |  RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS s7d
        |FROM rng_dt""".stripMargin))
  }

  test("bounded-only float moments ride the sequential re-fold exactly") {
    // a UNIQUE order value (id): a tie-heavy order would leave the
    // intra-peer fold order — and so the float bits — arbitrary in
    // EITHER plan; over unique values both plans fold each frame in the
    // same ascending order and must agree bitwise
    fixture.createOrReplaceTempView("rng_mom")
    checkRewritten(spark.sql(
      """SELECT id,
        |  stddev_samp(d) OVER w AS sd,
        |  var_pop(t)     OVER w AS vp,
        |  covar_samp(d, id) OVER w AS cv
        |FROM rng_mom
        |WINDOW w AS (ORDER BY id RANGE BETWEEN 9 PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("keyed trailing RANGE frame (provable low-ndv key) plans keyed, exact") {
    fixture.createOrReplaceTempView("rng_k")
    // pmod(id, 5): expression-bound ndv proof, per-key value distances
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(t)  OVER w AS s5,
        |  avg(d)  OVER w AS a5,
        |  count(*) OVER w AS n5
        |FROM rng_k
        |WINDOW w AS (PARTITION BY pmod(id, 5) ORDER BY t
        |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        |""".stripMargin), keyed = true)
  }

  test("keyed string key via IN-filter pin, interval distance over timestamps") {
    // the pin vouches for a LEAF attribute only (r11 ADVICE): route the
    // fixture through parquet so k3 is a base source column, the
    // l_returnflag shape
    val dir = java.nio.file.Files.createTempDirectory("rng_infilter").toString
    fixture.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rng_k2")
    checkRewritten(spark.sql(
      """SELECT id, k3,
        |  sum(d) OVER w AS s2d
        |FROM rng_k2 WHERE k3 IN ('A', 'N', 'R')
        |WINDOW w AS (PARTITION BY k3 ORDER BY ts
        |  RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND CURRENT ROW)
        |""".stripMargin), keyed = true)
  }

  test("mixed node: RANGE trailing + running + rank stack over ONE exchange") {
    fixture.createOrReplaceTempView("rng_mix")
    val df = spark.sql(
      """SELECT id,
        |  sum(d) OVER (ORDER BY t RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS rsum,
        |  sum(d) OVER (ORDER BY t, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum,
        |  row_number() OVER (ORDER BY t, id) AS rn
        |FROM rng_mix""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.range) &&
      plan.exists(NoKey.running) &&
      plan.exists(NoKey.rank),
      s"expected the three execs stacked:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    // the RANGE node orders by (t) alone, the others by (t, id): one
    // exchange on the FINER (t, id) sort serves all three — the (t)-only
    // requirement is a prefix, so no second exchange may appear
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

  test("two-sided value frames: centered, strictly-preceding and pure-following are exact (r12)") {
    fixture.createOrReplaceTempView("rng_two")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(d)   OVER (ORDER BY t RANGE BETWEEN 5 PRECEDING AND 3 FOLLOWING) AS ctr,
        |  count(*) OVER (ORDER BY t RANGE BETWEEN 9 PRECEDING AND 2 PRECEDING) AS strict,
        |  min(id)  OVER (ORDER BY t RANGE BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fwd0,
        |  max(id)  OVER (ORDER BY t RANGE BETWEEN 2 FOLLOWING AND 6 FOLLOWING) AS fwd2,
        |  avg(d)   OVER (ORDER BY t RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS peers
        |FROM rng_two""".stripMargin))
  }

  test("two-sided interval frame over timestamps; moments fold sequentially") {
    fixture.createOrReplaceTempView("rng_two_ts")
    // unique-order moments (ties would leave the intra-peer fold order
    // arbitrary in either plan — the bounded-moments contract)
    checkRewritten(spark.sql(
      """SELECT id,
        |  avg(d) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' DAY PRECEDING
        |    AND INTERVAL '1' DAY FOLLOWING) AS ctr2d
        |FROM rng_two_ts""".stripMargin))
    checkRewritten(spark.sql(
      """SELECT id,
        |  stddev_samp(d) OVER (ORDER BY id RANGE BETWEEN 9 PRECEDING AND 4 FOLLOWING) AS sd,
        |  var_pop(t)     OVER (ORDER BY id RANGE BETWEEN 6 PRECEDING AND 2 PRECEDING) AS vp
        |FROM rng_two_ts""".stripMargin))
  }

  test("keyed two-sided value frames: strictly-preceding, centered and pure-following, per key") {
    fixture.createOrReplaceTempView("rng_two_k")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(t)   OVER wk AS s_strict,
        |  sum(d)   OVER (PARTITION BY pmod(id, 5) ORDER BY t
        |    RANGE BETWEEN 5 PRECEDING AND 3 FOLLOWING) AS s_ctr,
        |  count(*) OVER (PARTITION BY pmod(id, 5) ORDER BY t
        |    RANGE BETWEEN 1 FOLLOWING AND 4 FOLLOWING) AS n_fwd
        |FROM rng_two_k
        |WINDOW wk AS (PARTITION BY pmod(id, 5) ORDER BY t
        |  RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin),
      keyed = true)
    // the IN-filter-pinned string key too: forward contexts must chain
    // key-scoped across the (k3, ts) range partitions
    val dir = java.nio.file.Files.createTempDirectory("rng_two_k3").toString
    fixture.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rng_two_k3")
    checkRewritten(spark.sql(
      """SELECT id, k3,
        |  avg(d) OVER (PARTITION BY k3 ORDER BY ts
        |    RANGE BETWEEN INTERVAL '2' DAY PRECEDING
        |      AND INTERVAL '1' DAY FOLLOWING) AS ctr
        |FROM rng_two_k3 WHERE k3 IN ('A', 'N', 'R')""".stripMargin),
      keyed = true)
  }

  test("forward harvest overflow refuses loudly instead of answering wrong") {
    fixture.createOrReplaceTempView("rng_fovf")
    spark.conf.set(KeyedWindowRule.MaxRangeRowsConf, "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val ex = intercept[SparkException] {
        spark.sql(
          """SELECT id, sum(d) OVER (ORDER BY t
            |  RANGE BETWEEN CURRENT ROW AND 1000 FOLLOWING) AS s
            |FROM rng_fovf""".stripMargin).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("Range-frame rewrite")),
        s"unexpected failure: $ex")
    } finally {
      spark.conf.unset(KeyedWindowRule.MaxRangeRowsConf)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("calendar-month frames: trailing, two-sided and keyed, over timestamps AND dates (r12)") {
    // days 0..119 from 2024-01-05: month-end clamping is exercised
    // (Mar 31 − 1 month → Feb 29 in 2024, Spark's own YM arithmetic is
    // evaluated per peer run) and frames span month-length variation
    val f = spark.range(0, 360, 1, 4)
      .select(col("id"),
        (col("id") % 100).cast("decimal(10,2)").as("d"),
        timestamp_seconds(col("id") / 3 * 86400 + col("id") % 7 * 3600 +
          lit(1704412800L)).as("ts"),
        date_add(lit(java.sql.Date.valueOf("2024-01-05")),
          (col("id") / 3).cast("int")).as("dt"))
    f.createOrReplaceTempView("rng_mon")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(d)   OVER (ORDER BY ts RANGE BETWEEN INTERVAL '1' MONTH PRECEDING
        |    AND CURRENT ROW) AS m1,
        |  count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' MONTH PRECEDING
        |    AND INTERVAL '1' MONTH PRECEDING) AS m21,
        |  min(id)  OVER (ORDER BY ts RANGE BETWEEN INTERVAL '1' MONTH PRECEDING
        |    AND INTERVAL '1' MONTH FOLLOWING) AS mctr
        |FROM rng_mon""".stripMargin))
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY dt
        |  RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) AS dm1
        |FROM rng_mon""".stripMargin))
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (PARTITION BY pmod(id, 3) ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) AS km1
        |FROM rng_mon""".stripMargin), keyed = true)
    // mixed units (a month edge against a fixed-day edge) are rejected
    // by Spark's OWN analyzer (SPECIFIED_WINDOW_FRAME_DIFF_TYPES), so
    // the matcher's mixed arm is defensive only
  }

  test("refusals: descending, calendar-second intervals on dates, and non-integer orders stay on WindowExec") {
    fixture.createOrReplaceTempView("rng_ref")
    def staysWindow(sql: String): Unit = {
      val df = spark.sql(sql)
      assert(!nodes(df).exists(_.isInstanceOf[RangeAggExec]),
        s"must refuse:\n${df.queryExecution.executedPlan}")
      assert(nodes(df).exists(_.isInstanceOf[WindowExec]))
    }
    staysWindow(
      """SELECT id, sum(d) OVER (ORDER BY t DESC
        |  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s
        |FROM rng_ref""".stripMargin)
    // double order value: not an integer-backed sort key
    staysWindow(
      """SELECT id, sum(d) OVER (ORDER BY CAST(t AS DOUBLE)
        |  RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW) AS s
        |FROM rng_ref""".stripMargin)
    // Long.MinValue distance: negation overflows, so the sign-based
    // inward/outward classification would misread it — signedBound must
    // refuse (the RMonths Int.MinValue discipline; review r13)
    assert(RangeFrames.signedBound(
      org.apache.spark.sql.catalyst.expressions.Literal(
        Long.MinValue, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType).isEmpty,
      "RFixed(Long.MinValue) must refuse")
    staysWindow(
      s"""SELECT id, sum(d) OVER (ORDER BY t
         |  RANGE BETWEEN UNBOUNDED PRECEDING
         |  AND CAST(${Long.MinValue}L AS BIGINT) FOLLOWING) AS s
         |FROM rng_ref""".stripMargin)
    // absurd month interval (> MaxMonths): reachOf's conservative 31-day
    // expansion would overflow Long µs — the rewrite must refuse and let
    // Spark answer rather than evict-everything silently (ADVICE r12)
    spark.range(0, 20, 1, 2)
      .select(col("id"), col("id").cast("decimal(10,2)").as("d"),
        timestamp_seconds(col("id") * 86400 + lit(1704412800L)).as("ts"))
      .createOrReplaceTempView("rng_mon_ref")
    staysWindow(
      """SELECT id, sum(d) OVER (ORDER BY ts
        |  RANGE BETWEEN INTERVAL '5000000' MONTH PRECEDING AND CURRENT ROW) AS s
        |FROM rng_mon_ref""".stripMargin)
  }

  test("half-unbounded RANGE frames: prefix/suffix seeds, global + keyed, nulls exact (r12 #3)") {
    // seams must be real or the seeds are never exercised: keep the tiny
    // shuffle at its full partition count
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      fixture.createOrReplaceTempView("rng_hu")
      // global: cumulative-with-lookahead (streams with Δ lag), eager
      // strictly-preceding prefix, remaining-mass suffix, and a bounded
      // frame mixed into the same exec node; t's nulls pin the null-
      // group-included semantics of both unbounded sides
      checkRewritten(spark.sql(
        """SELECT id,
          |  sum(t)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 5 FOLLOWING) AS pre5,
          |  count(*) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 0 FOLLOWING) AS pre0,
          |  avg(d)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 3 FOLLOWING) AS pread,
          |  sum(t)   OVER (ORDER BY t RANGE BETWEEN 5 PRECEDING
          |    AND UNBOUNDED FOLLOWING) AS suf5,
          |  count(t) OVER (ORDER BY t RANGE BETWEEN 0 PRECEDING
          |    AND UNBOUNDED FOLLOWING) AS sufc,
          |  min(id)  OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
          |    AND CURRENT ROW) AS b3
          |FROM rng_hu""".stripMargin))
      // keyed: the seeds chain key-scoped across partition seams
      checkRewritten(spark.sql(
        """SELECT id,
          |  sum(t)   OVER (PARTITION BY k3 ORDER BY t
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 5 FOLLOWING) AS kpre,
          |  count(*) OVER (PARTITION BY k3 ORDER BY t
          |    RANGE BETWEEN 5 PRECEDING AND UNBOUNDED FOLLOWING) AS ksuf
          |FROM rng_hu""".stripMargin), keyed = true)
      // calendar-month lookahead over timestamps composes with the
      // prefix buffer (per-run YM edges stay monotone)
      checkRewritten(spark.sql(
        """SELECT id, sum(d) OVER (ORDER BY ts
          |  RANGE BETWEEN UNBOUNDED PRECEDING
          |  AND INTERVAL '1' MONTH FOLLOWING) AS mpre
          |FROM rng_hu""".stripMargin))
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("half-unbounded refusals: moments, and non-commutative aggregates on inward shapes") {
    fixture.createOrReplaceTempView("rng_hu_ref")
    def staysWindow(sql: String): Unit = {
      val df = spark.sql(sql)
      assert(!nodes(df).exists(_.isInstanceOf[RangeAggExec]),
        s"must refuse:\n${df.queryExecution.executedPlan}")
      assert(nodes(df).exists(_.isInstanceOf[WindowExec]))
    }
    // float moments need the bounded sequential fold
    staysWindow(
      """SELECT id, stddev_samp(d) OVER (ORDER BY t
        |  RANGE BETWEEN UNBOUNDED PRECEDING AND 5 FOLLOWING) AS sd
        |FROM rng_hu_ref""".stripMargin)
    // INWARD shapes (r13) ride band-split seeds whose eviction-path
    // folds the suffix mirror cannot keep stream-ordered — first/last
    // (order-sensitive buffers) refuse there, commutative folds heal
    staysWindow(
      """SELECT id, first(d) OVER (ORDER BY t
        |  RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS f
        |FROM rng_hu_ref""".stripMargin)
    staysWindow(
      """SELECT id, last(d) OVER (ORDER BY t
        |  RANGE BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS l
        |FROM rng_hu_ref""".stripMargin)
  }

  test("INWARD half-unbounded RANGE frames: band-split seeds, global + keyed (r13)") {
    // `UNBOUNDED PRECEDING AND k PRECEDING` (strict-history running
    // totals) and `k FOLLOWING AND UNBOUNDED FOLLOWING` (strict-future
    // remaining mass) — the last two cells of the RANGE bound lattice.
    // Seams must be real or the band-split seeds are never exercised.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      fixture.createOrReplaceTempView("rng_in")
      checkRewritten(spark.sql(
        """SELECT id,
          |  sum(t)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 2 PRECEDING) AS hist2,
          |  count(*) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 7 PRECEDING) AS hist7,
          |  avg(d)   OVER (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND 1 PRECEDING) AS hista,
          |  sum(t)   OVER (ORDER BY t RANGE BETWEEN 2 FOLLOWING
          |    AND UNBOUNDED FOLLOWING) AS fut2,
          |  count(t) OVER (ORDER BY t RANGE BETWEEN 11 FOLLOWING
          |    AND UNBOUNDED FOLLOWING) AS fut11,
          |  min(id)  OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING
          |    AND CURRENT ROW) AS b3
          |FROM rng_in""".stripMargin))
      // keyed: the band-cut seeds chain key-scoped across seams
      checkRewritten(spark.sql(
        """SELECT id,
          |  sum(t)   OVER (PARTITION BY k3 ORDER BY t
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 4 PRECEDING) AS khist,
          |  count(*) OVER (PARTITION BY k3 ORDER BY t
          |    RANGE BETWEEN 4 FOLLOWING AND UNBOUNDED FOLLOWING) AS kfut
          |FROM rng_in""".stripMargin), keyed = true)
      // inward + outward + bounded mixed in one node, and a
      // calendar-month inward edge (per-run YM arithmetic on the gate)
      checkRewritten(spark.sql(
        """SELECT id,
          |  sum(d) OVER (ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND INTERVAL '1' MONTH PRECEDING) AS mhist,
          |  count(*) OVER (ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING
          |    AND INTERVAL '5' DAY FOLLOWING) AS pre5,
          |  max(d) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' DAY FOLLOWING
          |    AND UNBOUNDED FOLLOWING) AS dfut
          |FROM rng_in""".stripMargin))
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("harvest overflow refuses loudly instead of answering wrong") {
    // Δ spans the WHOLE value domain (every row within distance of every
    // later partition edge) at a 16-row cap: pass 1 must record the drop
    // and the driver stitch must refuse — never emit a silent undercount.
    fixture.createOrReplaceTempView("rng_ovf")
    spark.conf.set(KeyedWindowRule.MaxRangeRowsConf, "16")
    // AQE would coalesce the tiny shuffle to ONE partition — no seams,
    // no harvest, no refusal to exercise
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val ex = intercept[SparkException] {
        spark.sql(
          """SELECT id, sum(d) OVER (ORDER BY t
            |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS s
            |FROM rng_ovf""".stripMargin).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("Range-frame rewrite")),
        s"unexpected failure: $ex")
    } finally {
      spark.conf.unset(KeyedWindowRule.MaxRangeRowsConf)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("inward band overflow refuses loudly instead of answering wrong (r13)") {
    // an inward |up| spanning the whole value domain forces every row
    // into the band: the 16-row cap drops rows whose band membership a
    // later partition's cutoff could still need — the stitch must refuse
    // (dropped rows were folded into the band-cut seed, and the existing
    // back-stitch guard fires exactly when that fold could be wrong),
    // never answer with a silently mis-split seed/context.
    fixture.createOrReplaceTempView("rng_in_ovf")
    spark.conf.set(KeyedWindowRule.MaxRangeRowsConf, "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val ex = intercept[SparkException] {
        spark.sql(
          """SELECT id, sum(t) OVER (ORDER BY t
            |  RANGE BETWEEN UNBOUNDED PRECEDING AND 1000 PRECEDING) AS s
            |FROM rng_in_ovf""".stripMargin).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("Range-frame rewrite")),
        s"unexpected failure: $ex")
      // and at a workable cap the same shape answers exactly
      spark.conf.set(KeyedWindowRule.MaxRangeRowsConf, "16384")
      checkRewritten(spark.sql(
        """SELECT id, sum(t) OVER (ORDER BY t
          |  RANGE BETWEEN UNBOUNDED PRECEDING AND 1000 PRECEDING) AS s
          |FROM rng_in_ovf""".stripMargin))
    } finally {
      spark.conf.unset(KeyedWindowRule.MaxRangeRowsConf)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("a sparse wide frame under the cap crosses every seam exactly") {
    // Δ = whole domain but only 1000 rows total: the harvest holds
    // everything (default cap 16384) and every partition's frame reaches
    // back through all prior partitions — the hardest stitch path
    fixture.createOrReplaceTempView("rng_wide")
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY t
        |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS s
        |FROM rng_wide""".stripMargin))
  }

  test("empty input is exact") {
    fixture.createOrReplaceTempView("rng_empty")
    val df = spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY t
        |  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s
        |FROM rng_empty WHERE id < 0""".stripMargin)
    assert(df.collect().isEmpty)
  }
}
