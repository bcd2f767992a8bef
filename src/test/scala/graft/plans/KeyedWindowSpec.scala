package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The automatic low-ndv PARTITION BY rewrite (VERDICT r10 #3): keyed
  * running aggregates and offsets over a PROVABLY small key domain must
  * plan as [[KeyedRunningAggExec]]/[[KeyedOffsetExec]] — one range
  * exchange on (keys, order), parallelism bounded by data, never by
  * ndv(key) — and be BIT-IDENTICAL to Spark's hash-clustered window.
  * Each evidence arm of the ndv gate (expression bound, filter pin,
  * catalog stats, session hint) is pinned, as is every refusal path.
  */
class KeyedWindowSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(KeyedWindowRule.SmallFrameConf, "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset(KeyedWindowRule.SmallFrameConf)
    spark.conf.unset(KeyedWindowRule.NdvHintsConf)
    super.afterAll()
  }

  private lazy val spark = TestSpark.spark

  /** 1000 rows over 4 input partitions; k3 = 3-value string key (the
    * l_returnflag shape), v tie-heavy with null salt, d decimal. */
  private def fixture: DataFrame = {
    spark.range(0, 1000, 1, 4)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) === 0, lit(null))
          .otherwise(pmod(col("id") * 37, lit(20))).as("v"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id") * 13, lit(3)) + 1).cast("int")).as("k3"),
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
                             expect: Class[_]*): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    expect.foreach { cls =>
      assert(plan.exists(p => cls.isAssignableFrom(p.getClass)),
        s"expected ${cls.getSimpleName}:\n${on.queryExecution.executedPlan}")
    }
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("pmod-keyed running sum rewrites and matches the hash window exactly") {
    fixture.createOrReplaceTempView("kw_t")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(v)   OVER w AS cs,
        |  count(v) OVER w AS cn,
        |  min(v)   OVER w AS mn,
        |  max(v)   OVER w AS mx,
        |  avg(d)   OVER w AS ad,
        |  first_value(v) OVER w AS fv,
        |  last_value(v)  OVER w AS lv
        |FROM kw_t
        |WINDOW w AS (PARTITION BY pmod(id, 5) ORDER BY v, id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |""".stripMargin), classOf[KeyedRunningAggExec])
  }

  test("the default RANGE frame back-fills per (key, order)-peer run") {
    fixture.createOrReplaceTempView("kw_t2")
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v) AS cs
        |FROM kw_t2""".stripMargin), classOf[KeyedRunningAggExec])
  }

  test("the exclusive prefix and the ignore-nulls lag(1) reset per key") {
    fixture.createOrReplaceTempView("kw_t3")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(v) OVER (PARTITION BY pmod(id, 4) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb,
        |  lag(v) IGNORE NULLS OVER (PARTITION BY pmod(id, 4)
        |    ORDER BY v, id) AS pvn
        |FROM kw_t3""".stripMargin), classOf[KeyedRunningAggExec])
  }

  test("keyed lag/lead stitch boundary values per key, defaults at key edges") {
    fixture.createOrReplaceTempView("kw_t4")
    checkRewritten(spark.sql(
      """SELECT id,
        |  lag(v)        OVER w AS pv,
        |  lag(v, 3, -1) OVER w AS pv3,
        |  lead(v, 2)    OVER w AS nv2,
        |  lead(d)       OVER w AS nd
        |FROM kw_t4
        |WINDOW w AS (PARTITION BY pmod(id, 3) ORDER BY v, id)
        |""".stripMargin), classOf[KeyedOffsetExec])
  }

  test("a mixed keyed node stacks running + offset over ONE exchange") {
    fixture.createOrReplaceTempView("kw_t5")
    val df = spark.sql(
      """SELECT id,
        |  sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  lag(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id) AS pv
        |FROM kw_t5""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(_.isInstanceOf[KeyedRunningAggExec]) &&
      plan.exists(_.isInstanceOf[KeyedOffsetExec]),
      s"expected both keyed execs:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"keyed stack must share one range exchange:\n${df.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("evidence arms: boolean key, CASE-literal key, IN-filter pin") {
    fixture.createOrReplaceTempView("kw_t6")
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY (id % 2 = 0) ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t6""".stripMargin), classOf[KeyedRunningAggExec])
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (
        |  PARTITION BY CASE WHEN v IS NULL THEN 'x' WHEN v < 10 THEN 'lo'
        |               ELSE 'hi' END
        |  ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t6""".stripMargin), classOf[KeyedRunningAggExec])
    // the l_returnflag shape: a raw SOURCE column (leaf attribute, so no
    // project inlining can substitute it away), provable only through
    // the upstream IN filter
    val dir = java.nio.file.Files.createTempDirectory("kw_infilter").toString
    fixture.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("kw_t6p")
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t6p WHERE k3 IN ('A', 'N', 'R')""".stripMargin),
      classOf[KeyedRunningAggExec])
    // without the filter the same raw column is unprovable → fires only
    // OPTIMISTICALLY (budget-guarded), never as a proven plan
    val bare = spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t6p""".stripMargin)
    assert(nodes(bare).collect {
      case k: KeyedRunningAggExec => k.optimistic }.forall(_ == true),
      s"filter-less key must not plan as PROVEN:\n${bare.queryExecution.executedPlan}")
  }

  test("a session ndv hint proves a raw data column (the loader handoff)") {
    // hints are LEAF-scoped (r11 ADVICE): they vouch for a BASE column of
    // a source relation, so the fixture goes through parquet — k3 is then
    // a leaf attribute, the shape the fixture loaders measure (and the
    // bars shape, where a name arrives via a pure rename of a parquet
    // column)
    val dir = java.nio.file.Files.createTempDirectory("kw_hint").toString
    fixture.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("kw_t7")
    val q =
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t7""".stripMargin
    // no evidence → only the budget-guarded OPTIMISTIC plan may fire;
    // with that arm parked the unproved key keeps Spark's plan
    spark.conf.unset(KeyedWindowRule.NdvHintsConf)
    spark.conf.set(KeyedWindowRule.OptimisticConf, "false")
    try {
      val bare = spark.sql(q)
      assert(!nodes(bare).exists(_.isInstanceOf[KeyedRunningAggExec]),
        s"unprovable ndv must keep Spark's plan:\n${bare.queryExecution.executedPlan}")
      assert(nodes(bare).exists(_.isInstanceOf[WindowExec]))
    } finally spark.conf.unset(KeyedWindowRule.OptimisticConf)
    // hint registered → rewritten AS PROVEN (no runtime budget pre-pass)
    KeyedWindowRule.registerNdvHint(spark, "k3", 3L)
    try {
      checkRewritten(spark.sql(q), classOf[KeyedRunningAggExec])
      // a pure RENAME of the hinted base column still proves (the bars
      // `l_returnflag AS ativo` shape, hint registered under the alias)
      KeyedWindowRule.registerNdvHint(spark, "k3renamed", 3L)
      checkRewritten(spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY k3renamed ORDER BY v, id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM (SELECT id, v, k3 AS k3renamed FROM kw_t7)""".stripMargin),
        classOf[KeyedRunningAggExec])
    } finally spark.conf.unset(KeyedWindowRule.NdvHintsConf)
  }

  test("hint blast radius: a same-named COMPUTED column is NOT proved") {
    // the r11 ADVICE hole: registerNdvHint("ativo", 3) must not vouch for
    // every column named ativo in the session — only base columns of a
    // leaf (possibly renamed). A computed column with the hinted name
    // keeps Spark's plan.
    fixture.createOrReplaceTempView("kw_t7c")
    KeyedWindowRule.registerNdvHint(spark, "k3", 3L)
    try {
      val computed = spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM (SELECT id, v, concat(k3, CAST(id AS STRING)) AS k3
          |      FROM kw_t7c)""".stripMargin)
      // a leak would plan it as PROVEN (optimistic=false, no runtime
      // budget): the computed column must only ever fire budget-guarded
      assert(nodes(computed).collect {
        case k: KeyedRunningAggExec => k.optimistic }.forall(_ == true),
        s"hint leaked onto a computed column:\n${computed.queryExecution.executedPlan}")
    } finally spark.conf.unset(KeyedWindowRule.NdvHintsConf)
  }

  test("conjunct anchoring: NOT(IN)/OR-disjunct filters do NOT prove ndv") {
    // the r11 ADVICE medium: cond.collectFirst matched In/EqualTo ANYWHERE
    // in the condition tree — WHERE NOT (k IN …) or an OR disjunct falsely
    // proved a small domain. Pins must BE top-level conjuncts.
    val dir = java.nio.file.Files.createTempDirectory("kw_conj").toString
    fixture.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("kw_t7n")
    // a false proof would plan these PROVEN (optimistic=false, budget
    // skipped) — they must only ever fire budget-guarded
    def onlyOptimistic(df: DataFrame, what: String): Unit =
      assert(nodes(df).collect {
        case k: KeyedRunningAggExec => k.optimistic }.forall(_ == true),
        s"$what must not prove ndv:\n${df.queryExecution.executedPlan}")
    onlyOptimistic(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t7n WHERE NOT (k3 IN ('A', 'N'))""".stripMargin), "NOT(IN)")
    onlyOptimistic(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t7n WHERE k3 = 'A' OR v > 5""".stripMargin), "an OR disjunct")
    // the conjunct form still proves (regression guard for the fix)
    checkRewritten(spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t7n WHERE k3 IN ('A', 'N', 'R') AND v IS NOT NULL""".stripMargin),
      classOf[KeyedRunningAggExec])
  }

  test("catalog column stats prove a table column (ANALYZE … FOR COLUMNS + CBO)") {
    spark.sql("DROP TABLE IF EXISTS kw_stats_t")
    fixture.write.mode("overwrite").saveAsTable("kw_stats_t")
    try {
      spark.sql("ANALYZE TABLE kw_stats_t COMPUTE STATISTICS FOR COLUMNS k3")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val df = spark.sql(
          """SELECT id, sum(v) OVER (PARTITION BY k3 ORDER BY v, id
            |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
            |FROM kw_stats_t""".stripMargin)
        assert(nodes(df).exists(_.isInstanceOf[KeyedRunningAggExec]),
          s"catalog ndv=3 must fire the rewrite:\n${df.queryExecution.executedPlan}")
        assert(df.count() === 1000L)
      } finally spark.conf.unset("spark.sql.cbo.enabled")
    } finally spark.sql("DROP TABLE IF EXISTS kw_stats_t")
  }

  test("auto-ANALYZE at registration proves an unanalyzed dimension column") {
    // VERDICT r11 missing #2: PARTITION BY n_name (25 values) over an
    // unanalyzed catalog table has no ndv evidence → refusal. The
    // registration-time auto-stats step (size-gated NOSCAN + FOR COLUMNS)
    // populates CatalogTable column stats, which the rule reads directly
    // at the leaf — no CBO flag, no filter pin, no hint.
    spark.sql("DROP TABLE IF EXISTS kw_dim")
    spark.range(0, 500, 1, 4)
      .selectExpr("id", "concat('n', pmod(id, 25)) AS n_name",
        "pmod(id * 7, 100) AS v")
      .write.mode("overwrite").saveAsTable("kw_dim")
    val q =
      """SELECT id, sum(v) OVER (PARTITION BY n_name ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_dim""".stripMargin
    try {
      // this test pins the PROOF path — park the optimistic arm (which
      // would heal the unanalyzed column at runtime, see the dedicated
      // optimistic test) so the refusal asserts isolate the stats gate
      spark.conf.set(KeyedWindowRule.OptimisticConf, "false")
      try {
        val bare = spark.sql(q)
        assert(!nodes(bare).exists(_.isInstanceOf[KeyedRunningAggExec]),
          s"unanalyzed column must refuse:\n${bare.queryExecution.executedPlan}")
        // size-gate guard: a 0 budget disables the stats pass → still refuses
        spark.conf.set(graft.pipeline.BatchPipeline.AutoAnalyzeBytesConf, "0")
        try graft.pipeline.BatchPipeline.autoAnalyzeSmall(spark, "kw_dim")
        finally spark.conf.unset(graft.pipeline.BatchPipeline.AutoAnalyzeBytesConf)
        assert(!nodes(spark.sql(q)).exists(_.isInstanceOf[KeyedRunningAggExec]))
        // the real step: stats land, the keyed rewrite fires, bit-identical
        graft.pipeline.BatchPipeline.autoAnalyzeSmall(spark, "kw_dim")
        checkRewritten(spark.sql(q), classOf[KeyedRunningAggExec])
      } finally spark.conf.unset(KeyedWindowRule.OptimisticConf)
    } finally spark.sql("DROP TABLE IF EXISTS kw_dim")
  }

  test("refusals: high ndv, unprovable keys, bounded frames, maxNdv conf") {
    fixture.createOrReplaceTempView("kw_t8")
    // pmod 100 over default maxNdv 64 → untouched
    val high = spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 100) ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_t8""".stripMargin)
    assert(!nodes(high).exists(_.isInstanceOf[KeyedRunningAggExec]))
    // raise the cap → fires
    spark.conf.set(KeyedWindowRule.MaxNdvConf, "128")
    try {
      assert(nodes(spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 100) ORDER BY v, id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM kw_t8""".stripMargin))
        .exists(_.isInstanceOf[KeyedRunningAggExec]))
    } finally spark.conf.unset(KeyedWindowRule.MaxNdvConf)
    // raw id: unprovable → heals OPTIMISTICALLY by default (r12 #1, the
    // dedicated optimistic test owns that path); with the optimistic arm
    // off, the proof-less key refuses exactly as before
    spark.conf.set(KeyedWindowRule.OptimisticConf, "false")
    try {
      val raw = spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY id ORDER BY v
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM kw_t8""".stripMargin)
      assert(!nodes(raw).exists(_.isInstanceOf[KeyedRunningAggExec]))
    } finally spark.conf.unset(KeyedWindowRule.OptimisticConf)
    // bounded keyed frames beyond the reach cap stay with Spark
    spark.conf.set(KeyedWindowRule.MaxBoundedFrameConf, "8")
    try {
      val farBounded = spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
          |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS cs
          |FROM kw_t8""".stripMargin)
      assert(!nodes(farBounded).exists(_.isInstanceOf[KeyedBoundedAggExec]))
      assert(nodes(farBounded).exists(_.isInstanceOf[WindowExec]))
    } finally spark.conf.unset(KeyedWindowRule.MaxBoundedFrameConf)
    // a FOLLOWING frame end heals only with no keys: the bounded exec's
    // forward context is not key-scoped
    val centeredKeyed = spark.sql(
      """SELECT id, sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS cs
        |FROM kw_t8""".stripMargin)
    assert(!nodes(centeredKeyed).exists(_.isInstanceOf[KeyedBoundedAggExec]))
    assert(nodes(centeredKeyed).exists(_.isInstanceOf[WindowExec]))
    val centeredNoKey = spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS cs
        |FROM kw_t8""".stripMargin)
    assert(nodes(centeredNoKey).exists(NoKey.bounded))
    assert(!nodes(centeredNoKey).exists(_.isInstanceOf[WindowExec]))
    // an orderless first_value total picks a partition-order-arbitrary
    // row: keyed it stays with Spark, with no keys the one pick heals
    val firstKeyed = spark.sql(
      "SELECT id, first_value(v) OVER (PARTITION BY pmod(id, 3)) AS f FROM kw_t8")
    assert(!nodes(firstKeyed).exists(_.isInstanceOf[KeyedTotalAggExec]))
    assert(nodes(firstKeyed).exists(_.isInstanceOf[WindowExec]))
    val firstNoKey = spark.sql("SELECT id, first_value(v) OVER () AS f FROM kw_t8")
    assert(nodes(firstNoKey).exists(NoKey.total))
    assert(!nodes(firstNoKey).exists(_.isInstanceOf[WindowExec]))
  }

  test("the W1 shape — keyed bounded rolling mean with the min_periods guard — heals") {
    // the reference's own flagship window, written exactly as a user
    // writes it (PARTITION BY asset, 7-row frame, count guard)
    fixture.createOrReplaceTempView("kw_w1")
    checkRewritten(spark.sql(
      """SELECT id,
        |  CASE WHEN count(v) OVER w = 7 THEN avg(v) OVER w END AS mm7,
        |  sum(d)   OVER w AS s7,
        |  max(v)   OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS pmax
        |FROM kw_w1
        |WINDOW w AS (PARTITION BY pmod(id, 3) ORDER BY v, id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |""".stripMargin), classOf[KeyedBoundedAggExec])
  }

  test("a keyed node mixing bounded, running, and offset shapes shares ONE exchange") {
    fixture.createOrReplaceTempView("kw_mix2")
    val df = spark.sql(
      """SELECT id,
        |  avg(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mm7,
        |  sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  lag(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id) AS pv
        |FROM kw_mix2""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(_.isInstanceOf[KeyedBoundedAggExec]) &&
      plan.exists(_.isInstanceOf[KeyedRunningAggExec]) &&
      plan.exists(_.isInstanceOf[KeyedOffsetExec]),
      s"expected all three keyed execs:\n${df.queryExecution.executedPlan}")
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1)
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("keyed whole-frame totals attach with ZERO exchange") {
    // agg(x) OVER (PARTITION BY k): Spark hash-exchanges + sorts per
    // key; the keyed total plans per-partition key→partial maps, a
    // driver merge, and a broadcast lookup — no exchange at all
    fixture.createOrReplaceTempView("kw_tot")
    val df = spark.sql(
      """SELECT id, v,
        |  sum(v)   OVER (PARTITION BY pmod(id, 3)) AS tv,
        |  count(*) OVER (PARTITION BY pmod(id, 3)) AS n,
        |  avg(d)   OVER (PARTITION BY pmod(id, 3)) AS ad,
        |  max(v)   OVER (PARTITION BY pmod(id, 3)) AS mx
        |FROM kw_tot""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(_.isInstanceOf[KeyedTotalAggExec]),
      s"expected KeyedTotalAggExec:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      s"keyed total must not shuffle:\n${df.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
    // the share-of-group shape beside a running prefix: total stacks
    // over the running agg's exchange, adding none
    val mixed = spark.sql(
      """SELECT id,
        |  sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  sum(v) OVER (PARTITION BY pmod(id, 3)) AS tv
        |FROM kw_tot""".stripMargin)
    val mixedRows = mixed.collect()
    val mplan = nodes(mixed)
    assert(mplan.exists(_.isInstanceOf[KeyedTotalAggExec]) &&
      mplan.exists(_.isInstanceOf[KeyedRunningAggExec]))
    assert(mplan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1)
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val mixedOff =
      try mixed.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(mixedRows.map(_.toString).sorted.toSeq ===
      mixedOff.map(_.toString).sorted.toSeq)
    // First/Last totals stay with Spark: no order to bind them
    val fl = spark.sql(
      """SELECT id, first_value(v) OVER (PARTITION BY pmod(id, 3)) AS fv
        |FROM kw_tot""".stripMargin)
    assert(!nodes(fl).exists(_.isInstanceOf[KeyedTotalAggExec]))
  }

  test("keyed ORDER-BOUND first/last totals plan keyed (the G6 mirror)") {
    // last_value(x) OVER (PARTITION BY k ORDER BY t ROWS UNBOUNDED BOTH)
    // is order-DEFINED: the keyed total now carries the order, the exec
    // demands the (keys ++ order) range exchange, per-partition partials
    // fold sorted rows, and the driver merges a key's partials in
    // partition order — the key's order-first/-last exactly (r11 #3).
    fixture.createOrReplaceTempView("kw_tot_ord")
    checkRewritten(spark.sql(
      """SELECT id, v,
        |  first_value(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
        |  last_value(v)  OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
        |  sum(v)         OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tv
        |FROM kw_tot_ord""".stripMargin), classOf[KeyedTotalAggExec])
    // stacked beside a running agg: ONE shared range exchange
    val mixed = spark.sql(
      """SELECT id,
        |  sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |  last_value(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
        |FROM kw_tot_ord""".stripMargin)
    val mixedRows = mixed.collect()
    val mplan = nodes(mixed)
    assert(mplan.exists(_.isInstanceOf[KeyedTotalAggExec]) &&
      mplan.exists(_.isInstanceOf[KeyedRunningAggExec]),
      s"expected keyed total + running:\n${mixed.queryExecution.executedPlan}")
    assert(mplan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"order-bound total must share the stack's exchange:\n${mixed.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val mixedOff =
      try mixed.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(mixedRows.map(_.toString).sorted.toSeq ===
      mixedOff.map(_.toString).sorted.toSeq)
  }

  test("keyed ranks: all six kinds reset per key and match the hash window exactly") {
    fixture.createOrReplaceTempView("kw_rank")
    checkRewritten(spark.sql(
      """SELECT id,
        |  row_number()   OVER wo AS rn,
        |  rank()         OVER wt AS rk,
        |  dense_rank()   OVER wt AS drk,
        |  ntile(4)       OVER wo AS nt,
        |  percent_rank() OVER wt AS pr,
        |  cume_dist()    OVER wt AS cd
        |FROM kw_rank
        |WINDOW wo AS (PARTITION BY pmod(id, 3) ORDER BY v, id),
        |       wt AS (PARTITION BY pmod(id, 3) ORDER BY v)
        |""".stripMargin), classOf[KeyedRankExec])
  }

  test("keyed top-k rank filters stay with Spark's group-limit prune") {
    fixture.createOrReplaceTempView("kw_topk")
    val df = spark.sql(
      """SELECT * FROM (
        |  SELECT id, rank() OVER (PARTITION BY pmod(id, 3)
        |    ORDER BY v, id) AS rnk
        |  FROM kw_topk) WHERE rnk <= 10""".stripMargin)
    val plan = nodes(df)
    assert(!plan.exists(_.isInstanceOf[KeyedRankExec]),
      s"top-k keyed rank must keep the WindowGroupLimit path:\n${df.queryExecution.executedPlan}")
    assert(plan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      s"expected the map-side group-limit prune:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 30L) // 10 per key × 3 keys (total order: no tie spill)
  }

  test("a keyed node mixing ranks and running aggregates stacks over ONE exchange") {
    fixture.createOrReplaceTempView("kw_rankmix")
    val df = spark.sql(
      """SELECT id,
        |  row_number() OVER (PARTITION BY pmod(id, 3) ORDER BY v, id) AS rn,
        |  sum(v) OVER (PARTITION BY pmod(id, 3) ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM kw_rankmix""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(_.isInstanceOf[KeyedRankExec]) &&
      plan.exists(_.isInstanceOf[KeyedRunningAggExec]))
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1)
    spark.conf.set(KeyedWindowRule.RewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("decimal avg under DecimalAggregates survives the keyed rewrite") {
    // avg(decimal(10,2)) gets wrapped in cast(divide(…)) by Spark's
    // DecimalAggregates AFTER our rule plants the plan — the exec must
    // compose the wrapper (the r11 inner-aggregate discipline)
    fixture.createOrReplaceTempView("kw_t9")
    checkRewritten(spark.sql(
      """SELECT id, avg(d) OVER (PARTITION BY pmod(id, 3) ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad
        |FROM kw_t9""".stripMargin), classOf[KeyedRunningAggExec])
  }

  test("measured-floor refusal: a MEASURED-high component proves the composite high (r15, VERDICT r14 #1)") {
    // ndv(k1..kn) >= max ndv(ki): one hinted-high component refuses the
    // wager for ndv-SENSITIVE shapes even when the other component is
    // unprovable — and ONLY for those shapes, and ONLY on measurement
    val dir = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_kw_floor-${System.nanoTime()}")
    spark.range(0, 2000, 1, 4)
      .selectExpr("id AS hcol", "concat('u', id % 40) AS u", "id % 97 AS v",
        "id AS t")
      .write.parquet(dir.getAbsolutePath)
    try {
      spark.read.parquet(dir.getAbsolutePath).createOrReplaceTempView("kw_floor")
      KeyedWindowRule.registerNdvHint(spark, "hcol", 100000L)
      // 1. whole-frame total over (measured-high, unprovable): REFUSES —
      // Spark's hash-clustered Window stays
      val tot = spark.sql(
        "SELECT t, sum(v) OVER (PARTITION BY hcol, u) AS s FROM kw_floor")
      assert(nodes(tot).exists(_.isInstanceOf[WindowExec]) &&
        !nodes(tot).exists(_.isInstanceOf[KeyedTotalAggExec]),
        s"expected the proven-HIGH refusal:\n${tot.queryExecution.executedPlan}")
      // 2. the RUNNING shape over the same composite still heals — its
      // boundary stitch is O(partitions), high ndv is no loss signal
      checkRewritten(spark.sql(
        """SELECT t, sum(v) OVER (PARTITION BY hcol, u ORDER BY t
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM kw_floor""".stripMargin), classOf[KeyedRunningAggExec])
      // 3. a filter PIN on the measured column overrides the table-level
      // measurement (the post-filter domain is proven small) — the
      // optimistic total fires again
      checkRewritten(spark.sql(
        """SELECT t, sum(v) OVER (PARTITION BY hcol, u) AS s
          |FROM kw_floor WHERE hcol IN (1, 2, 3)""".stripMargin),
        classOf[KeyedTotalAggExec])
      // 4. a CAST of the measured column carries NO floor (casts can
      // collapse values) — the optimistic arm fires on the composite
      checkRewritten(spark.sql(
        """SELECT t, sum(v) OVER (PARTITION BY CAST(hcol AS STRING), u) AS s
          |FROM kw_floor""".stripMargin), classOf[KeyedTotalAggExec])
    } finally {
      // drop the synthetic hint so other tests' evidence stays honest
      val hints = KeyedWindowRule.parseHints(
        spark.conf.get(KeyedWindowRule.NdvHintsConf, "")) - "hcol"
      spark.conf.set(KeyedWindowRule.NdvHintsConf,
        hints.map { case (k, v) => s"$k=$v" }.mkString(","))
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("optimistic heal: a stats-less 25-ndv lineage plans the keyed execs under the runtime budget (r12 #1)") {
    // the ad-hoc shape: a freshly-written parquet read with NO catalog
    // entry, stats, filter pin, or hint — every prior evidence arm
    // refuses, so only the optimistic arm can heal it
    val dir = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_kw_opt-${System.nanoTime()}")
    spark.range(0, 1000, 1, 4)
      .selectExpr("id", "concat('lang', pmod(id * 13, 25)) AS language",
        "pmod(id * 37, 97) AS v")
      .write.parquet(dir.getAbsolutePath)
    try {
      spark.read.parquet(dir.getAbsolutePath)
        .createOrReplaceTempView("kw_opt")
      // running + rank + total, all three ndv-dependent exec families
      checkRewritten(spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY language ORDER BY v, id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          |FROM kw_opt""".stripMargin), classOf[KeyedRunningAggExec])
      checkRewritten(spark.sql(
        """SELECT id, dense_rank() OVER (PARTITION BY language
          |  ORDER BY v, id) AS dr
          |FROM kw_opt""".stripMargin), classOf[KeyedRankExec])
      checkRewritten(spark.sql(
        """SELECT id, sum(v) OVER (PARTITION BY language) AS tot
          |FROM kw_opt""".stripMargin), classOf[KeyedTotalAggExec])
      // the adversarial twin, r15 semantics: a high-ndv key over the
      // same stats-less read fires optimistically too, and a budget the
      // data does NOT fit no longer kills the job where an equivalent
      // plan exists — the running heal stitches on O(partitions)
      // boundary state (no budget at all), and the whole-frame total
      // PIVOTS to the shuffled attach; the loud abort survives only
      // for the order-sensitive total, whose sorted range-partitioned
      // output has no sound fallback
      spark.conf.set(KeyedWindowRule.MaxRunsConf, "100")
      try {
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        // running: completes whatever the budget — boundary-only state
        checkRewritten(spark.sql(
          """SELECT id, sum(v) OVER (PARTITION BY id ORDER BY v
            |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
            |FROM kw_opt""".stripMargin), classOf[KeyedRunningAggExec])
        // whole-frame total: budget trips, pivot completes, answer right
        checkRewritten(spark.sql(
          "SELECT id, count(*) OVER (PARTITION BY id) AS c FROM kw_opt"),
          classOf[KeyedTotalAggExec])
        // order-sensitive total: promised sorted output → loud refusal
        val exTot = intercept[Exception] {
          spark.sql(
            """SELECT id, first_value(v) OVER (PARTITION BY id ORDER BY v
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              |  AS f FROM kw_opt""".stripMargin).collect()
        }
        assert(msgs(exTot).exists(m => m.contains("Keyed-window rewrite") &&
          m.contains(KeyedWindowRule.OptimisticConf)), s"unexpected: $exTot")
      } finally spark.conf.unset(KeyedWindowRule.MaxRunsConf)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir)
    }
  }
}
