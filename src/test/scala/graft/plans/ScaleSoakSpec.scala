package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scale-pressure soak of the RUNTIME budgets (VERDICT r13 #4): the
  * G11/G13 guards — boundary coalescer, optimistic run budget, range-row
  * harvest cap — are spec-pinned at fixture scale elsewhere; here they
  * run against self-generated data big enough to TRIP them organically
  * at their DEFAULT budgets, and the observed-vs-budget envelopes are
  * recorded (SURVEY §7.4.15).
  *
  * Deliberately the heaviest suite in the repo (~1.5M–2M-row frames,
  * 2048-partition exchanges); still bounded to seconds per case on
  * local[*]. Checksum comparisons (sum of per-row hashes) stand in for
  * full multiset equality at this size — any row-level divergence moves
  * the sum with overwhelming probability, and the bit-exact row-level
  * batteries live in the per-exec specs.
  */
class ScaleSoakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (checksum, rows) under the current session plan. */
  private def checksum(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(
      sum(hash(cols.map(col): _*).cast("long")).as("h"),
      count(lit(1)).as("n")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  import TestSpark.withConf

  test("boundary coalescer trips at the DEFAULT 1M budget and stays exact") {
    // 2048 range partitions x reach 1024 = 2.1M boundary tuples > the 1M
    // default -> BoundaryBudget coalesces consecutively to <= 976
    // partitions; parallelism degrades gracefully, results bit-identical.
    // AQE's partition coalescing is off for the case: at test row counts
    // it would merge the tiny shuffle partitions long before the exec
    // (at 100 TB it keeps thousands — each holds >= 64MB), and the
    // budget exists exactly for that real-scale partition count.
    withConf("spark.sql.shuffle.partitions" -> "2048",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // parquet-backed so the window actually pays a 2048-way range
      // exchange (a bare Range already carries the ordering and skips it)
      val dir = java.nio.file.Files.createTempDirectory("soak_").toString
      spark.range(0, 1500000L, 1, 64)
        .select(col("id"), (col("id") % 97).as("v"))
        .write.parquet(s"$dir/t")
      def q = spark.read.parquet(s"$dir/t")
        .selectExpr("id", "v",
          "sum(v) OVER (ORDER BY id ROWS BETWEEN 1023 PRECEDING AND CURRENT ROW) AS s")
      val t0 = System.nanoTime()
      val on = q
      val parts = on.rdd.getNumPartitions
      val (hOn, nOn) = checksum(on, "id", "v", "s")
      val tOn = (System.nanoTime() - t0) / 1e9
      // reach = the 1023-row frame span: target = floor(1M / 1023) = 977
      assert(parts.toLong * 1023 <= 1000000L + 1023,
        s"coalescer did not bound: $parts partitions")
      assert(parts > 100, s"coalescer over-collapsed: $parts partitions")
      val (hOff, nOff) = withConf(KeyedWindowRule.GlobalRewriteConf -> "false") {
        checksum(q, "id", "v", "s")
      }
      assert((hOn, nOn) === (hOff, nOff), "coalesced rewrite diverged")
      info(f"observed: 2048 partitions x 1024 reach -> $parts partitions " +
        f"(budget 1000000), rewrite $tOn%.1f s, 1.5M rows")
    }
  }

  test("optimistic keyed heal under the DEFAULT run budget: 200k unprovable keys") {
    // string keys -> no plan-time ndv proof -> the optimistic arm fires,
    // the pre-pass counts ~200k runs (< 1M default) and the heal
    // proceeds with O(partitions + ndv) driver state
    def q = spark.range(0, 2000000L, 1, 32)
      .selectExpr("concat('k', id % 200000) AS k", "id AS t", "id % 97 AS v")
      .selectExpr("k", "t",
        "sum(v) OVER (PARTITION BY k ORDER BY t) AS s")
    val t0 = System.nanoTime()
    val (hOn, nOn) = checksum(q, "k", "t", "s")
    val tOn = (System.nanoTime() - t0) / 1e9
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("KeyedRunningAgg"),
      s"optimistic heal did not fire:\n${planStr.take(1200)}")
    val t1 = System.nanoTime()
    val (hOff, nOff) = withConf(KeyedWindowRule.RewriteConf -> "false") {
      checksum(q, "k", "t", "s")
    }
    val tOff = (System.nanoTime() - t1) / 1e9
    assert((hOn, nOn) === (hOff, nOff), "optimistic heal diverged")
    info(f"observed: 200000 runs vs budget 1000000; heal $tOn%.1f s " +
      f"vs WindowExec $tOff%.1f s, 2M rows")
  }

  test("1.1M-run optimistic running heal COMPLETES on boundary-only state (r15)") {
    // VERDICT r14 #2: the former run budget existed to bound pass 1's
    // O(runs) driver payload; the boundary-only pass (r15) ships four
    // values per PARTITION whatever the key count, so the same 1.1M
    // distinct unprovable keys that used to abort now complete —
    // checksum-identical to WindowExec.
    def q = spark.range(0, 1100000L, 1, 32)
      .selectExpr("concat('k', id) AS k", "id AS t", "id % 97 AS v")
      .selectExpr("k", "t", "sum(v) OVER (PARTITION BY k ORDER BY t) AS s")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("KeyedRunningAgg"),
      s"optimistic arm did not fire:\n${planStr.take(1200)}")
    val t0 = System.nanoTime()
    val (hOn, nOn) = checksum(q, "k", "t", "s")
    val tOn = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (hOff, nOff) = withConf(KeyedWindowRule.RewriteConf -> "false") {
      checksum(q, "k", "t", "s")
    }
    val tOff = (System.nanoTime() - t1) / 1e9
    assert((hOn, nOn) === (hOff, nOff), "1.1M-run boundary heal diverged")
    info(f"observed: 1.1M runs, O(partitions)=32 boundary tuples; " +
      f"heal $tOn%.1f s vs WindowExec $tOff%.1f s")
  }

  test("optimistic TOTAL budget trip PIVOTS to the shuffled attach (r15)") {
    // VERDICT r14 #2: the whole-frame total's budget trip is no longer
    // an abort when the node promised nothing (no order, unknown child
    // partitioning): the exec pivots to the shuffled attach — one row
    // shuffle, Spark's own window work profile — and the answer is
    // checksum-identical to WindowExec. Budget forced tiny so the
    // DRIVER-MERGE trip fires deterministically at test scale.
    withConf(KeyedWindowRule.MaxRunsConf -> "1000") {
      def q = spark.range(0, 300000L, 1, 16)
        .selectExpr("concat('k', id % 50000) AS k", "id % 97 AS v")
        .selectExpr("k", "v", "sum(v) OVER (PARTITION BY k) AS s")
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("KeyedTotalAgg"),
        s"optimistic total did not fire:\n${planStr.take(1200)}")
      val (hOn, nOn) = checksum(q, "k", "v", "s")
      val (hOff, nOff) = withConf(KeyedWindowRule.RewriteConf -> "false") {
        checksum(q, "k", "v", "s")
      }
      assert((hOn, nOn) === (hOff, nOff), "total pivot diverged")
      info("observed: 50k keys vs budget 1000 -> driver-merge trip -> " +
        "shuffled-attach pivot, checksum-identical")
    }
  }

  test("optimistic TOTAL task-side cap trips and PIVOTS too (r15)") {
    // two partitions each holding 100k distinct keys cross the 64k
    // per-task floor: a TASK throws the typed overflow, the driver
    // catches it off the failed job and pivots — same checksum as
    // WindowExec. (Two slices, not one: spark.range with one slice
    // reports SinglePartition — a REAL placement promise, so the pivot
    // correctly refuses there and the loud abort stands.)
    withConf(KeyedWindowRule.MaxRunsConf -> "1000") {
      def q = spark.range(0, 200000L, 1, 2)
        .selectExpr("concat('k', id) AS k", "id % 97 AS v")
        .selectExpr("k", "v", "sum(v) OVER (PARTITION BY k) AS s")
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("KeyedTotalAgg"),
        s"optimistic total did not fire:\n${planStr.take(1200)}")
      val (hOn, nOn) = checksum(q, "k", "v", "s")
      val (hOff, nOff) = withConf(KeyedWindowRule.RewriteConf -> "false") {
        checksum(q, "k", "v", "s")
      }
      assert((hOn, nOn) === (hOff, nOff), "task-trip pivot diverged")
    }
  }

  test("order-sensitive TOTAL keeps the loud abort — no sound pivot exists") {
    // first_value demands the (keys ++ order) range exchange, so the
    // node PROMISED sorted, range-partitioned output — a shuffled
    // re-attach would break parents that rely on it. The trip stays a
    // loud, site-named refusal.
    withConf(KeyedWindowRule.MaxRunsConf -> "1000") {
      def q = spark.range(0, 20000L, 1, 8)
        .selectExpr("concat('k', id) AS k", "id AS t", "id % 97 AS v")
        .selectExpr("k", "t",
          """first_value(v) OVER (PARTITION BY k ORDER BY t
            |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s"""
            .stripMargin.replace("\n", " "))
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("KeyedTotalAgg"),
        s"order-sensitive total did not fire:\n${planStr.take(1200)}")
      val ex = intercept[Throwable] {
        q.agg(sum(hash(col("s")).cast("long"))).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(ex).exists(_.contains(KeyedWindowRule.MaxRunsConf)),
        s"expected the loud run-budget abort, got: ${chain(ex).mkString(" | ")}")
    }
  }

  test("pipeline wrapper completes the order-sensitive abort on the one-shot re-plan (r16)") {
    // VERDICT r15 #3: same query as the loud-abort case above, driven
    // through Replan.withKeyedWindowFallback — the trip is caught at
    // the pipeline layer and the action re-runs once with the keyed
    // rewrite off: Spark's stock hash-clustered Window completes it,
    // checksum-identical; the conf is restored afterward.
    withConf(KeyedWindowRule.MaxRunsConf -> "1000") {
      def q = spark.range(0, 20000L, 1, 8)
        .selectExpr("concat('k', id) AS k", "id AS t", "id % 97 AS v")
        .selectExpr("k", "t",
          """first_value(v) OVER (PARTITION BY k ORDER BY t
            |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s"""
            .stripMargin.replace("\n", " "))
      val got = graft.pipeline.Replan.withKeyedWindowFallback(spark) {
        checksum(q, "k", "t", "s")
      }
      assert(spark.conf.get(KeyedWindowRule.RewriteConf, "true") === "true",
        "the rewrite conf must be restored after the retry")
      val want = withConf(KeyedWindowRule.RewriteConf -> "false") {
        checksum(q, "k", "t", "s")
      }
      assert(got === want, "the one-shot re-plan diverged from WindowExec")
    }
  }

  test("skewed slice within the GLOBAL budget completes — flat per-task cap (r16)") {
    // ADVICE r15 (medium): the r15 per-task cap was a per-partition
    // SLICE (2*maxRuns/nPart floored at 64k), so a skewed range
    // partition holding more distinct keys than its slice tripped —
    // a loud abort on the order-sensitive path — even when the GLOBAL
    // distinct count was within budget. r16 sets the per-task cap to
    // the full budget (driver stays <= 2x budget with the incremental
    // fold): 70k single-row keys packed into one range partition,
    // 70,001 global keys vs budget 100,000 -> must COMPLETE, and match
    // WindowExec bit-for-bit.
    withConf(KeyedWindowRule.MaxRunsConf -> "100000",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      def q = spark.range(0, 970000L, 1, 8)
        .selectExpr(
          "CASE WHEN id < 900000 THEN 'aaa' ELSE concat('z', lpad(CAST(id AS string), 7, '0')) END AS k",
          "id AS t", "id % 97 AS v")
        .selectExpr("k", "t",
          """first_value(v) OVER (PARTITION BY k ORDER BY t
            |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s"""
            .stripMargin.replace("\n", " "))
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("KeyedTotalAgg"),
        s"order-sensitive total did not fire:\n${planStr.take(1200)}")
      val (hOn, nOn) = checksum(q, "k", "t", "s")
      val (hOff, nOff) = withConf(KeyedWindowRule.RewriteConf -> "false") {
        checksum(q, "k", "t", "s")
      }
      assert((hOn, nOn) === (hOff, nOff), "skewed-slice total diverged")
      info("observed: ~70k distinct keys in one range partition, global " +
        "70,001 vs budget 100,000 — completes under the flat per-task cap")
    }
  }

  test("order-sensitive TOTAL: key spanning many range partitions folds in data order (r16)") {
    // ADVICE r15 (high): a key whose rows span several range partitions
    // merges First/Last partials KEEP-LEFT, which is only correct in
    // partition-INDEX order; task-completion order is arbitrary. One
    // key over 64 range partitions: every row's first_value must be
    // the t=0 row's v and last_value the t=max row's v, exactly.
    withConf("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.enabled" -> "false") {
      def q = spark.range(0, 200000L, 1, 32)
        .selectExpr("'a' AS k", "id AS t", "id AS v")
        .selectExpr("k", "t",
          """first_value(v) OVER (PARTITION BY k ORDER BY t
            |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS f"""
            .stripMargin.replace("\n", " "),
          """last_value(v) OVER (PARTITION BY k ORDER BY t
            |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l"""
            .stripMargin.replace("\n", " "))
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("KeyedTotalAgg"),
        s"order-sensitive total did not fire:\n${planStr.take(1200)}")
      val bad = q.filter(col("f") =!= 0L || col("l") =!= 199999L).count()
      assert(bad === 0L,
        "first/last diverged from data order — partition-index fold broken")
    }
  }

  test("range-frame harvest cap refuses organically on a 40k-row dense band") {
    // every order value within one RANGE distance: the per-frame harvest
    // would hold 40k rows > the 16384 default -> loud site-named refusal
    def q = spark.range(0, 40000L, 1, 16)
      .selectExpr("CAST(id % 100 AS BIGINT) AS t", "id AS v")
      .selectExpr("t",
        "sum(v) OVER (ORDER BY t RANGE BETWEEN 200 PRECEDING AND CURRENT ROW) AS s")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("RangeAgg"),
      s"range rewrite did not fire:\n${planStr.take(1200)}")
    val ex = intercept[Throwable] {
      q.agg(sum(hash(col("s")).cast("long"))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains(KeyedWindowRule.MaxRangeRowsConf)),
      s"expected the range-row refusal, got: ${chain(ex).mkString(" | ")}")
  }
}
