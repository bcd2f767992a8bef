package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The greatest-n-per-group self-join elimination (`ArgMaxJoinRule`).
  *
  * Every parity test runs the SAME SQL twice — rule on (the session
  * default) vs `spark.graft.argmaxJoin.rewrite=false` — and compares full
  * row MULTISETS, so tie duplication and null semantics are checked
  * exactly, not just counts.
  */
class ArgMaxJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture: Unit = {
    // parquet-backed (like real usage): LocalRelation fixtures get pruned
    // INSIDE the relation node, which hides the self-join lineage
    val dir = java.nio.file.Files.createTempDirectory("amx_").toString
    // null keys, null values, ties at the max, a single-row group
    val rows = Seq[(Option[Int], Option[Int], Long)](
      (Some(1), Some(10), 1L), (Some(1), Some(10), 2L), (Some(1), Some(3), 3L),
      (Some(2), Some(7), 4L), (Some(2), None, 5L),
      (Some(3), None, 6L), // all-null group: max is NULL, joins nothing
      (None, Some(99), 7L), // null key: joins nothing
      (Some(4), Some(0), 8L))
    rows.toDF("k", "v", "id").write.parquet(s"$dir/amx")
    spark.read.parquet(s"$dir/amx").createOrReplaceTempView("amx")
    val big = (1 to 2000).map(i => (i % 37, i % 101, i.toLong))
    big.toDF("k", "v", "id").write.parquet(s"$dir/amx_big")
    spark.read.parquet(s"$dir/amx_big").createOrReplaceTempView("amx_big")
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (s, a) => s -> a.length }

  /** Runs sql with the rule on and off; asserts identical multisets and
    * returns whether the optimized (rule-on) plan is join-free.
    */
  private def parity(sql: String): Boolean = {
    fixture
    val on = spark.sql(sql)
    val joinFree = on.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty
    val got = multiset(on)
    spark.conf.set(ArgMaxJoinRule.RewriteConf, "false")
    try {
      val want = multiset(spark.sql(sql))
      assert(got === want, s"rule-on result diverged for:\n$sql")
    } finally spark.conf.set(ArgMaxJoinRule.RewriteConf, "true")
    joinFree
  }

  test("inner greatest-n-per-group join rewrites to a join-free plan") {
    assert(parity(
      """SELECT t.id, t.k, t.v, a.m
        |FROM amx t JOIN (SELECT k, max(v) AS m FROM amx GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "expected the join to be eliminated")
  }

  test("ties at the max all survive, exactly like the join") {
    fixture
    val rows = spark.sql(
      """SELECT t.id FROM amx t
        |JOIN (SELECT k, max(v) AS m FROM amx GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m WHERE t.k = 1""".stripMargin)
      .as[Long].collect().sorted
    assert(rows === Array(1L, 2L))
  }

  test("agg side on the LEFT of the join rewrites too") {
    assert(parity(
      """SELECT a.k AS gk, a.m, t.id
        |FROM (SELECT k, max(v) AS m FROM amx GROUP BY k) a JOIN amx t
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "expected the mirrored join to be eliminated")
  }

  test("IN-subquery spelling (LeftSemi) rewrites") {
    assert(parity(
      """SELECT id, k, v FROM amx
        |WHERE (k, v) IN (SELECT k, max(v) FROM amx GROUP BY k)""".stripMargin),
      "expected the semi join to be eliminated")
  }

  test("LEFT OUTER against the group max keeps all rows, nulls off the match") {
    // the "flag the latest row per group" spelling: every probe row
    // survives, aggregate columns null where v != max(v)
    assert(parity(
      """SELECT t.id, t.k, t.v, a.m,
        |  CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END AS is_max
        |FROM amx t LEFT JOIN (SELECT k, max(v) AS m FROM amx GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "expected the left-outer join to be eliminated")
  }

  test("RIGHT OUTER with the aggregate on the left mirrors") {
    assert(parity(
      """SELECT a.k AS gk, a.m, t.id
        |FROM (SELECT k, max(v) AS m FROM amx GROUP BY k) a RIGHT JOIN amx t
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "expected the right-outer join to be eliminated")
  }

  test("global (ungrouped) max join rewrites") {
    assert(parity(
      """SELECT t.id, t.v FROM amx_big t
        |JOIN (SELECT max(v) AS m FROM amx_big) a ON t.v = a.m""".stripMargin),
      "expected the global-max join to be eliminated")
  }

  test("min / sum / count / avg all hold parity") {
    for (fn <- Seq("min(v)", "sum(v)", "count(v)", "count(*)", "avg(v)")) {
      // compared column must match the aggregate's type
      val cmp = fn match {
        case "sum(v)" | "count(v)" | "count(*)" => "CAST(t.id AS BIGINT)"
        case "avg(v)" => "CAST(t.v AS DOUBLE)"
        case _ => "t.v"
      }
      assert(parity(
        s"""SELECT t.id, t.k FROM amx_big t
           |JOIN (SELECT k, $fn AS m FROM amx_big GROUP BY k) a
           |ON t.k = a.k AND $cmp = a.m""".stripMargin),
        s"expected elimination for $fn")
    }
  }

  test("multi-key grouping rewrites") {
    assert(parity(
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, v % 3 AS ignored_probe, max(id) AS m
        |      FROM amx_big GROUP BY k, v % 3) a
        |ON t.k = a.k AND t.id = a.m""".stripMargin) === false)
    // the computed key `v % 3` is NOT paired in the join condition, so
    // the join is not a per-group filter (any group with the same k and
    // max could match) → refusal; results must still match — the parity
    // call above already asserted that.
  }

  test("computed grouping key with its canonical probe twin eliminates (r14)") {
    // the same query with the expression key PAIRED: since round 14 the
    // rule accepts deterministic expression keys whose probe-side twins
    // are canonically equal after the base mapping, and partitions the
    // emitted Window on the probe-side expressions
    assert(parity(
      """SELECT t.id, t.k, t.v, a.bucket, a.m FROM amx_big t
        |JOIN (SELECT k, v % 3 AS bucket, max(id) AS m
        |      FROM amx_big GROUP BY k, v % 3) a
        |ON t.k = a.k AND t.v % 3 = a.bucket AND t.id = a.m""".stripMargin),
      "expected the expression-key join to be eliminated")
  }

  test("latest-per-(customer, month): date_trunc grouping key eliminates (r14)") {
    val orders = spark.read.parquet(s"${TestSpark.Sf0001}/orders.parquet")
    orders.createOrReplaceTempView("amx_orders_m")
    val sql =
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate, a.mon
        |FROM amx_orders_m t
        |JOIN (SELECT o_custkey,
        |             CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |             max(o_orderdate) AS m
        |      FROM amx_orders_m
        |      GROUP BY o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE)) a
        |ON t.o_custkey = a.o_custkey
        |AND CAST(date_trunc('month', t.o_orderdate) AS DATE) = a.mon
        |AND t.o_orderdate = a.m""".stripMargin
    val q = spark.sql(sql)
    assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"month-bucketed join survived:\n${q.queryExecution.optimizedPlan}")
    val scans = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected exactly one scan:\n${q.queryExecution.executedPlan}")
    spark.conf.set(ArgMaxJoinRule.RewriteConf, "false")
    try assert(multiset(q) === multiset(spark.sql(sql)))
    finally spark.conf.set(ArgMaxJoinRule.RewriteConf, "true")
  }

  test("expression keys: outer join, null buckets, and semi spelling hold parity") {
    fixture
    // v is nullable: v % 3 null-buckets drop on the inner/semi forms and
    // null-extend on the outer form, exactly like the join
    assert(parity(
      """SELECT t.id, t.k, t.v, a.bucket, a.m FROM amx t
        |LEFT JOIN (SELECT k, v % 3 AS bucket, max(id) AS m
        |           FROM amx GROUP BY k, v % 3) a
        |ON t.k = a.k AND t.v % 3 = a.bucket AND t.id = a.m""".stripMargin),
      "expected the outer expression-key join to be eliminated")
    assert(parity(
      """SELECT id, k, v FROM amx
        |WHERE (k, v % 3, id) IN
        |  (SELECT k, v % 3, max(id) FROM amx GROUP BY k, v % 3)""".stripMargin),
      "expected the expression-key IN spelling to be eliminated")
  }

  test("expression-key refusals: mismatched twin, wrong column") {
    fixture
    val refusals = Seq(
      // probe pairs v % 4 against the v % 3 key — not a canonical twin
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, v % 3 AS bucket, max(id) AS m
        |      FROM amx_big GROUP BY k, v % 3) a
        |ON t.k = a.k AND t.v % 4 = a.bucket AND t.id = a.m""".stripMargin,
      // probe computes the key over a DIFFERENT column (id, not v)
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, v % 3 AS bucket, max(id) AS m
        |      FROM amx_big GROUP BY k, v % 3) a
        |ON t.k = a.k AND t.id % 3 = a.bucket AND t.id = a.m""".stripMargin)
    refusals.foreach { sql =>
      assert(parity(sql) === false, s"rule must refuse but keep parity:\n$sql")
    }
    // a nondeterministic grouping key is unreachable through analysis
    // (Spark extracts rand() into a projection and then rejects the
    // GROUP BY), so the rule's determinism guard is belt-and-braces; the
    // nondeterministic-LINEAGE refusal test above covers the reachable
    // nondeterminism path.
  }

  test("randomized expression-key parity battery: seeded data, on == off") {
    val dir = java.nio.file.Files.createTempDirectory("amx_expr_").toString
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 104729)
      val rows = (1 to 400).map { i =>
        val k = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(8))
        val v = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(40))
        (k, v, i.toLong)
      }
      rows.toDF("k", "v", "id").write.mode("overwrite").parquet(s"$dir/t$seed")
      spark.read.parquet(s"$dir/t$seed").createOrReplaceTempView("amx_expr")
      for ((fn, cmp) <- Seq("max(id)" -> "t.id", "min(id)" -> "t.id",
                            "sum(id)" -> "CAST(t.id AS BIGINT)")) {
        for (join <- Seq("JOIN", "LEFT JOIN")) {
          val joinFree = parity(
            s"""SELECT t.id, t.k, t.v, a.bucket, a.m FROM amx_expr t
               |$join (SELECT k, v % 3 AS bucket, $fn AS m
               |       FROM amx_expr GROUP BY k, v % 3) a
               |ON t.k = a.k AND t.v % 3 = a.bucket AND $cmp = a.m""".stripMargin)
          assert(joinFree, s"seed=$seed fn=$fn $join did not eliminate")
        }
      }
    }
  }

  test("keys-only group-stats attach collapses under a PROVEN-low-ndv key (r14)") {
    // the everyday "join the group aggregates back" — no value filter;
    // the keys-only arm requires a plan-time ndv proof (here the pmod
    // bound), because the join already has a good broadcast plan
    assert(parity(
      """SELECT t.id, t.k, t.v, g.n, g.m, g.mn
        |FROM amx_big t
        |JOIN (SELECT pmod(k, 3) AS kb, count(*) AS n, max(v) AS m,
        |             min(v) AS mn
        |      FROM amx_big GROUP BY pmod(k, 3)) g
        |ON pmod(t.k, 3) = g.kb""".stripMargin),
      "expected the proven keys-only attach to collapse")
    assert(parity(
      """SELECT t.id, t.k, g.n
        |FROM amx_big t
        |LEFT JOIN (SELECT pmod(k, 3) AS kb, count(*) AS n
        |           FROM amx_big GROUP BY pmod(k, 3)) g
        |ON pmod(t.k, 3) = g.kb""".stripMargin),
      "expected the outer proven keys-only attach to collapse")
    // an UNPROVEN key refuses — the broadcast join is the better plan
    // (measured 1.7x at 20k keys) and parity must hold through it
    assert(parity(
      """SELECT t.id, t.k, t.v, g.n
        |FROM amx_big t
        |JOIN (SELECT k, count(*) AS n FROM amx_big GROUP BY k) g
        |ON t.k = g.k""".stripMargin) === false,
      "unproven keys-only attach must keep the join")
    // the degenerate IN form reduces to a bare filter — no attach, no
    // ndv concern, always collapses
    assert(parity(
      """SELECT id, k FROM amx
        |WHERE (k) IN (SELECT k FROM amx GROUP BY k)""".stripMargin),
      "expected the keys-only IN to collapse")
    // a keys-only SEMI never materializes the aggregates (column pruning
    // drops the unused window), so it is proof-exempt even with an
    // UNPROVEN key and extra aggregate outputs
    assert(parity(
      """SELECT t.id, t.k FROM amx_big t
        |LEFT SEMI JOIN (SELECT k, max(v) AS m FROM amx_big GROUP BY k) g
        |ON t.k = g.k""".stripMargin),
      "expected the keys-only semi to collapse without a proof")
  }

  test("multiple aggregates: partnered max plus carried count/min (r14)") {
    assert(parity(
      """SELECT t.id, t.k, t.v, a.m, a.n, a.mn
        |FROM amx_big t
        |JOIN (SELECT k, max(v) AS m, count(*) AS n, min(v) AS mn
        |      FROM amx_big GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "expected the multi-aggregate argmax join to collapse")
    // both aggregates partnered: conjunction of equalities
    assert(parity(
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, max(v) AS mx, min(v) AS mn
        |      FROM amx_big GROUP BY k) a
        |ON t.k = a.k AND t.v = a.mx AND t.v = a.mn""".stripMargin),
      "expected the doubly-partnered join to collapse")
  }

  test("correlated scalar attach in the SELECT list collapses to zero joins (r14)") {
    // `SELECT t.*, (SELECT agg FROM t t2 WHERE t2.b = t.b)` decorrelates
    // to a keys-only LEFT OUTER join against the group aggregate — which
    // the keys-only arm eliminates when the key is provable (a BOOLEAN
    // key bounds ndv at 3); count's COUNT-bug `alwaysTrue` literal rides
    // the Outer If-wrap (true on match, NULL off), so the outer
    // `If(isnull(alwaysTrue), 0, count)` keeps its zero semantics
    fixture
    val dir = java.nio.file.Files.createTempDirectory("amx_bool_").toString
    (1 to 300).map(i => (i % 3 == 0, if (i % 11 == 0) None else Some(i % 40),
      i.toLong)).toDF("b", "v", "id").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("amx_bool")
    for (fn <- Seq("max(t2.v)", "sum(t2.v)", "count(*)", "count(t2.v)", "avg(t2.v)")) {
      val sql =
        s"""SELECT t.id, t.b,
           |  (SELECT $fn FROM amx_bool t2 WHERE t2.b = t.b) AS g
           |FROM amx_bool t""".stripMargin
      assert(parity(sql), s"correlated $fn attach did not collapse")
    }
    // an unprovable correlation key keeps Spark's decorrelated join —
    // with parity (the q17 crossover policy)
    assert(parity(
      """SELECT t.id, t.k,
        |  (SELECT max(t2.v) FROM amx t2 WHERE t2.k = t.k) AS g
        |FROM amx t""".stripMargin) === false,
      "unproven correlated attach must keep the decorrelated join")
    // null-handling law through the collapse: an empty boolean group —
    // no TRUE rows with non-null v in a crafted frame — still yields
    // count 0 / max NULL; pinned on the bool fixture by brute replay
    val got = spark.sql(
      """SELECT t.id,
        |  (SELECT count(t2.v) FROM amx_bool t2 WHERE t2.b = t.b) AS c,
        |  (SELECT max(t2.v) FROM amx_bool t2 WHERE t2.b = t.b) AS m
        |FROM amx_bool t ORDER BY t.id""".stripMargin).collect()
    val base = spark.table("amx_bool").collect()
      .map(r => (r.getBoolean(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    got.foreach { r =>
      val id = r.getLong(0).toInt
      val b = (id % 3 == 0)
      val vs = base.collect { case (`b`, Some(v)) => v }
      assert(r.getLong(1) === vs.length.toLong)
      if (vs.isEmpty) assert(r.isNullAt(2)) else assert(r.getInt(2) === vs.max)
    }
  }

  test("WHERE-clause scalar-subquery argmax collapses with NO ndv proof (r16)") {
    // the FIFTH everyday greatest-per-group spelling:
    //   WHERE v = (SELECT max(v) FROM t t2 WHERE t2.k = t.k)
    // Catalyst decorrelates it to a LEFT OUTER join + Filter(v = m),
    // EliminateOuterJoin turns it inner (the filter is null-intolerant
    // on m), and PushPredicateThroughJoin moves the equality INTO the
    // join condition — all in the same operator-optimization fixed
    // point this rule lives in, so the rule then sees the PARTNERED
    // argmax form and fires proof-free (the join devolves to a filter;
    // one scan categorically beats two): unlike the SELECT-list attach
    // above, `k` here is an UNPROVABLE key and the collapse must still
    // happen.
    fixture
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |WHERE t.v = (SELECT max(t2.v) FROM amx t2 WHERE t2.k = t.k)""".stripMargin),
      "WHERE-equality scalar argmax did not collapse")
    // min mirrors; ties at the max survive in both forms (multiset
    // parity inside parity()); the null-key and all-null groups drop
    // in both (v = NULL filters, k never equals)
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |WHERE t.v = (SELECT min(t2.v) FROM amx t2 WHERE t2.k = t.k)""".stripMargin),
      "WHERE-equality scalar argmin did not collapse")
    // an INEQUALITY partner is NOT an argmax devolution — it stays on
    // the keys-only arm and must refuse on the unprovable key with
    // parity (the q17 crossover policy, §7.4.16)
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx_big t
        |WHERE t.v < (SELECT avg(t2.v) FROM amx_big t2 WHERE t2.k = t.k)""".stripMargin)
      === false,
      "inequality partner must keep the decorrelated join on an unproven key")
  }

  test("correlated ORDER BY ... LIMIT 1 subquery collapses - the sixth spelling (r16)") {
    // Catalyst decorrelates the LIMIT into a per-key row_number() = 1
    // window joined on {k, v}; the side exposes only (k, v), so its one
    // row per key is (k, max(v)) whatever tiebreak row_number picked,
    // and topOneToAggregate normalizes it into the partnered argmax
    // form — proof-free collapse at any key ndv
    fixture
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |WHERE t.v = (SELECT t2.v FROM amx t2 WHERE t2.k = t.k
        |             ORDER BY t2.v DESC LIMIT 1)""".stripMargin),
      "LIMIT-1 scalar argmax did not collapse")
    // ASC NULLS LAST is the argmin form
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |WHERE t.v = (SELECT t2.v FROM amx t2 WHERE t2.k = t.k
        |             ORDER BY t2.v ASC NULLS LAST LIMIT 1)""".stripMargin),
      "LIMIT-1 ASC NULLS LAST argmin did not collapse")
    // ASC's DEFAULT is NULLS FIRST: the top-1 of a group containing a
    // NULL is the NULL itself — "match nothing for such keys", which is
    // NOT min; must refuse (with parity through Catalyst's two-scan plan)
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |WHERE t.v = (SELECT t2.v FROM amx t2 WHERE t2.k = t.k
        |             ORDER BY t2.v LIMIT 1)""".stripMargin) === false,
      "ASC default (NULLS FIRST) must refuse")
  }

  test("LIMIT-1 subquery with a filter on a NON-key/value column refuses (soundness)") {
    // `WHERE t2.c IS NOT NULL` inside the subquery gates WHICH row is
    // top-1 — per key 1 the max v (50) has c NULL, so the subquery's
    // answer is 40, not 50; a collapse that dropped the filter would
    // return the v=50 row instead. The converter must keep the filter
    // and refuse, and parity (rule on == off) proves the kept plan is
    // the correct two-scan one.
    val dir = java.nio.file.Files.createTempDirectory("amx_c_").toString
    Seq[(Option[Int], Option[Int], Option[Int], Long)](
      (Some(1), Some(50), None, 1L), // the max-v row: c NULL
      (Some(1), Some(40), Some(7), 2L), (Some(1), Some(30), Some(8), 3L),
      (Some(2), Some(9), Some(1), 4L), (Some(2), None, Some(2), 5L))
      .toDF("k", "v", "c", "id").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("amx_c")
    val sql =
      """SELECT t.id, t.k, t.v FROM amx_c t
        |WHERE t.v = (SELECT t2.v FROM amx_c t2
        |             WHERE t2.k = t.k AND t2.c IS NOT NULL
        |             ORDER BY t2.v DESC LIMIT 1)""".stripMargin
    assert(parity(sql) === false,
      "subquery-local filter on a non-key/value column must refuse")
    // and the semantics the refusal preserves: key 1 answers id=2 (v=40)
    val ids = spark.sql(sql).collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L), s"got $ids")
  }

  test("manual rn = 1 window-subquery join collapses; rank/limit-2/extra-column refuse") {
    fixture
    // the hand-written spelling of the same decorrelated shape
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |JOIN (SELECT k, v FROM (
        |        SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
        |        FROM amx) w
        |      WHERE rn = 1) m
        |ON t.k = m.k AND t.v = m.v""".stripMargin),
      "manual rn = 1 window-subquery join did not collapse")
    // rank() keeps ALL ties — the side is not key-distinct and the join
    // replicates probe rows: must refuse
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |JOIN (SELECT k, v FROM (
        |        SELECT k, v, rank() OVER (PARTITION BY k ORDER BY v DESC) rn
        |        FROM amx) w
        |      WHERE rn = 1) m
        |ON t.k = m.k AND t.v = m.v""".stripMargin) === false,
      "rank() must refuse (ties replicate)")
    // rn <= 2 is a top-2, not an argmax
    assert(parity(
      """SELECT t.id, t.k, t.v FROM amx t
        |JOIN (SELECT k, v FROM (
        |        SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
        |        FROM amx) w
        |      WHERE rn <= 2) m
        |ON t.k = m.k AND t.v = m.v""".stripMargin) === false,
      "rn <= 2 must refuse")
    // exposing a column beyond {keys, v} is tiebreak-dependent: refuse
    // (the window orders by a deterministic tiebreak so the refusing
    // plan's output is still deterministic for the parity compare)
    assert(parity(
      """SELECT t.id, t.k, t.v, m.id AS mid FROM amx t
        |JOIN (SELECT k, v, id FROM (
        |        SELECT k, v, id,
        |               row_number() OVER (PARTITION BY k ORDER BY v DESC, id) rn
        |        FROM amx) w
        |      WHERE rn = 1) m
        |ON t.k = m.k AND t.v = m.v""".stripMargin) === false,
      "extra exposed column must refuse")
  }

  test("multi-aggregate input strips refuse: one input's strip moves the others") {
    // WHERE v IS NOT NULL under (max(v), count(*)) changes count(*) for
    // groups with null v — the single-aggregate strip tolerance must NOT
    // generalize; parity holds through the refusal
    fixture
    assert(parity(
      """SELECT t.id, a.m, a.n FROM amx t
        |JOIN (SELECT k, max(v) AS m, count(*) AS n FROM amx
        |      WHERE v IS NOT NULL GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin) === false,
      "must refuse the multi-aggregate strip but keep parity")
  }

  test("randomized keys-only attach battery: seeded data, on == off") {
    val dir = java.nio.file.Files.createTempDirectory("amx_ko_").toString
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 31337)
      val rows = (1 to 400).map { i =>
        val k = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12))
        val v = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(40))
        (k, v, i.toLong)
      }
      rows.toDF("k", "v", "id").write.mode("overwrite").parquet(s"$dir/t$seed")
      spark.read.parquet(s"$dir/t$seed").createOrReplaceTempView("amx_ko")
      for (join <- Seq("JOIN", "LEFT JOIN")) {
        assert(parity(
          s"""SELECT t.id, t.k, t.v, g.n, g.s, g.a
             |FROM amx_ko t
             |$join (SELECT pmod(k, 5) AS kb, count(v) AS n, sum(v) AS s,
             |       avg(v) AS a
             |       FROM amx_ko GROUP BY pmod(k, 5)) g
             |ON pmod(t.k, 5) = g.kb""".stripMargin),
          s"seed=$seed $join keys-only attach did not collapse")
      }
    }
  }

  test("refusals: different lineages, extra predicates, non-twin keys, DISTINCT, HAVING") {
    fixture
    val refusals = Seq(
      // different tables
      """SELECT t.id FROM amx t
        |JOIN (SELECT k, max(v) AS m FROM amx_big GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin,
      // extra join predicate
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, max(v) AS m FROM amx_big GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m AND t.id > 5""".stripMargin,
      // non-twin key pairing (t.v against the group key)
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, max(id) AS m FROM amx_big GROUP BY k) a
        |ON t.v = a.k AND t.id = a.m""".stripMargin,
      // DISTINCT aggregate (window functions cannot run DISTINCT)
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, count(DISTINCT v) AS m FROM amx_big GROUP BY k) a
        |ON t.k = a.k AND CAST(t.id AS BIGINT) = a.m""".stripMargin,
      // HAVING residue above the aggregate
      """SELECT t.id FROM amx_big t
        |JOIN (SELECT k, max(v) AS m FROM amx_big GROUP BY k HAVING max(v) > 50) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin)
    refusals.foreach { sql =>
      assert(parity(sql) === false, s"rule must refuse but keep parity:\n$sql")
    }
  }

  test("agg-side IsNotNull on Count's input refuses: a vanished group must stay vanished") {
    // WHERE v IS NOT NULL inside the subquery removes an ALL-NULL group
    // entirely; count(v) over the unfiltered probe would yield 0 (the
    // one non-NULL empty-group value among the supported aggregates), so
    // the rewrite could match rows the real join does not — it must
    // refuse. k=3 is the all-null group in the fixture; probe rows with
    // id matching 0 would be phantom matches.
    fixture
    for (join <- Seq("JOIN", "LEFT JOIN")) {
      val sql =
        s"""SELECT t.id, t.k, a.c FROM amx t
           |$join (SELECT k, count(v) AS c FROM amx
           |       WHERE v IS NOT NULL GROUP BY k) a
           |ON t.k = a.k AND CAST(t.id AS BIGINT) = a.c""".stripMargin
      assert(parity(sql) === false, s"must refuse but keep parity:\n$sql")
    }
    // the same strip under max stays eliminated: a vanished group's
    // windowed max is NULL and never matches, so the strip is safe there
    assert(parity(
      """SELECT t.id, t.k, a.m FROM amx t
        |JOIN (SELECT k, max(v) AS m FROM amx
        |      WHERE v IS NOT NULL GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin),
      "max with the same strip should still eliminate")
  }

  test("nondeterministic lineage refuses") {
    fixture
    val df = spark.sql("SELECT k, v, id, rand() AS r FROM amx_big")
    df.createOrReplaceTempView("amx_rand")
    val q = spark.sql(
      """SELECT t.id FROM amx_rand t
        |JOIN (SELECT k, max(r) AS m FROM amx_rand GROUP BY k) a
        |ON t.k = a.k AND t.r = a.m""".stripMargin)
    assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty,
      "must not collapse a nondeterministic self-join")
  }

  test("a shared base filter holding a rand() scalar subquery collapses with parity") {
    // the subquery is a PlanExpression, which the shared determinism
    // contract (WindowShapes.deterministicTree) exempts: the view's plan
    // fixes rand's seed, so both sides of the join spelling read the same
    // threshold, and the one-scan form reads it once
    fixture
    spark.sql(
      "SELECT k, v, id FROM amx_big WHERE v < (SELECT 40 + rand() * max(v) / 2 FROM amx)")
      .createOrReplaceTempView("amx_randsub")
    val sql =
      """SELECT t.id, t.k, t.v, a.m
        |FROM amx_randsub t
        |JOIN (SELECT k, max(v) AS m FROM amx_randsub GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin
    val base = spark.sql(sql).queryExecution.optimizedPlan
    assert(base.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalarSubquery]))),
      s"the shared filter must keep its scalar subquery:\n$base")
    assert(parity(sql), s"expected the join to be eliminated:\n$base")
  }

  test("opt-out conf keeps Spark's join plan") {
    fixture
    spark.conf.set(ArgMaxJoinRule.RewriteConf, "false")
    try {
      val q = spark.sql(
        """SELECT t.id FROM amx t
          |JOIN (SELECT k, max(v) AS m FROM amx GROUP BY k) a
          |ON t.k = a.k AND t.v = a.m""".stripMargin)
      assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty)
    } finally spark.conf.set(ArgMaxJoinRule.RewriteConf, "true")
  }

  test("randomized parity battery: seeded data x {max,min,sum,count}, on == off") {
    val dir = java.nio.file.Files.createTempDirectory("amx_rand_").toString
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 7919)
      val rows = (1 to 400).map { i =>
        val k = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12))
        val v = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(40))
        (k, v, i.toLong)
      }
      rows.toDF("k", "v", "id").write.mode("overwrite").parquet(s"$dir/t$seed")
      spark.read.parquet(s"$dir/t$seed").createOrReplaceTempView("amx_rnd")
      for (fn <- Seq("max(v)", "min(v)", "sum(v)", "count(v)")) {
        val cmp = fn match {
          case "sum(v)" | "count(v)" => "CAST(t.id AS BIGINT)"
          case _ => "t.v"
        }
        val joinFree = parity(
          s"""SELECT t.id, t.k, t.v, a.m FROM amx_rnd t
             |JOIN (SELECT k, $fn AS m FROM amx_rnd GROUP BY k) a
             |ON t.k = a.k AND $cmp = a.m""".stripMargin)
        assert(joinFree, s"seed=$seed fn=$fn did not eliminate the join")
        val outerFree = parity(
          s"""SELECT t.id, t.k, t.v, a.m FROM amx_rnd t
             |LEFT JOIN (SELECT k, $fn AS m FROM amx_rnd GROUP BY k) a
             |ON t.k = a.k AND $cmp = a.m""".stripMargin)
        assert(outerFree, s"seed=$seed fn=$fn did not eliminate the left join")
      }
    }
  }

  test("parquet-backed latest-order-per-customer plans one scan, no join") {
    val orders = spark.read.parquet(s"${TestSpark.Sf0001}/orders.parquet")
    orders.createOrReplaceTempView("amx_orders")
    val q = spark.sql(
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate
        |FROM amx_orders t
        |JOIN (SELECT o_custkey, max(o_orderdate) AS m
        |      FROM amx_orders GROUP BY o_custkey) a
        |ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.m""".stripMargin)
    assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"join survived:\n${q.queryExecution.optimizedPlan}")
    val scans = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected exactly one scan:\n${q.queryExecution.executedPlan}")
    // cross-check against the join form with the rule off
    spark.conf.set(ArgMaxJoinRule.RewriteConf, "false")
    try {
      val want = multiset(spark.sql(
        """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate
          |FROM amx_orders t
          |JOIN (SELECT o_custkey, max(o_orderdate) AS m
          |      FROM amx_orders GROUP BY o_custkey) a
          |ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.m""".stripMargin))
      assert(multiset(q) === want)
    } finally spark.conf.set(ArgMaxJoinRule.RewriteConf, "true")
  }

  test("x152 WHERE-scalar argmax on parquet orders plans one scan, no join (sf0.001)") {
    val p = graft.SparkEntry.queries("x152_top_order_scalar_argmax")(
      spark, TestSpark.Sf0001)
    assert(p.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"x152: the decorrelated join survived:\n${p.queryExecution.optimizedPlan}")
    val scans = p.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1,
      s"x152: expected exactly one scan:\n${p.queryExecution.executedPlan}")
  }

  test("x153 LIMIT-subquery argmax on parquet orders plans one scan, no join (sf0.001)") {
    val p = graft.SparkEntry.queries("x153_latest_order_limit_subquery")(
      spark, TestSpark.Sf0001)
    assert(p.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"x153: the decorrelated join survived:\n${p.queryExecution.optimizedPlan}")
    val scans = p.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1,
      s"x153: expected exactly one scan:\n${p.queryExecution.executedPlan}")
  }

  test("elimination composes with the scan heal: repartition is transparent") {
    fixture
    // r16 scan-parallelism heal shape: both spellings read the same
    // hash-repartitioned view; peel() walks the row-preserving layer so
    // base twinning succeeds, and the collapsed plan keeps the heal.
    import org.apache.spark.sql.functions.col
    spark.table("amx_big").repartition(4, col("id"))
      .createOrReplaceTempView("amx_big_healed")
    val sql =
      """SELECT t.id, t.k, t.v, a.m
        |FROM amx_big_healed t
        |JOIN (SELECT k, max(v) AS m FROM amx_big_healed GROUP BY k) a
        |ON t.k = a.k AND t.v = a.m""".stripMargin
    assert(parity(sql), "expected the join to be eliminated through the repartition")
    val reps = spark.sql(sql).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(reps.nonEmpty, "the heal's repartition must survive the elimination")
  }
}
