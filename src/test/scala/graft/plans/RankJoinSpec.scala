package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The rank-subquery JOIN collapse (`RankJoinRule`, VERDICT r14 #3).
  *
  * Every parity test runs the SAME SQL twice — rule on (the session
  * default) vs `spark.graft.rankJoin.rewrite=false` (the two-scan
  * shuffle join) — and compares full row MULTISETS. The fixture's `id`
  * is genuinely unique and declared session-wide; the
  * battery also runs an UNREGISTERED twin fixture to pin the
  * no-evidence refusal.
  */
class RankJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture: Unit = {
    val dir = java.nio.file.Files.createTempDirectory("rankjoin_").toString
    // ties inside and straddling the cut; null values; a null id row
    val rows = Seq[(Long, Int, Option[Int])](
      (1L, 1, Some(10)), (2L, 1, Some(10)), (3L, 1, Some(8)),
      (4L, 1, Some(8)), (5L, 1, Some(3)),
      (6L, 2, Some(7)), (7L, 2, None),
      (8L, 3, None),
      (9L, 4, Some(0)))
    rows.toDF("id", "k", "v").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj")
    val big = (1 to 3000).map(i => (i.toLong, i % 23, i % 97))
    big.toDF("id", "k", "v").write.parquet(s"$dir/big")
    spark.read.parquet(s"$dir/big").createOrReplaceTempView("rj_big")
    // id is genuinely unique in both — declare it for the session
    RankJoinRule.registerUniqueHint(spark, "id")
    // a DUPLICATE-key fixture that must never be registered
    val dup = (1 to 200).map(i => (i.toLong % 50, i % 7, i % 13))
    dup.toDF("did", "k", "v").write.parquet(s"$dir/dup")
    spark.read.parquet(s"$dir/dup").createOrReplaceTempView("rj_dup")
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (s, a) => s -> a.length }

  /** Runs sql rule-on and rule-off; asserts identical multisets,
    * returns whether the rule-on optimized plan is join-free. */
  private def parity(sql: String): Boolean = {
    fixture
    val on = spark.sql(sql)
    val joinFree = on.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty
    val got = multiset(on)
    spark.conf.set(RankJoinRule.RewriteConf, "false")
    try {
      val want = multiset(spark.sql(sql))
      assert(got === want, s"rule-on result diverged for:\n$sql")
    } finally spark.conf.set(RankJoinRule.RewriteConf, "true")
    joinFree
  }

  test("rank bound in the ON clause collapses to one windowed scan") {
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn <= 3
        |""".stripMargin), "expected the join-free collapse")
  }

  test("rank bound in the subquery WHERE collapses too") {
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT * FROM (
        |        SELECT id, row_number() OVER (PARTITION BY k
        |          ORDER BY v DESC, id) AS rn FROM rj_big)
        |      WHERE rn <= 2) r
        |ON t.id = r.id""".stripMargin), "expected the WHERE-form collapse")
  }

  test("rank() and dense_rank() collapse with exact tie semantics") {
    // rank(): ties straddling the cut keep all peers on both plans
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rk
        |FROM rj t
        |JOIN (SELECT id, rank() OVER (PARTITION BY k
        |        ORDER BY v DESC NULLS LAST) AS rk FROM rj) r
        |ON t.id = r.id AND r.rk <= 2""".stripMargin),
      "expected the rank() collapse")
    assert(parity(
      """SELECT t.id, t.k, r.dr
        |FROM rj t
        |JOIN (SELECT id, dense_rank() OVER (PARTITION BY k
        |        ORDER BY v DESC NULLS LAST) AS dr FROM rj) r
        |ON t.id = r.id AND r.dr <= 2""".stripMargin),
      "expected the dense_rank() collapse")
  }

  test("rn = 1 and BETWEEN-ish bounds transfer verbatim") {
    assert(parity(
      """SELECT t.id, t.k, t.v
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn = 1""".stripMargin),
      "expected the rn = 1 collapse")
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn > 1 AND r.rn <= 3""".stripMargin),
      "expected the two-sided bound collapse")
  }

  test("extra twin pairings become IS NOT NULL — null rows drop exactly like the join") {
    // v is nullable: pairing on BOTH id and v drops v-null rows on the
    // stock join; the rewrite's IS NOT NULL reproduces that
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj t
        |JOIN (SELECT id, v, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC NULLS LAST, id) AS rn FROM rj) r
        |ON t.id = r.id AND t.v = r.v AND r.rn <= 2""".stripMargin),
      "expected the multi-pairing collapse")
  }

  test("computed partition keys twin through (month-style expressions)") {
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k % 5, k % 3
        |        ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn <= 2""".stripMargin),
      "expected the computed-key collapse")
  }

  test("refusals keep the join (with parity): no uniqueness evidence, non-twin pairing, lossy subquery filter, outer join") {
    fixture
    // no evidence: rj_dup's did was never registered (it has dups)
    assert(!parity(
      """SELECT t.did, t.k, r.rn
        |FROM rj_dup t
        |JOIN (SELECT did, row_number() OVER (PARTITION BY k
        |        ORDER BY v, did) AS rn FROM rj_dup) r
        |ON t.did = r.did AND r.rn <= 2""".stripMargin),
      "unregistered key must refuse")
    // non-twin pairing (id against v): not the self-match shape
    assert(!parity(
      """SELECT t.id, t.k
        |FROM rj t
        |JOIN (SELECT id, v, row_number() OVER (PARTITION BY k
        |        ORDER BY v, id) AS rn FROM rj) r
        |ON t.id = r.v AND r.rn <= 2""".stripMargin),
      "non-twin pairing must refuse")
    // a subquery-local non-rank filter breaks the twin
    assert(!parity(
      """SELECT t.id, t.k, r.rn
        |FROM rj t
        |JOIN (SELECT id, rn FROM (
        |        SELECT id, v, row_number() OVER (PARTITION BY k
        |          ORDER BY v, id) AS rn FROM rj)
        |      WHERE rn <= 2 AND v > 0) r
        |ON t.id = r.id""".stripMargin),
      "non-rank subquery filter must refuse")
    // OUTER with the rank side PRESERVED: a different operator — refuse
    assert(!parity(
      """SELECT r.id, r.rn, t.k
        |FROM (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v, id) AS rn FROM rj) r
        |LEFT JOIN rj t ON t.id = r.id AND r.rn <= 2""".stripMargin),
      "preserved rank side must refuse")
  }

  test("OUTER flag form collapses: all rows kept, rank columns null off the match (r15)") {
    // the x146 shape: LEFT JOIN keeps every probe row; rn nulls when
    // the row is not in its group's top 2 — If-wrapped attach, exactly
    // the outer join's multiset (the fixture has null v rows too)
    assert(parity(
      """SELECT t.id, t.k, t.v,
        |       CASE WHEN r.rn IS NOT NULL THEN 1 ELSE 0 END AS flag, r.rn
        |FROM rj t
        |LEFT JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |             ORDER BY v DESC NULLS LAST, id) AS rn FROM rj) r
        |ON t.id = r.id AND r.rn <= 2""".stripMargin),
      "expected the outer flag collapse")
    // RIGHT OUTER mirror
    assert(parity(
      """SELECT t.id, t.k, r.rn
        |FROM (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC NULLS LAST, id) AS rn FROM rj) r
        |RIGHT JOIN rj t ON t.id = r.id AND r.rn <= 2""".stripMargin),
      "expected the RIGHT OUTER mirror collapse")
    // pairing on a NULLABLE column: the unmatched null-v rows must null
    // their rank columns exactly as the join does
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj t
        |LEFT JOIN (SELECT id, v, row_number() OVER (PARTITION BY k
        |             ORDER BY v DESC NULLS LAST, id) AS rn FROM rj) r
        |ON t.id = r.id AND t.v = r.v AND r.rn <= 2""".stripMargin),
      "expected the nullable-pairing outer collapse")
  }

  test("bound-less rank attach via self-join degenerates to the plain window attach") {
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v, id) AS rn FROM rj_big) r
        |ON t.id = r.id""".stripMargin),
      "expected the bound-less inner attach collapse")
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj t
        |LEFT JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |             ORDER BY v, id) AS rn FROM rj) r
        |ON t.id = r.id""".stripMargin),
      "expected the bound-less outer attach collapse")
  }

  test("x148 corpus rank-join plans one scan, no join, with the group limit") {
    val p = graft.SparkEntry.queries("x148_topdocs_rank_join")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x148: the self-join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x148: expected one scan:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"x148: expected the map-side group-limit prune:\n${p.take(1500)}")
  }

  test("x146 plans one scan, no join") {
    val p = graft.SparkEntry.queries("x146_topn_flag_join")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x146: the flag join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x146: expected one scan:\n${p.take(1500)}")
  }

  test("path-scoped uniqueness does not leak to a same-named column in another file (r15)") {
    // uniqueness changes result MULTIPLICITY, so measured evidence
    // belongs to the measured file version; a same-named column in a
    // different parquet gets no proof from it
    val dir = java.nio.file.Files.createTempDirectory("rjscope_").toString
    (1 to 200).map(i => (i.toLong, i % 9, i % 31)).toDF("pid", "k", "v")
      .write.parquet(s"$dir/uniq")
    (1 to 200).map(i => (i.toLong % 40, i % 9, i % 31)).toDF("pid", "k", "v")
      .write.parquet(s"$dir/dups")
    spark.read.parquet(s"$dir/uniq").createOrReplaceTempView("rj_uniq")
    spark.read.parquet(s"$dir/dups").createOrReplaceTempView("rj_dups")
    assert(RankJoinRule.measureAndRegister(spark.read.parquet(s"$dir/uniq"), "pid"))
    def sqlFor(view: String) =
      s"""SELECT t.pid, t.k, t.v, r.rn
         |FROM $view t
         |JOIN (SELECT pid, row_number() OVER (PARTITION BY k
         |        ORDER BY v, pid) AS rn FROM $view) r
         |ON t.pid = r.pid AND r.rn <= 2""".stripMargin
    assert(parity(sqlFor("rj_uniq")),
      "the measured file must collapse under its file evidence")
    assert(!parity(sqlFor("rj_dups")),
      "a same-named column in another file must refuse (and stay correct)")
  }

  test("an alias to a registered key name inherits NO evidence (r15 review)") {
    // `SELECT v AS pid` renames the REFERENCE, not the data: the
    // uniqueness proof must match the LEAF column's own name, or a
    // duplicated column wearing the registered name would collapse to
    // a wrong multiset
    fixture
    val dir = java.nio.file.Files.createTempDirectory("rjalias_").toString
    (1 to 200).map(i => (i.toLong, i % 9, i % 13)).toDF("pid", "k", "v")
      .write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj_alias_base")
    assert(RankJoinRule.measureAndRegister(spark.read.parquet(s"$dir/t"), "pid"))
    // the disguise: v (duplicated) wearing the registered name
    spark.sql("SELECT v AS pid, k FROM rj_alias_base")
      .createOrReplaceTempView("rj_alias")
    assert(!parity(
      """SELECT t.pid, t.k, r.rn
        |FROM rj_alias t
        |JOIN (SELECT pid, row_number() OVER (PARTITION BY k
        |        ORDER BY pid) AS rn FROM rj_alias) r
        |ON t.pid = r.pid AND r.rn <= 2""".stripMargin),
      "an aliased non-unique column must refuse (and stay correct)")
    // the genuine column still collapses under the same evidence
    assert(parity(
      """SELECT t.pid, t.k, r.rn
        |FROM rj_alias_base t
        |JOIN (SELECT pid, row_number() OVER (PARTITION BY k
        |        ORDER BY v, pid) AS rn FROM rj_alias_base) r
        |ON t.pid = r.pid AND r.rn <= 2""".stripMargin),
      "the measured column itself must still collapse")
  }

  test("nondeterministic predicates refuse — no transfer of rand() (r15 review)") {
    fixture
    // a rand() conjunct in the subquery WHERE: zero attribute
    // references, so only the determinism check can catch it — the
    // rewrite must keep the join (no parity assert: the query itself
    // is nondeterministic)
    val df = spark.sql(
      """SELECT t.id, r.rn
        |FROM rj_big t
        |JOIN (SELECT * FROM (
        |        SELECT id, row_number() OVER (PARTITION BY k
        |          ORDER BY v, id) AS rn FROM rj_big)
        |      WHERE rn <= 2 AND rand() < 2.0) r
        |ON t.id = r.id""".stripMargin)
    assert(df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, "rand() filter must refuse the collapse")
    // (a nondeterministic conjunct in the ON clause never reaches the
    // rule: the analyzer itself rejects nondeterministic join
    // conditions — INVALID_NON_DETERMINISTIC_EXPRESSIONS)
  }

  test("opt-out conf keeps the two-scan join plan") {
    fixture
    spark.conf.set(RankJoinRule.RewriteConf, "false")
    try {
      val df = spark.sql(
        """SELECT t.id FROM rj t
          |JOIN (SELECT id, row_number() OVER (PARTITION BY k
          |        ORDER BY v, id) AS rn FROM rj) r
          |ON t.id = r.id AND r.rn <= 2""".stripMargin)
      assert(df.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty)
    } finally spark.conf.set(RankJoinRule.RewriteConf, "true")
  }

  test("x145 plans one scan, no join, with the map-side group limit") {
    val p = graft.SparkEntry.queries("x145_topn_rank_join")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x145: the self-join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x145: expected one scan:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"x145: expected the map-side group-limit prune:\n${p.take(1500)}")
  }

  test("composite-key evidence: pairing the full set collapses, any strict subset refuses (r16)") {
    // VERDICT r15 #1: a table whose ONLY key is composite — no single
    // column unique, the pairing SET is. (g, i) is jointly unique by
    // construction; g alone repeats 40x, i alone repeats 25x.
    val dir = java.nio.file.Files.createTempDirectory("rjcomp_").toString
    (0 until 1000).map(n => (n / 25L, n % 25, n % 7, n % 13))
      .toDF("g", "i", "k", "v").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj_comp")
    // measured + registered the one-call way (exact countDistinct)
    assert(RankJoinRule.measureAndRegister(
      spark.read.parquet(s"$dir/t"), "g", "i"),
      "the composite is genuinely unique — measureAndRegister must say so")
    def sqlPairing(on: String) =
      s"""SELECT t.g, t.i, t.k, t.v, r.rn
         |FROM rj_comp t
         |JOIN (SELECT g, i, row_number() OVER (PARTITION BY k
         |        ORDER BY v, g, i) AS rn FROM rj_comp) r
         |ON $on AND r.rn <= 3""".stripMargin
    assert(parity(sqlPairing("t.g = r.g AND t.i = r.i")),
      "pairing the full composite must collapse")
    assert(!parity(sqlPairing("t.g = r.g")),
      "pairing only g must refuse — g is not unique alone")
    assert(!parity(sqlPairing("t.i = r.i")),
      "pairing only i must refuse — i is not unique alone")
    // pairing a SUPERSET of the key narrows further — still collapses
    assert(parity(
      """SELECT t.g, t.i, t.k, r.rn
        |FROM rj_comp t
        |JOIN (SELECT g, i, k, row_number() OVER (PARTITION BY k
        |        ORDER BY v, g, i) AS rn FROM rj_comp) r
        |ON t.g = r.g AND t.i = r.i AND t.k = r.k AND r.rn <= 2""".stripMargin),
      "a pairing superset of the registered key must collapse")
  }

  test("measureAndRegister: non-unique is false; old evidence stops applying (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("rjmeas_").toString
    (0 until 300).map(n => (n.toLong, n % 11, n % 5))
      .toDF("mid", "k", "v").write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    assert(RankJoinRule.measureAndRegister(df, "mid"))
    // regenerate the file WITH duplicates at the same path
    (0 until 300).map(n => (n.toLong % 60, n % 11, n % 5))
      .toDF("mid", "k", "v").write.mode("overwrite").parquet(s"$dir/t")
    val df2 = spark.read.parquet(s"$dir/t")
    assert(!RankJoinRule.measureAndRegister(df2, "mid"),
      "duplicates must measure non-unique")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj_meas")
    assert(!parity(
      """SELECT t.mid, t.k, r.rn
        |FROM rj_meas t
        |JOIN (SELECT mid, row_number() OVER (PARTITION BY k
        |        ORDER BY v, mid) AS rn FROM rj_meas) r
        |ON t.mid = r.mid AND r.rn <= 2""".stripMargin),
      "the old version's evidence must not keep collapsing")
  }

  test("measureAndRegister refuses non-bare frames; resolves renames to leaf names (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("rjbare_").toString
    (0 until 200).map(n => (n.toLong, n % 9)).toDF("bid", "k")
      .write.parquet(s"$dir/t")
    val base = spark.read.parquet(s"$dir/t")
    // a FILTERED frame proves nothing about the file — loud refusal
    val ex = intercept[IllegalArgumentException] {
      RankJoinRule.measureAndRegister(base.filter("k > 2"), "bid")
    }
    assert(ex.getMessage.contains("bare scan"))
    // a computed column is not a bare scan either — same loud refusal
    val ex2 = intercept[IllegalArgumentException] {
      RankJoinRule.measureAndRegister(
        base.selectExpr("bid + 0 AS did", "k"), "did")
    }
    assert(ex2.getMessage.contains("bare scan"))
    // a RENAME resolves to the leaf's own name: evidence lands on `bid`
    assert(RankJoinRule.measureAndRegister(
      base.select(base("bid").as("renamed"), base("k")), "renamed"))
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj_bare")
    assert(parity(
      """SELECT t.bid, t.k, r.rn
        |FROM rj_bare t
        |JOIN (SELECT bid, row_number() OVER (PARTITION BY k
        |        ORDER BY bid) AS rn FROM rj_bare) r
        |ON t.bid = r.bid AND r.rn <= 2""".stripMargin),
      "evidence registered through the rename must prove the leaf column")
  }

  test("probe-side filter hoists: ranks pre-filter on one scan (r16)") {
    // VERDICT r15 #2: "rank over the whole table, probe filtered" —
    // the subquery ranks ALL rows; the probe keeps a subset. The
    // collapse computes ranks on the single unfiltered scan and drops
    // probe rows above the window.
    fixture
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM (SELECT * FROM rj_big WHERE v > 50) t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn <= 3""".stripMargin),
      "probe-only filter must hoist and collapse")
    // OUTER flag form with a filtered probe: every SURVIVING probe row
    // kept, rank nulls off the match
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM (SELECT * FROM rj_big WHERE v % 2 = 0) t
        |LEFT JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |             ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn <= 2""".stripMargin),
      "filtered-probe OUTER flag form must collapse")
    // SYMMETRIC filters (both sides) still collapse via the direct twin
    // — ranks computed post-filter, as both spellings wrote
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM (SELECT * FROM rj_big WHERE v > 50) t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn
        |      FROM rj_big WHERE v > 50) r
        |ON t.id = r.id AND r.rn <= 3""".stripMargin),
      "symmetric filters must keep collapsing")
    // a RANK-SIDE-only filter (below the window) still refuses: probe
    // rows may lack their twin, which is a different operator
    assert(!parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn
        |      FROM rj_big WHERE v > 50) r
        |ON t.id = r.id AND r.rn <= 3""".stripMargin),
      "rank-side-only filter must refuse")
  }

  test("probe filter vs symmetric filter compute DIFFERENT ranks — both correct (r16)") {
    // the distinguisher battery: same bound, same key, filter placed
    // probe-only vs both sides. Ranks computed pre- vs post-filter
    // genuinely differ; each spelling must match ITS OWN join plan.
    fixture
    val probeOnly = spark.sql(
      """SELECT t.id, r.rn
        |FROM (SELECT * FROM rj_big WHERE id % 2 = 0) t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big) r
        |ON t.id = r.id AND r.rn <= 5""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val symmetric = spark.sql(
      """SELECT t.id, r.rn
        |FROM (SELECT * FROM rj_big WHERE id % 2 = 0) t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn
        |      FROM rj_big WHERE id % 2 = 0) r
        |ON t.id = r.id AND r.rn <= 5""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    // post-filter ranks can only be <= pre-filter ranks, and some must
    // genuinely differ or the battery is vacuous
    assert(symmetric.nonEmpty)
    symmetric.foreach { case (id, rn) =>
      probeOnly.get(id).foreach(pre => assert(rn <= pre)) }
    assert(symmetric.exists { case (id, rn) =>
      probeOnly.get(id).forall(_ != rn) || !probeOnly.contains(id) },
      "expected at least one rank to differ between the two spellings")
  }

  test("separator-hostile paths key the file evidence (r16, ADVICE r15)") {
    // a path with a comma and a space keys its file's evidence intact
    val root = java.nio.file.Files.createTempDirectory("rj,enc ").toString
    (1 to 200).map(i => (i.toLong, i % 9, i % 13)).toDF("eid", "k", "v")
      .write.parquet(s"$root/t")
    spark.read.parquet(s"$root/t").createOrReplaceTempView("rj_enc")
    assert(RankJoinRule.measureAndRegister(spark.read.parquet(s"$root/t"), "eid"))
    assert(parity(
      """SELECT t.eid, t.k, r.rn
        |FROM rj_enc t
        |JOIN (SELECT eid, row_number() OVER (PARTITION BY k
        |        ORDER BY v, eid) AS rn FROM rj_enc) r
        |ON t.eid = r.eid AND r.rn <= 2""".stripMargin),
      "comma-and-space path evidence must reach its scan")
  }

  test("normalizePath: non-file URIs pass through untouched; local forms converge (r16)") {
    assert(FileEvidence.normalizePath("s3a://bucket/data/t") === "s3a://bucket/data/t")
    assert(FileEvidence.normalizePath("hdfs://nn:8020/warehouse/t") ===
      "hdfs://nn:8020/warehouse/t")
    val local = FileEvidence.normalizePath("/x/y//z/")
    assert(local === "/x/y/z", s"got $local")
    assert(FileEvidence.normalizePath("file:/x/y/z") === "/x/y/z")
    // idempotent — parse-time re-normalization must be safe
    val once = FileEvidence.normalizePath("s3a://b/p")
    assert(FileEvidence.normalizePath(once) === once)
  }

  test("x149 composite-key rank join plans one scan, no join, group limit (sf0.01)") {
    // the 4-column composite is measured-unique at sf >= 0.01 (NOT at
    // sf0.001, where the collapse correctly refuses and the join plan
    // stays — same result, two scans); pin the collapse where the
    // evidence holds
    val p = graft.SparkEntry.queries("x149_topitems_composite_rank_join")(
      spark, "/root/testdata/sf0.01").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x149: the self-join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x149: expected one scan:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"x149: expected the map-side group-limit prune:\n${p.take(1500)}")
    // the 2-column pairing is measured NON-unique in the fixture: the
    // same query pairing only (l_orderkey, l_linenumber) must keep the
    // join — subset pairings prove nothing
    graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .createOrReplaceTempView("x149_pin_lineitem")
    val refused = spark.sql(
      """SELECT t.l_orderkey, r.rn
        |FROM x149_pin_lineitem t
        |JOIN (SELECT l_orderkey, l_linenumber,
        |             row_number() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM x149_pin_lineitem) r
        |ON t.l_orderkey = r.l_orderkey AND t.l_linenumber = r.l_linenumber
        |   AND r.rn <= 3""".stripMargin)
    assert(refused.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty,
      "pairing the measured-NON-unique 2-column set must keep the join")
  }

  test("x150 filtered-probe rank join plans one scan, no join (sf0.01)") {
    val p = graft.SparkEntry.queries("x150_open_toporders_filtered_probe")(
      spark, "/root/testdata/sf0.01").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"x150: the self-join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x150: expected one scan:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"x150: expected the map-side group-limit prune:\n${p.take(1500)}")
  }

  test("randomized parity battery: seeded data, on == off across kinds and bounds") {
    fixture
    val rnd = new scala.util.Random(4315)
    (1 to 6).foreach { round =>
      val n = 300 + rnd.nextInt(300)
      val data = (1 to n).map(i =>
        (i.toLong, rnd.nextInt(9), rnd.nextInt(15)))
      data.toDF("id", "k", "v")
        .createOrReplaceTempView(s"rj_rand_src")
      val dir = java.nio.file.Files.createTempDirectory(s"rjr$round").toString
      spark.table("rj_rand_src").write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").createOrReplaceTempView("rj_rand")
      val fn = Seq("row_number()", "rank()", "dense_rank()")(rnd.nextInt(3))
      val lim = 1 + rnd.nextInt(4)
      val dirn = if (rnd.nextBoolean()) "DESC" else "ASC"
      val jt = if (rnd.nextBoolean()) "JOIN" else "LEFT JOIN"
      assert(parity(
        s"""SELECT t.id, t.k, t.v, r.rn
           |FROM rj_rand t
           |$jt (SELECT id, $fn OVER (PARTITION BY k
           |        ORDER BY v $dirn, id) AS rn FROM rj_rand) r
           |ON t.id = r.id AND r.rn <= $lim""".stripMargin),
        s"round $round ($jt, $fn, <= $lim, $dirn) did not collapse")
    }
  }

  test("collapse composes with the scan heal: repartition is transparent") {
    fixture
    // the r16 scan-parallelism heal's exact shape: both spellings read a
    // hash-repartitioned view of the same scan. The collapse must (a)
    // still fire — evidence and twin matching walk through the
    // row-preserving RepartitionByExpression — and (b) KEEP the heal in
    // the collapsed plan, so the window's heavy map side stays parallel.
    import org.apache.spark.sql.functions.col
    spark.table("rj_big").repartition(4, col("id"))
      .createOrReplaceTempView("rj_big_healed")
    val sql =
      """SELECT t.id, t.k, t.v, r.rn
        |FROM rj_big_healed t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big_healed) r
        |ON t.id = r.id AND r.rn <= 3
        |""".stripMargin
    assert(parity(sql), "expected the collapse through the repartition")
    val reps = spark.sql(sql).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(reps.nonEmpty, "the heal's repartition must survive the collapse")
  }

  test("probe-side filter still hoists through the repartition layer") {
    fixture
    import org.apache.spark.sql.functions.col
    spark.table("rj_big").repartition(4, col("id"))
      .createOrReplaceTempView("rj_big_healed2")
    assert(parity(
      """SELECT t.id, t.k, t.v, r.rn
        |FROM (SELECT * FROM rj_big_healed2 WHERE v > 40) t
        |JOIN (SELECT id, row_number() OVER (PARTITION BY k
        |        ORDER BY v DESC, id) AS rn FROM rj_big_healed2) r
        |ON t.id = r.id AND r.rn <= 3
        |""".stripMargin), "expected the filtered-probe collapse through the repartition")
  }
}
