package graft.stats

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.plans.NoKey

/** `RunningDistinct.attach` — the count(DISTINCT x) OVER (PARTITION BY k
  * ORDER BY t) composition (x141) — against a brute-force replay of the
  * windowed-DISTINCT law, with the tie/null edges the fixture-backed
  * oracle (unique doc_id) cannot exercise; plus the theta-sketch twin's
  * exact-under-capacity pin and the x141 plan shape.
  */
class RunningDistinctSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (k, t, x, id): time ties introducing SEVERAL new values at once, a
  // value re-seen later (contributes nothing), null x (never counted,
  // row kept), null k (its own partition), two rows of the SAME new
  // value at its first timestamp (must count once)
  private val rows = Seq[(Option[String], Int, Option[String], Long)](
    (Some("a"), 1, Some("u"), 1L),
    (Some("a"), 1, Some("v"), 2L), // tie: two new values at t=1
    (Some("a"), 2, Some("u"), 3L), // re-seen: no contribution
    (Some("a"), 2, None, 4L), // null x: kept, counts nothing
    (Some("a"), 3, Some("w"), 5L),
    (Some("a"), 3, Some("w"), 6L), // same new value twice at its first t
    (Some("b"), 1, Some("u"), 7L),
    (None, 1, Some("z"), 8L), // null key partition
    (None, 2, Some("z"), 9L))

  /** The windowed-DISTINCT law, computed naively: distinct non-null x in
    * the row's k-partition whose first time is <= the row's t.
    */
  private def expected: Map[Long, Long] = {
    val byK = rows.groupBy(_._1)
    rows.map { case (k, t, _, id) =>
      val firsts = byK(k).collect { case (_, ft, Some(x), _) => (x, ft) }
        .groupBy(_._1).map { case (x, g) => x -> g.map(_._2).min }
      id -> firsts.count { case (_, ft) => ft <= t }.toLong
    }.toMap
  }

  test("attach matches the brute-force windowed-DISTINCT law on ties and nulls") {
    val df = rows.toDF("k", "t", "x", "id")
    val got = RunningDistinct.attach(df, "k", "t", "x", "id", "cum")
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("randomized battery: seeded nullable data vs the brute-force law") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 60013)
      val data = (1 to 300).map { i =>
        val k = if (rnd.nextInt(12) == 0) None else Some(s"k${rnd.nextInt(4)}")
        val t = rnd.nextInt(20) // heavy time ties
        val x = if (rnd.nextInt(6) == 0) None else Some(s"x${rnd.nextInt(9)}")
        (k, t, x, i.toLong)
      }
      val byK = data.groupBy(_._1)
      val want = data.map { case (k, t, _, id) =>
        val firsts = byK(k).collect { case (_, ft, Some(x), _) => (x, ft) }
          .groupBy(_._1).map { case (x, g) => x -> g.map(_._2).min }
        id -> firsts.count { case (_, ft) => ft <= t }.toLong
      }.toMap
      val df = data.toDF("k", "t", "x", "id")
      val got = RunningDistinct.attach(df, "k", "t", "x", "id", "cum")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      assert(got === want, s"seed $seed diverged from the brute-force law")
    }
  }

  test("peers share the running value (RANGE semantics)") {
    val df = rows.toDF("k", "t", "x", "id")
    val got = RunningDistinct.attach(df, "k", "t", "x", "id", "cum")
      .select("k", "t", "cum").distinct().collect()
    // every (k, t) pair maps to exactly one running value
    val pairs = got.map(r => (r.get(0), r.get(1))).toSeq
    assert(pairs.distinct.length === pairs.length,
      "two peers at the same (k, t) disagreed on the running value")
  }

  test("x141 plans the keyed running heal: no WindowExec, broadcast flag attach") {
    val exec = SparkEntry.queries("x141_running_distinct")(
      spark, TestSpark.Sf0001).queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("Window ["),
      s"x141: a window survived the rewrite family:\n${p.take(1500)}")
    assert(NoKey.nodes(exec).exists(NoKey.keyed(_, "KeyedRunningAgg")),
      s"x141: expected the keyed running heal:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"x141: the first-occurrence attach should broadcast:\n${p.take(1500)}")
  }

  test("x141b sketch twin is EXACT under capacity and equals the exact cumulative") {
    // 20 sources « 2^12: the theta sketches never enter estimation mode,
    // so the running-union estimates must EQUAL the exact cumulative
    // distinct counts per (lang, bucket) — the x3/x29 discipline
    val sf = "/root/testdata/sf0.001"
    val approx = SparkEntry.queries("x141b_running_distinct_sketch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("lang", "doc_id", "source")
      .collect().map(r => (r.getString(0), (r.getLong(1) / 100).toInt, r.getString(2)))
    val exact = docs.map { case (l, b, _) => (l, b) }.distinct.map { case (l, b) =>
      (l, b) -> docs.collect { case (l2, b2, s2) if l2 == l && b2 <= b => s2 }
        .distinct.length.toLong
    }.toMap
    assert(approx === exact)
    // r15 (VERDICT r14 #4): the running union is a PREFIX WINDOW over
    // the per-bucket sketches — O(B) merges per key — never the r14
    // triangular `q.bucket <= p.bucket` self-join (O(B²))
    val p = SparkEntry.queries("x141b_running_distinct_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"x141b: the triangular self-join returned:\n${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x141b: corpus must be scanned once:\n${p.take(1200)}")
  }

  test("x140/x142 plan join-free with the keyed heals") {
    // r15 (VERDICT r14 #1): orders registers MEASURED o_custkey ndv, and
    // the lower-bound refusal (ndv(custkey, month) >= ndv(custkey) >
    // maxNdv) keeps Spark's hash-clustered Window for the total-agg
    // attach — the join elimination still wins (one scan, no join), but
    // the exec is the plan that stays fast AND finishes at 100x keys
    // instead of the zero-exchange heal that aborts at the run budget.
    val exec140 = SparkEntry.queries("x140_argmax_month")(
      spark, TestSpark.Sf0001).queryExecution.executedPlan
    val p140 = exec140.toString
    assert(p140.contains("Window") &&
      !NoKey.nodes(exec140).exists(NoKey.keyed(_, "KeyedTotalAgg")),
      s"x140: expected the hash-clustered Window (proven-HIGH key):\n${p140.take(1500)}")
    assert(!p140.contains("Join"),
      s"x140: the self-join survived:\n${p140.take(1500)}")
    assert(p140.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x140: expected one scan:\n${p140.take(1500)}")
    // x142's rank partitions by o_custkey ALONE — now MEASURED high, so
    // the posture that has always held for proven-high keys applies
    // (hash clustering is already parallel; the heal's design center is
    // low ndv — q17 measured it 1.7x slower at 20k keys): the collapse
    // to ONE scan still fires, the window stays Spark's.
    val exec142 = SparkEntry.queries("x142_topn_correlated")(
      spark, TestSpark.Sf0001).queryExecution.executedPlan
    val p142 = exec142.toString
    assert(p142.contains("Window [") &&
      !NoKey.nodes(exec142).exists(NoKey.keyed(_, "KeyedRank")),
      s"x142: expected the hash-clustered rank window (proven-HIGH key):\n${p142.take(1500)}")
    assert(!p142.contains("Join"),
      s"x142: the correlated domain join survived:\n${p142.take(1500)}")
    assert(p142.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x142: expected one scan:\n${p142.take(1500)}")
  }

  test("x144 group-stats attach plans one scan, no join") {
    val p = SparkEntry.queries("x144_group_stats_attach")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      s"x144: the attach join survived:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"x144: expected one scan:\n${p.take(1500)}")
  }
}
