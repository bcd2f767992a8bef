package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.{Scan, Tables}

/** Round-14 query entries. §2.12 extension operators. */
object SparkEntryR14 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X140: greatest-n-per-group join with a COMPUTED grouping key
    // (VERDICT r13 #1) ----
    //
    // "Latest order per customer per MONTH" written the way SQL users
    // write it: a self-join against `GROUP BY o_custkey,
    // date_trunc('month', …)`. Round 13's ArgMaxJoinRule refused
    // computed keys, so this everyday spelling kept Spark's two-scan
    // join plan; round 14 accepts deterministic expression keys whose
    // probe-side twins are canonically equal after the base mapping
    // (including the `_groupingexpression` Project Catalyst pulls out),
    // and partitions the emitted Window on the probe-side expressions.
    // The oracle runs the IDENTICAL month-bucketed join SQL in DuckDB;
    // PlanAuditSpec pins the plan join-free with exactly one scan.
    "x140_argmax_month" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("x140_orders")
      s.sql(
        """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
          |       a.mon, a.last_in_month
          |FROM x140_orders t
          |JOIN (SELECT o_custkey,
          |             CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
          |             max(o_orderdate) AS last_in_month
          |      FROM x140_orders
          |      GROUP BY o_custkey,
          |               CAST(date_trunc('month', o_orderdate) AS DATE)) a
          |ON t.o_custkey = a.o_custkey
          |AND CAST(date_trunc('month', t.o_orderdate) AS DATE) = a.mon
          |AND t.o_orderdate = a.last_in_month
          |ORDER BY t.o_custkey, a.mon, t.o_orderkey""".stripMargin)
    }),

    // ---- X141: ordered running distinct-count per key (VERDICT r13 #2)
    // ----
    //
    // `count(DISTINCT source) OVER (PARTITION BY lang ORDER BY doc_id)` —
    // "distinct sources to date per language" — is inexpressible in
    // Spark (DISTINCT is rejected in window functions); x135 covered the
    // whole-partition attach, this completes the pair with the CUMULATIVE
    // form. The library spelling (`stats/RunningDistinct`): one (k, x)
    // partial aggregate finds each value's first row (min_by on the
    // unique id — deterministic under time ties), a null-safe join marks
    // exactly that row with a 0/1 flag, and a keyed running sum of the
    // flag rides the keyed-window heal (the lang IN filter is the ndv
    // proof). The DuckDB oracle runs the REAL windowed-DISTINCT SQL,
    // proving the composition equals the window semantics an engine that
    // supports them produces.
    "x141_running_distinct" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .where(col("lang").isin("de", "en", "es", "fr", "zh"))
        .select("doc_id", "lang", "source")
      graft.stats.RunningDistinct
        .attach(docs, "lang", "doc_id", "source", "doc_id", "cum_sources")
        .orderBy("doc_id")
    }),

    // ---- X141b: mergeable-sketch twin of the running distinct count ----
    //
    // At stream scale the exact form's (k, x) first-occurrence frame can
    // itself be large; the theta-sketch twin buckets time and folds a
    // running UNION of mergeable sketches over the bounded (k, bucket)
    // frame. r15 (VERDICT r14 #4): the fold is a PREFIX window over the
    // per-bucket sketches — O(|k|·B) sketch merges — replacing r14's
    // triangular `q.bucket <= p.bucket` self-join (O(|k|·B²) merges and
    // a join the frame never needed). The window runs on the TINY
    // (k, bucket) aggregate frame, never the corpus, which is scanned
    // once; nothing per-row is retained. Approximate by construction →
    // rows-only; at fixture cardinalities (20 sources « 2^12) the
    // sketches never enter estimation mode, so RunningDistinctSpec pins
    // the estimates EQUAL to the exact cumulative counts (the x3/x29
    // exact-under-capacity discipline) and pins the plan self-join-free.
    "x141b_running_distinct_sketch" -> ((s, d) => {
      org.apache.spark.sql.graft.ColumnBridge.registerFunctions(s)
      Tables.documents(s, d).createOrReplaceTempView("x141b_docs")
      s.sql(
        """WITH per AS (
          |  SELECT lang, CAST(doc_id DIV 100 AS INT) AS bucket,
          |         graft_theta_agg(source, 12) AS sk
          |  FROM x141b_docs GROUP BY 1, 2)
          |SELECT lang, bucket,
          |       graft_theta_count(graft_theta_union(sk, 12) OVER (
          |         PARTITION BY lang ORDER BY bucket
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |         AS cum_sources_approx
          |FROM per ORDER BY lang, bucket""".stripMargin)
    }),

    // ---- X142: top-n-per-group correlated-count spelling (VERDICT r13
    // #3) ----
    //
    // "Top 2 orders per customer" written as the correlated count —
    // `WHERE (SELECT count(*) … WHERE same key AND bigger value) < n` —
    // which Catalyst decorrelates through a DOMAIN join: three scans of
    // orders and a |domain|×|orders| range join. `TopNSubqueryRule`
    // intercepts the analyzed plan BEFORE decorrelation and collapses it
    // to a rank-window filter the keyed-window family then heals — one
    // scan, no join. The oracle runs the IDENTICAL correlated SQL in
    // DuckDB; ties at the cut keep all peers on both engines, and null
    // keys/values pass (their correlated count is 0), reproduced by the
    // rule's explicit IS NULL escapes.
    "x142_topn_correlated" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("x142_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM x142_orders t
          |WHERE (SELECT count(*) FROM x142_orders t2
          |       WHERE t2.o_custkey = t.o_custkey
          |         AND t2.o_totalprice > t.o_totalprice) < 2
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    // ---- X144: keys-only group-stats attach join (round 14) ----
    //
    // "Join the group aggregates back onto the rows" — the most common
    // enrichment join of all: `t JOIN (SELECT k, count(*), max(v),
    // min(v) FROM t GROUP BY k) ON t.k = g.k`. ArgMaxJoinRule (r14)
    // collapses it to ONE scan with a multi-expression window attach and
    // an IS NOT NULL key filter — but ONLY when the key's ndv is PROVEN
    // low (here the `l_returnflag IN (…)` filter pin, the keyed family's
    // own proof): an unproven keys-only join keeps Spark's broadcast
    // plan, which measured FASTER at 20k unproven keys (the q17
    // crossover — recorded in README's bench notes). Key-distinctness
    // rules out replication; null-key rows drop exactly as the join
    // drops them. The oracle runs the IDENTICAL join SQL in DuckDB.
    // Scan.Parallel (OPTIMIZATION r16, measured −0.33 s isolated): the
    // zero-join attach's window and the final full-output range sort's
    // map side otherwise serialize through the single-task lineitem scan.
    "x144_group_stats_attach" -> ((s, d) => {
      Tables.lineitem(s, d, Scan.Parallel)
        .createOrReplaceTempView("x144_lineitem")
      s.sql(
        """WITH flagged AS (
          |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
          |  FROM x144_lineitem WHERE l_returnflag IN ('A', 'N', 'R'))
          |SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag,
          |       t.l_quantity, g.n_items, g.max_qty, g.min_qty
          |FROM flagged t
          |JOIN (SELECT l_returnflag, count(*) AS n_items,
          |             max(l_quantity) AS max_qty,
          |             min(l_quantity) AS min_qty
          |      FROM flagged GROUP BY l_returnflag) g
          |ON t.l_returnflag = g.l_returnflag
          |ORDER BY t.l_orderkey, t.l_linenumber, t.l_returnflag,
          |         t.l_quantity""".stripMargin)
    }),

    // ---- X143: round-14 capstone — both r14 rewrite rules in ONE lazy
    // plan ----
    //
    // The monthly panel a SQL user writes naively: latest order per
    // (customer, month) via the computed-key self-join (x140 — FIVE
    // scans of orders in stock Spark once the correlated top-2 flag's
    // domain join is counted), flagged with "is this also one of the
    // customer's top-2 orders by price" via the correlated-count
    // spelling (x142). ArgMaxJoinRule collapses the month join to one
    // scan; TopNSubqueryRule collapses the correlated count to a rank
    // filter on a second scan; the final flag join is a broadcast of
    // the tiny top-2 set. TWO scans total, no Window node, no shuffle
    // join — the oracle runs the IDENTICAL SQL in DuckDB.
    "x143_monthly_top_panel" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("x143_orders")
      s.sql(
        """WITH latest AS (
          |  SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
          |         a.mon, a.last_in_month
          |  FROM x143_orders t
          |  JOIN (SELECT o_custkey,
          |               CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
          |               max(o_orderdate) AS last_in_month
          |        FROM x143_orders
          |        GROUP BY o_custkey,
          |                 CAST(date_trunc('month', o_orderdate) AS DATE)) a
          |  ON t.o_custkey = a.o_custkey
          |  AND CAST(date_trunc('month', t.o_orderdate) AS DATE) = a.mon
          |  AND t.o_orderdate = a.last_in_month),
          |top2 AS (
          |  SELECT o_orderkey, o_totalprice
          |  FROM x143_orders t
          |  WHERE (SELECT count(*) FROM x143_orders t2
          |         WHERE t2.o_custkey = t.o_custkey
          |           AND t2.o_totalprice > t.o_totalprice) < 2)
          |SELECT l.o_custkey, l.mon, l.o_orderkey, l.o_orderdate,
          |       CASE WHEN tp.o_orderkey IS NOT NULL THEN 1 ELSE 0 END
          |         AS is_cust_top2,
          |       tp.o_totalprice AS top_price
          |FROM latest l
          |LEFT JOIN top2 tp ON l.o_orderkey = tp.o_orderkey
          |ORDER BY l.o_custkey, l.mon, l.o_orderkey""".stripMargin)
    }))

  def oracleSql: Map[String, String] = Map(
    // the IDENTICAL month-bucketed join SQL — DuckDB executes the
    // two-scan join as written while Spark runs the rule's single-scan
    // expression-partitioned windowed rewrite
    "x140_argmax_month" ->
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
        |       a.mon, a.last_in_month
        |FROM orders t
        |JOIN (SELECT o_custkey,
        |             CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |             max(o_orderdate) AS last_in_month
        |      FROM orders
        |      GROUP BY o_custkey,
        |               CAST(date_trunc('month', o_orderdate) AS DATE)) a
        |ON t.o_custkey = a.o_custkey
        |AND CAST(date_trunc('month', t.o_orderdate) AS DATE) = a.mon
        |AND t.o_orderdate = a.last_in_month
        |ORDER BY t.o_custkey, a.mon, t.o_orderkey""".stripMargin,

    // DuckDB SUPPORTS ordered windowed DISTINCT aggregates — the oracle
    // runs the real cumulative window form the Spark analyzer refuses,
    // proving the first-occurrence composition equals the window
    // semantics (peers at the same doc_id would share a value; doc_id is
    // unique, so the RANGE/ROWS distinction is moot here and pinned with
    // ties in RunningDistinctSpec instead)
    "x141_running_distinct" ->
      """SELECT doc_id, lang, source,
        |       count(DISTINCT source)
        |         OVER (PARTITION BY lang ORDER BY doc_id) AS cum_sources
        |FROM documents
        |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        |ORDER BY doc_id""".stripMargin,

    // the IDENTICAL correlated top-n SQL — DuckDB runs the correlated
    // count as written while Spark runs the rank-window collapse
    "x142_topn_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders t
        |WHERE (SELECT count(*) FROM orders t2
        |       WHERE t2.o_custkey = t.o_custkey
        |         AND t2.o_totalprice > t.o_totalprice) < 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    // the IDENTICAL group-stats attach join SQL — DuckDB executes the
    // two-scan join as written while Spark runs the one-scan
    // multi-expression window attach (proven 3-key partition)
    "x144_group_stats_attach" ->
      """WITH flagged AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R'))
        |SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag,
        |       t.l_quantity, g.n_items, g.max_qty, g.min_qty
        |FROM flagged t
        |JOIN (SELECT l_returnflag, count(*) AS n_items,
        |             max(l_quantity) AS max_qty,
        |             min(l_quantity) AS min_qty
        |      FROM flagged GROUP BY l_returnflag) g
        |ON t.l_returnflag = g.l_returnflag
        |ORDER BY t.l_orderkey, t.l_linenumber, t.l_returnflag,
        |         t.l_quantity""".stripMargin,

    // the IDENTICAL capstone composition — DuckDB runs the month
    // self-join and the correlated count as written
    "x143_monthly_top_panel" ->
      """WITH latest AS (
        |  SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
        |         a.mon, a.last_in_month
        |  FROM orders t
        |  JOIN (SELECT o_custkey,
        |               CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |               max(o_orderdate) AS last_in_month
        |        FROM orders
        |        GROUP BY o_custkey,
        |                 CAST(date_trunc('month', o_orderdate) AS DATE)) a
        |  ON t.o_custkey = a.o_custkey
        |  AND CAST(date_trunc('month', t.o_orderdate) AS DATE) = a.mon
        |  AND t.o_orderdate = a.last_in_month),
        |top2 AS (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders t
        |  WHERE (SELECT count(*) FROM orders t2
        |         WHERE t2.o_custkey = t.o_custkey
        |           AND t2.o_totalprice > t.o_totalprice) < 2)
        |SELECT l.o_custkey, l.mon, l.o_orderkey, l.o_orderdate,
        |       CASE WHEN tp.o_orderkey IS NOT NULL THEN 1 ELSE 0 END
        |         AS is_cust_top2,
        |       tp.o_totalprice AS top_price
        |FROM latest l
        |LEFT JOIN top2 tp ON l.o_orderkey = tp.o_orderkey
        |ORDER BY l.o_custkey, l.mon, l.o_orderkey""".stripMargin)
}
