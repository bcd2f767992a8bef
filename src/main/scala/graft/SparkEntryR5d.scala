package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.ZOrder
import graft.tables.{Scan, Tables}
import graft.text.TextOps

/** Round-5d query entries: lakehouse data-layout operators — z-order
  * clustering with min/max file-skipping (`pipeline/ZOrder.scala`).
  *
  * The x20 entry exercises the full lifecycle: cluster a copy of `events`
  * on (user_id, value), build the per-file min/max index, serve a box
  * predicate through the index-pruned read, and re-apply the exact
  * predicate. Pruning is a pure optimization (conservative file skipping),
  * so the result is oracle-exact against a plain filtered scan — the same
  * contract a 100 TB reader gets: fewer files touched, identical rows.
  */
object SparkEntryR5d {

  private def tmpBase(sfDir: String, name: String): String = {
    val leaf = new java.io.File(sfDir).getName
    s"${System.getProperty("java.io.tmpdir")}/graft_r5d/$leaf/$name"
  }

  /** Box predicate fixed across scales: non-degenerate from sf0.001
    * (user_id 0-14) through sf0.1 (user_id 0-1499).
    */
  private val UserLo = 2L
  private val UserHi = 9L
  private val ValLo = 50.0
  private val ValHi = 150.0

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X20: z-order-clustered box scan — identical rows to a full filtered
    // scan (the oracle), served from index-selected files only. The
    // clustered copy + index are built once per (sf, tmp) and trusted via
    // _SUCCESS (ZOrderSpec pins pruning power and null/degenerate edges).
    "x20_zorder_prune" -> ((s, d) => {
      val dir = tmpBase(d, "events_z")
      ZOrder.clusterWrite(Tables.events(s, d), Seq("user_id", "value"),
        dir, numFiles = 16)
      ZOrder.prunedRead(s, dir, Seq(
        ("user_id", UserLo, UserHi), ("value", ValLo, ValHi)))
        .filter(col("user_id").between(UserLo, UserHi) &&
          col("value").between(ValLo, ValHi))
        .select(col("event_id"), col("user_id"), col("value"))
    }),

    // X21: cross-table fuzzy join (entity resolution) — a perturbed probe
    // set (every 10th doc + one appended token) resolved against the
    // corpus by MinHash-LSH candidates + exact-Jaccard verify, never the
    // |probe|×|corpus| product. The oracle recomputes the EXACT all-pairs
    // Jaccard at fixture scale: a green row proves the LSH path finds
    // exactly the true >= 0.8 pair set (precision 1 by verify; per-pair
    // miss prob <= 5e-6 at the J=0.8 boundary, vanishing above it).
    "x21_fuzzy_join" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val probe = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(1000000L)).as("probe_id"),
          concat(col("text"), lit(" qq")).as("text"))
      TextOps.fuzzyJoin(probe, docs, 0.8)
    }),

    // X22: snapshot time travel — a three-version history of `documents`
    // (base → every-5th edited → every-7th dropped) committed at known
    // timestamps, then read AS OF a mid-history instant. The manifest
    // resolves the version driver-side; exactly ONE snapshot directory is
    // scanned. Oracle recomputes the v2 derivation directly — a green row
    // proves AS OF picked the right snapshot and the snapshot is intact.
    "x22_time_travel" -> ((s, d) => {
      import java.sql.Timestamp
      val root = tmpBase(d, "docs_tt")
      // partial history (a prior run died mid-build) cannot be resumed:
      // re-committing v0 would violate commit-ts monotonicity and wedge
      // every later run — wipe and rebuild the deterministic history
      val nVersions = graft.tables.TimeTravel.versions(s, root).size
      if (nVersions > 0 && nVersions < 3) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(root))
      }
      if (graft.tables.TimeTravel.versions(s, root).size < 3) {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val v2 = docs.withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")))
        graft.tables.TimeTravel.commit(docs, root,
          Timestamp.valueOf("2026-01-01 00:00:00"))
        graft.tables.TimeTravel.commit(v2, root,
          Timestamp.valueOf("2026-01-02 00:00:00"))
        graft.tables.TimeTravel.commit(v2.filter(col("doc_id") % 7 =!= 0),
          root, Timestamp.valueOf("2026-01-03 00:00:00"))
      }
      graft.tables.TimeTravel.readAsOf(s, root,
        Timestamp.valueOf("2026-01-02 12:00:00"))
    }),

    // X23: incremental aggregate maintenance — the per-source stats table
    // is PERSISTED once from the base corpus; absorbing the change batch
    // is summarize(delta) + a full-outer merge of two tiny summaries. The
    // corpus is scanned exactly once (the delta) — pinned in
    // IncrementalStatsSpec — yet the merged counters equal the full
    // recompute the oracle runs. Sketch-identity (merge-then-estimate ==
    // recompute-then-estimate) is pinned in the same spec.
    "x23_incremental_stats" -> ((s, d) => {
      import graft.stats.IncrementalStats
      val root = tmpBase(d, "stats_base")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      if (!new java.io.File(root, "_SUCCESS").exists())
        IncrementalStats.summarize(docs.filter(col("doc_id") % 3 =!= 0),
          "source", "n_chars", "doc_id")
          .write.mode("overwrite").parquet(root)
      val deltaSum = IncrementalStats.summarize(
        docs.filter(col("doc_id") % 3 === 0), "source", "n_chars", "doc_id")
      IncrementalStats.merge(s.read.parquet(root), deltaSum, "source")
        .select(IncrementalStats.exactCols("source"): _*)
    }),

    // W6: SLIDING event-time windows (1 h window, 15 min slide) — each
    // event lands in exactly window/slide = 4 overlapping windows; Spark
    // plans this as a row-local window-instance explode feeding the same
    // partial/final aggregate as tumbling, so the cost knob is the
    // window:slide ratio (4× row replication here), never a shuffle
    // blowup. Counts + exact distincts only (integer math, no float fold
    // order). Watermarked streaming twin with append-mode emission timing
    // pinned in StreamingWindowSpec.
    "w6_sliding_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("n_events"), col("n_users"))),

    // W8: rolling z-score anomaly flags — monitoring over the same 7-row
    // frame as the flagship's mm_7d, built from WINDOW SUFFICIENT
    // STATISTICS in exact integer cents (Σc, Σc² stay far under 2^53, so
    // the casts to double are exactly rounded and ORDER-FREE — equal to
    // the oracle's decimal→double sums), never a float-accumulator
    // STDDEV. The three sums share one plain per-flag window, which
    // `KeyedWindowRule` re-plans on a range exchange over (ativo, order):
    // l_returnflag has THREE values, and the hash-clustered window would
    // cap parallelism at 3 tasks at any scale.
    // z derives in one spelled-identically double expression, rounded to
    // 10, and the |z| > 2 flag reads the ROUNDED value so the boundary
    // is shared.
    "w8_zscore_outliers" -> ((s, d) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val w = Window.partitionBy("ativo")
        .orderBy(col("dt"), col("l_orderkey"), col("l_linenumber"), col("close_price"))
        .rowsBetween(-6, 0)
      val stats = Tables.lineitem(s, d).select(
        col("l_returnflag").as("ativo"), col("l_shipdate").as("dt"),
        col("l_extendedprice").as("close_price"),
        col("l_orderkey"), col("l_linenumber"), cents.as("cents"))
        .select(col("ativo"), col("l_orderkey"), col("l_linenumber"),
          col("close_price"), count(lit(1)).over(w).as("n"),
          sum(col("cents")).over(w).as("sxc"),
          sum(col("cents") * col("cents")).over(w).as("sxxc"))
      val sx = col("sxc").cast("double") / 100.0d
      val sxx = col("sxxc").cast("double") / 10000.0d
      val variance = (lit(7.0d) * sxx - sx * sx) / lit(42.0d)
      stats.select(col("ativo"), col("l_orderkey"), col("l_linenumber"),
        round(when(col("n") === 7 && variance > 0,
          (col("close_price") - sx / lit(7.0d)) / sqrt(variance)), 10).as("z"))
        .withColumn("is_outlier", abs(col("z")) > 2.0)
    }),

    // W7: EWMA over the per-asset DAILY close series — the reference's
    // pandas users' `ewm(alpha).mean()`. Daily closes are exact decimal
    // sums cast to double (deterministic), then the inherently sequential
    // recurrence folds per key in typed flatMapGroups (bounded series —
    // a few thousand daily points per asset; see stats/Ewma). The oracle
    // replays the identical recurrence as a recursive CTE: same fold
    // order → bit-identical doubles.
    "w7_ewma" -> ((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("ativo"),
          col("l_shipdate").as("dt"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("close"))
      graft.stats.Ewma.perKey(daily, 0.2, "ativo", "dt", "close")
    }),

    // X31: fixed-width histogram — the profiling primitive x12 lacks:
    // value distribution in 20 equal buckets over a declared [0, 110000)
    // domain. Bucket assignment is pure integer-cents arithmetic
    // ((cents × 20) DIV 11_000_000) so the bucket boundary — the only
    // thing float math could blur — is engine-exact; one scan, one tiny
    // aggregate, mergeable counts.
    "x31_histogram" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(expr(
          "(CAST(round(l_extendedprice * 100) AS BIGINT) * 20) div 11000000")
          .as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // X30: correlation via sufficient statistics — exact BIGINT
    // components (n, Σx, Σy-cents, Σx², Σy² split-radix hi/lo, Σxy-cents)
    // folded order-independently, correlation derived at the END in one
    // deterministic double evaluation per group. The components are plain
    // sums → mergeable (the IncrementalStats lifecycle for second-order
    // moments); the built-in float-accumulator corr is fold-order-
    // dependent and could never hash-match an oracle. No output column is
    // wider than int64 — raw >18-precision decimals proved hash-fragile
    // across driver vintages (r7).
    "x30_sufficient_stats" -> ((s, d) =>
      graft.stats.SufficientStats.perGroup(
        Tables.lineitem(s, d), "l_returnflag", "l_quantity", "l_extendedprice")),

    // X29: distinct-set algebra via theta sketches — "how many users did
    // BOTH A and B" from two tiny blobs instead of a distinct×distinct
    // join. At fixture cardinalities (users « 2^lgK) the sketches never
    // enter estimation mode, so the rounded intersection estimates are
    // EXACT integers and the row is a real DuckDB-oracle row — the same
    // exact-under-capacity trick as x3_distinct_exact vs HLL. Sketch per
    // event_type (one scan), then pairwise intersect on the 5×4/2 pairs.
    "x29_set_overlap" -> ((s, d) => {
      org.apache.spark.sql.graft.ColumnBridge.registerFunctions(s)
      Tables.events(s, d).createOrReplaceTempView("r5d_events")
      s.sql("""
        WITH sk AS (SELECT event_type, graft_theta_agg(user_id, 12) AS sk
                    FROM r5d_events GROUP BY event_type)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               graft_theta_intersect_count(a.sk, b.sk) AS n_both
        FROM sk a JOIN sk b ON a.event_type < b.event_type
        """)
    }),

    // X28: heavy-hitters sketch — the mergeable twin of the exact
    // term-frequency top-k (x5_term_freq): one bounded Misra-Gries-style
    // blob per partition instead of shuffling every distinct token;
    // NO_FALSE_NEGATIVES guarantees no true heavy hitter is missed, and
    // each row carries explicit (lower, upper) bounds. Approximate by
    // construction → rows-only; exact-under-capacity, merge==global, and
    // bound-bracketing pinned in FreqSketchSpec. Completes the mergeable
    // sketch family: HLL (distinct), KLL (quantiles), FI (top items).
    "x28_heavy_hitters" -> ((s, d) => {
      org.apache.spark.sql.graft.ColumnBridge.registerFunctions(s)
      Tables.documents(s, d)
        .select(explode(TextOps.allShingles(col("text"), 1)).as("tok"))
        .createOrReplaceTempView("r5d_tokens")
      s.sql("""
        SELECT inline(graft_freq_topk(graft_freq_agg(tok, 1024), 10))
        FROM r5d_tokens""")
    }),

    // X27: edit-distance fuzzy join (typo-tolerant record linkage) —
    // PassJoin pigeonhole blocking is COMPLETE (a theorem, not a recall
    // probability), so the blocked join + levenshtein verify equals the
    // full-product brute force EXACTLY — which is precisely what the
    // DuckDB oracle computes. Probe set: every 5th part's name-key with
    // one substituted character.
    // Scan.Parallel (r16, measured −0.3 s): the levenshtein verify and
    // blocking-key explode otherwise ride the single scan task.
    "x27_edit_join" -> ((s, d) => {
      val base = Tables.part(s, d, Scan.Parallel)
        .select(col("p_partkey").as("part_id"),
          concat(col("p_name"), lit("-"), col("p_partkey")).as("s"))
      val probe = base.filter(col("part_id") % 5 === 0)
        .select((col("part_id") + lit(1000000L)).as("probe_id"),
          expr("concat(substring(s, 1, 2), '~', substring(s, 4, length(s)))").as("s"))
      graft.text.EditDistanceJoin.join(probe, base, 1,
        leftId = "probe_id", rightId = "part_id")
    }),

    // X26: product-quantization ANN — the memory-compression leg of the
    // similarity family (64 floats → 8 codes, 32×): per-subspace Lloyd
    // codebooks persisted via ArtifactStore (fresh JVM loads, no refit —
    // pinned in PqSpec), ADC compressed-domain scan, exact-cosine re-rank
    // of the small candidate pool. Approximate by design → rows-only;
    // recall vs brute force asserted in PqSpec.
    "x26_pq_topk" -> ((s, d) => {
      import graft.sim.Pq
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        expr("CAST(embedding AS array<double>)").as("emb"))
      val cb = Pq.ensureCodebooks(s, emb,
        s"$d/embeddings-${Tables.stamp(s, d, "embeddings")}", m = 8, k = 16,
        iters = 2)
      Pq.topK(emb, emb.filter(col("vec_id") < 10), cb, k = 10, rerank = 60)
        .select(col("q_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim6"))
    }),

    // X25: n-gram LM train + score — perplexity-filter lifecycle in exact
    // fixed-point: train trigram/context counts on the corpus (one scan,
    // one n-gram count shuffle; denominators derived from the LM table,
    // never a second corpus scan), then score every document by its
    // summed conditional-probability proxy. Hash joins only (pinned in
    // NgramLmSpec); all-integer arithmetic → hash-exact cross-engine.
    "x25_ngram_score" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.text.NgramLm.score(docs, graft.text.NgramLm.train(docs))
    }),

    // X24: declarative data-quality gate — the violations report a
    // pipeline runs before publishing a table. All row-local rules fold
    // into ONE scan (pinned in ChecksSpec); uniqueness is one key count;
    // referential integrity is one anti-join against the (broadcastable)
    // parent keys; the cross-table temporal rule runs over the joined
    // frame and unions in. Fixture truth: the duplicate line-key surplus
    // and ship-before-order counts are real, non-zero violations.
    "x24_quality_report" -> ((s, d) => {
      import graft.quality.Checks
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val base = Checks.run(li, Seq(
        Checks.notNull("l_quantity"),
        Checks.inRange("l_discount", 0.0, 0.1),
        Checks.RowCheck("positive_price", col("l_extendedprice") <= 0),
        Checks.Unique("unique_line_key", Seq("l_orderkey", "l_linenumber")),
        Checks.RefIntegrity("order_exists", "l_orderkey", ord, "o_orderkey")))
      val temporal = Checks.run(
        li.join(ord, col("l_orderkey") === col("o_orderkey")),
        Seq(Checks.RowCheck("ship_after_order",
          col("l_shipdate") < col("o_orderdate"))))
      base.unionByName(temporal)
    }),

    // A8: explicit GROUPING SETS — the general form behind the existing
    // rollup (a4) and cube (a6): three hand-picked sets (by returnflag,
    // by linestatus, grand total) in ONE pass — Spark's Expand replicates
    // each row once per set feeding a single aggregate, never three
    // scans. GROUPING() markers disambiguate the null-vs-missing classes,
    // cast BIGINT on both engines.
    "a8_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("r5d_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               COUNT(*) AS n_lines
        FROM r5d_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """)
    })
  )

  // DuckDB mirrors of TextOps.tokens / TextOps.shingles(_, 3) — same
  // strings as SparkEntryExt's x2 oracles
  private val toksSql =
    """CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END"""
  private def shinglesSql(t: String) =
    s"CASE WHEN len($t) >= 3 THEN list_transform(range(1, len($t)-1), " +
      s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]) ELSE [] END"

  def oracleSql: Map[String, String] = Map(
    "x20_zorder_prune" -> s"""
      SELECT event_id, user_id, value FROM events
      WHERE user_id BETWEEN $UserLo AND $UserHi
        AND value BETWEEN $ValLo AND $ValHi
      """,
    "x21_fuzzy_join" -> s"""
      WITH probe AS (
        SELECT doc_id + 1000000 AS probe_id, text || ' qq' AS text
        FROM documents WHERE doc_id % 10 = 0),
      shp AS (
        SELECT probe_id, list_distinct(${shinglesSql("tk")}) AS s
        FROM (SELECT probe_id, $toksSql AS tk FROM probe)),
      shd AS (
        SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
        FROM (SELECT doc_id, $toksSql AS tk FROM documents))
      SELECT probe_id, doc_id,
             CAST(len(list_intersect(p.s, d.s)) AS DOUBLE)
               / len(list_distinct(p.s || d.s)) AS jac
      FROM shp p, shd d
      WHERE len(p.s) > 0 AND len(d.s) > 0
        AND CAST(len(list_intersect(p.s, d.s)) AS DOUBLE)
              / len(list_distinct(p.s || d.s)) >= 0.8
      """,
    "x22_time_travel" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' ELSE text END AS text
      FROM documents
      """,
    "x23_incremental_stats" -> """
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(n_chars) AS BIGINT) AS sum_val
      FROM documents GROUP BY source
      """,
    // each event belongs to win_start = floor15(ts) - k*15min, k = 0..3
    "w6_sliding_agg" -> """
      SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 - k) * 900000000
               AS win_start_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM (SELECT ts, user_id, unnest(range(0, 4)) AS k FROM events)
      GROUP BY 1
      """,
    "w8_zscore_outliers" -> """
      WITH b AS (SELECT l_returnflag AS ativo, l_shipdate AS dt,
                        l_extendedprice AS close_price,
                        l_orderkey, l_linenumber
                 FROM lineitem),
      w AS (
        SELECT ativo, l_orderkey, l_linenumber, close_price,
               COUNT(*) OVER win AS n,
               CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER win
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(CAST(close_price AS DECIMAL(18,2))
                             * CAST(close_price AS DECIMAL(18,2))
                        AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sxx
        FROM b
        WINDOW win AS (PARTITION BY ativo
                       ORDER BY dt, l_orderkey, l_linenumber, close_price
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      , zed AS (
        SELECT ativo, l_orderkey, l_linenumber,
               ROUND(CASE WHEN n = 7
                           AND (CAST(7.0 AS DOUBLE) * sxx - sx * sx)
                               / (CAST(7.0 AS DOUBLE) * CAST(6.0 AS DOUBLE)) > 0
                          THEN (close_price - sx / CAST(7.0 AS DOUBLE))
                               / sqrt((CAST(7.0 AS DOUBLE) * sxx - sx * sx)
                                      / (CAST(7.0 AS DOUBLE)
                                         * CAST(6.0 AS DOUBLE)))
                     END, 10) AS z
        FROM w)
      SELECT ativo, l_orderkey, l_linenumber, z,
             CASE WHEN z IS NULL THEN NULL ELSE abs(z) > 2.0 END AS is_outlier
      FROM zed
      """,
    "w7_ewma" -> """
      -- MATERIALIZED is load-bearing: the recursive step joins `daily`
      -- once per iteration, and an inlined CTE re-runs its GROUP BY +
      -- window every time (measured 29.5 s -> 2.7 s at sf0.01,
      -- bit-identical output)
      WITH RECURSIVE daily AS MATERIALIZED (
        SELECT l_returnflag AS ativo, l_shipdate AS dt,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_shipdate) AS rn
        FROM lineitem GROUP BY 1, 2),
      r AS (
        SELECT ativo, dt, rn, x AS ewma FROM daily WHERE rn = 1
        UNION ALL
        -- the multipliers must be the JVM's DOUBLES (1.0 - 0.2 in IEEE
        -- arithmetic is one ulp BELOW the decimal-literal 0.8), so spell
        -- the same operations, not the rounded constant
        SELECT d.ativo, d.dt, d.rn,
               CAST(0.2 AS DOUBLE) * d.x
                 + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * r.ewma
        FROM daily d JOIN r ON d.ativo = r.ativo AND d.rn = r.rn + 1)
      SELECT ativo, dt, ewma FROM r
      """,
    "x31_histogram" -> """
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) * 20) // 11000000
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
      """,
    "x30_sufficient_stats" -> """
      WITH p AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
        FROM lineitem),
      c AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sum_x,
               CAST(SUM(yc) AS BIGINT) AS sum_y_cents,
               CAST(SUM(x * x) AS BIGINT) AS sum_xx,
               CAST(SUM((yc * yc) // 1000000) AS BIGINT) AS sum_yy_hi,
               CAST(SUM((yc * yc) % 1000000) AS BIGINT) AS sum_yy_lo,
               CAST(SUM(x * yc) AS BIGINT) AS sum_xy_cents
        FROM p GROUP BY l_returnflag)
      SELECT *,
             ROUND(CASE
               WHEN (CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
                     - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) > 0
                AND (CAST(n AS DOUBLE)
                       * (CAST(sum_yy_hi AS DOUBLE) * 1000000.0
                          + CAST(sum_yy_lo AS DOUBLE))
                     - CAST(sum_y_cents AS DOUBLE)
                       * CAST(sum_y_cents AS DOUBLE)) > 0
               THEN (CAST(n AS DOUBLE) * CAST(sum_xy_cents AS DOUBLE)
                     - CAST(sum_x AS DOUBLE) * CAST(sum_y_cents AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
                            - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
                           * (CAST(n AS DOUBLE)
                                * (CAST(sum_yy_hi AS DOUBLE) * 1000000.0
                                   + CAST(sum_yy_lo AS DOUBLE))
                              - CAST(sum_y_cents AS DOUBLE)
                                * CAST(sum_y_cents AS DOUBLE)))
             END, 12) AS corr
      FROM c
      """,
    "x29_set_overlap" -> """
      WITH t AS (SELECT DISTINCT event_type FROM events),
      pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
                FROM t a JOIN t b ON a.event_type < b.event_type),
      ov AS (SELECT x.event_type AS ta, y.event_type AS tb,
                    COUNT(DISTINCT x.user_id) AS c
             FROM (SELECT DISTINCT event_type, user_id FROM events) x
             JOIN (SELECT DISTINCT event_type, user_id FROM events) y
               ON x.user_id = y.user_id AND x.event_type < y.event_type
             GROUP BY 1, 2)
      SELECT ta AS type_a, tb AS type_b,
             CAST(COALESCE(c, 0) AS BIGINT) AS n_both
      FROM pairs LEFT JOIN ov USING (ta, tb)
      """,
    "x27_edit_join" -> """
      WITH r AS (SELECT p_partkey AS part_id,
                        p_name || '-' || CAST(p_partkey AS VARCHAR) AS s
                 FROM part),
      p AS (SELECT part_id + 1000000 AS probe_id,
                   substr(s, 1, 2) || '~' || substr(s, 4) AS s
            FROM r WHERE part_id % 5 = 0)
      SELECT p.probe_id, r.part_id,
             CAST(levenshtein(p.s, r.s) AS BIGINT) AS dist
      FROM p, r
      WHERE levenshtein(p.s, r.s) <= 1
      """,
    "x25_ngram_score" -> s"""
      WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
      tri AS (SELECT doc_id, unnest(${shinglesSql("tk")}) AS tri FROM tk),
      lm AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt3 FROM tri GROUP BY tri),
      lmp AS (SELECT tri, cnt3,
                     SUM(cnt3) OVER (PARTITION BY
                       split_part(tri, ' ', 1) || ' ' || split_part(tri, ' ', 2))
                       AS cnt2
              FROM lm),
      sc AS (SELECT t.doc_id,
                    CAST(SUM(l.cnt3 * 1000000 // l.cnt2) AS BIGINT) AS score,
                    CAST(COUNT(*) AS BIGINT) AS n_tri
             FROM tri t JOIN lmp l USING (tri)
             GROUP BY t.doc_id)
      SELECT d.doc_id, COALESCE(sc.score, 0) AS score,
             COALESCE(sc.n_tri, 0) AS n_tri
      FROM documents d LEFT JOIN sc USING (doc_id)
      """,
    "x24_quality_report" -> """
      SELECT 'not_null_l_quantity' AS rule,
             CAST(COUNT(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT)
               AS violations FROM lineitem
      UNION ALL
      SELECT 'range_l_discount',
             CAST(COUNT(*) FILTER (WHERE l_discount IS NULL
               OR l_discount < 0.0 OR l_discount > 0.1) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'positive_price',
             CAST(COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'unique_line_key',
             CAST(COALESCE((SELECT SUM(c - 1) FROM (
               SELECT COUNT(*) AS c FROM lineitem
               GROUP BY l_orderkey, l_linenumber) WHERE c > 1), 0) AS BIGINT)
      UNION ALL
      SELECT 'order_exists',
             CAST((SELECT COUNT(*) FROM lineitem l
                   LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
                     ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_orderkey IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'ship_after_order',
             CAST((SELECT COUNT(*) FROM lineitem JOIN orders
                     ON l_orderkey = o_orderkey
                   WHERE l_shipdate < o_orderdate) AS BIGINT)
      """,
    "a8_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      """
  )
}
