package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.{Scan, Tables}

/** Round-13 query entries. §2.12 extension operators. */
object SparkEntryR13 {

  private def barsGen2Sql: String =
    graft.MarketPanel.barsGenSql(graft.MarketPanel.tickers2)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X135: DISTINCT-count window attach — the aggregate Spark's
    // window surface cannot express at all ----
    //
    // `count(DISTINCT x) OVER (PARTITION BY k)` is an ANALYSIS ERROR in
    // Spark (DISTINCT is not allowed in window functions), yet it is the
    // everyday "how many distinct sources does my language have, on
    // every row" enrichment. The scale-correct spelling is one
    // partial-aggregable two-phase distinct (`groupBy(k).agg(
    // countDistinct(x))` — a |k|-row frame) broadcast-joined back, so
    // the corpus is scanned once and never sorted. The DuckDB oracle
    // runs the REAL windowed-DISTINCT SQL — proving the attach equals
    // the window semantics an engine that supports them produces.
    "x135_distinct_window" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val per = docs.groupBy("lang")
        .agg(countDistinct(col("source")).as("lang_sources"))
      docs.join(broadcast(per), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("lang_sources"))
        .orderBy("doc_id")
    }),

    // ---- X136: deterministic per-group mode (most frequent value) ----
    //
    // The categorical summary built-ins disagree on: both engines HAVE
    // a `mode()` aggregate but neither pins tie-breaks, so the op is
    // spelled from primitives with an EXPLICIT total tie order — count
    // desc, then value asc — making it engine-exact: one (k, v)
    // partial-agg count shuffle into a bounded frame, then a
    // partial-aggregable `min_by` argmax per key. Never a per-group
    // sort, never a window over the corpus.
    "x136_group_mode" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(min_by(struct(col("event_type"), col("n")),
          struct(negate(col("n")), col("event_type"))).as("top"))
        .select(col("user_id"), col("top.event_type").as("mode_event"),
          col("top.n").as("mode_n"))
        .orderBy("user_id")
    }),

    // ---- X138: ingest schema-contract check (the write-time complement
    // of s12/s13's read-time evolution) ----
    //
    // Before a vintage is admitted, its parquet-footer schema diffs
    // against the contract: nullable additions are allowed (old files
    // read NULL — exactly s12/s13's law), removals and type changes are
    // violations. Pure driver metadata (footers only, zero data jobs).
    // Both directions over the s12 vintage trees: v1→v2 (the `volume`
    // addition admits) and v2→v1 (the removal refuses) — constructor
    // inversion, so the oracle is the constant verdict table.
    "x138_schema_contract" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val root = SparkEntryPipeline.s12VintageRoot(s, d)
      val v1 = s.read.parquet(s"$root/vintage1").schema
      val v2 = s.read.parquet(s"$root/vintage2").schema
      val fwd = graft.pipeline.SchemaContract.report(v1, v2)(s)
        .withColumn("direction", lit("v1_to_v2"))
      val back = graft.pipeline.SchemaContract.report(v2, v1)(s)
        .withColumn("direction", lit("v2_to_v1"))
      fwd.unionByName(back)
        .select("direction", "column", "dtype", "status", "allowed")
        .orderBy("direction", "column")
    }),

    // ---- X139: latest-order customer panel — the round-13 capstone
    // composition: three r13 operators in ONE lazy plan ----
    //
    // (1) latest order per customer written as the greatest-n-per-group
    // SELF-JOIN → ArgMaxJoinRule collapses it to a single orders scan;
    // (2) per-segment distinct-nation counts attached by the x135
    // broadcast spelling; (3) "revenue booked more than 30 days before
    // this latest order" — the G14 strict-history INWARD frame over the
    // panel. Money in integer cents; plan pinned: ONE orders scan, no
    // self-join, no Window node, broadcast attaches only.
    "x139_latest_order_panel" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("x139_orders")
      Tables.customer(s, d).createOrReplaceTempView("x139_customer")
      s.sql(
        """WITH latest AS (
          |  SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
          |         CAST(round(t.o_totalprice * 100) AS BIGINT)
          |           AS price_cents
          |  FROM x139_orders t
          |  JOIN (SELECT o_custkey, max(o_orderdate) AS m
          |        FROM x139_orders GROUP BY o_custkey) a
          |    ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.m)
          |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate, l.price_cents,
          |       c.c_mktsegment, seg.seg_nations,
          |       sum(l.price_cents) OVER (ORDER BY l.o_orderdate
          |         RANGE BETWEEN UNBOUNDED PRECEDING
          |           AND INTERVAL '30' DAY PRECEDING) AS booked_hist
          |FROM latest l
          |JOIN x139_customer c ON l.o_custkey = c.c_custkey
          |JOIN (SELECT c_mktsegment,
          |             count(DISTINCT c_nationkey) AS seg_nations
          |      FROM x139_customer GROUP BY c_mktsegment) seg
          |  ON c.c_mktsegment = seg.c_mktsegment
          |ORDER BY l.o_custkey, l.o_orderkey""".stripMargin)
    }),

    // ---- X137: distributed linear interpolation (pandas
    // `interpolate()` parity — w10's ffill completes to the full
    // pandas gap-repair pair) ----
    //
    // Missing calendar days (the x83 plant: days ≡ 5 mod 13 dropped)
    // are rebuilt by LINEAR interpolation between the surrounding known
    // closes, in EXACT integer cents: the increment is the
    // cross-multiplied floor division (n − pmod(n, dd)) div dd — spelled
    // identically in DuckDB — so negative price slopes round the same
    // way in both engines (a float lerp could never hash-match). Shape:
    // one per-asset lag window pairs each known point with its
    // predecessor, holes explode row-locally into their interior days —
    // work scales with MISSING days, never the series length; no
    // ignore-nulls lead, no grid-wide window.
    "x137_linear_interp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.{Window => W}
      import org.apache.spark.sql.functions._
      val known = graft.MarketPanel.centsPanel(s, graft.MarketPanel.tickers2)
        .select(col("ativo"), col("dt").cast("date").as("day"),
          col("cents").as("c_cents"))
        .where(pmod(datediff(col("day"),
          lit(graft.MarketPanel.StartDate).cast("date")), lit(13)) =!= 5)
      val w = W.partitionBy("ativo").orderBy("day")
      val seg = known
        .withColumn("prev_day", lag(col("day"), 1).over(w))
        .withColumn("prev_c", lag(col("c_cents"), 1).over(w))
      val interp = seg
        .where(col("prev_day").isNotNull &&
          datediff(col("day"), col("prev_day")) > 1)
        .select(col("ativo"), col("prev_day"), col("prev_c"),
          col("day").as("next_day"), col("c_cents").as("next_c"),
          explode(sequence(date_add(col("prev_day"), 1),
            date_add(col("day"), -1))).as("day"))
        .select(col("ativo"), col("day"),
          // ADVICE r13: guard the BIGINT product — Spark's non-ANSI
          // multiply wraps silently where DuckDB (HUGEINT) keeps
          // computing, so a magnitude check in DOUBLE raises loudly
          // before the engines could diverge; the fixture never trips it
          (col("prev_c") + expr(
            """CASE WHEN abs(CAST(next_c - prev_c AS DOUBLE)
              |             * CAST(datediff(day, prev_day) AS DOUBLE)) > 9.0e18
              |     THEN raise_error('x137: lerp product would overflow BIGINT')
              |     ELSE (((next_c - prev_c) * CAST(datediff(day, prev_day) AS BIGINT))
              | - pmod((next_c - prev_c) * CAST(datediff(day, prev_day) AS BIGINT),
              |        CAST(datediff(next_day, prev_day) AS BIGINT)))
              | div CAST(datediff(next_day, prev_day) AS BIGINT) END""".stripMargin))
            .as("c_cents"),
          lit("interp").as("src"))
      known.select(col("ativo"), col("day"), col("c_cents"),
          lit("known").as("src"))
        .unionByName(interp)
        .orderBy("ativo", "day")
    }),

    // ---- X131: HALF-unbounded value-distance frames — cumulative-with-
    // lookahead and remaining-mass through the plain SQL surface ----
    //
    // `UNBOUNDED PRECEDING AND Δ FOLLOWING` ("everything up to a little
    // past here" — calibration curves, cumulative coverage with slack)
    // and `Δ PRECEDING AND UNBOUNDED FOLLOWING` ("the mass from just
    // below here onward" — survival/remaining-budget views) are
    // user-writable SQL Spark plans as a one-task (resp. ndv-task)
    // sort-window (VERDICT r12 missing #3). `KeyedWindowRule`'s
    // two arms re-plan both through `RangeAggExec`: the
    // unbounded side rides PREFIX/SUFFIX SEEDS (per-partition segment
    // partials, driver-merged key-scoped along the partition chain — the
    // running exec's merge contract), the bounded side the usual staged
    // range harvest. The prefix form streams with Δ lag at any scale;
    // the suffix form's pending span is the key's row count, loudly
    // capped. Integer sums/counts → fold-order-independent, engine-
    // exact. The keyed ndv proof is the language IN filter;
    // `PlanAuditSpec` pins all four windows Window-free.
    // ---- X130: content-level VIDEO near-dup — the last metadata-deep
    // modality gets its signal path ----
    //
    // The x119/x126 discipline for footage: a pure-JVM uncompressed-DIB
    // RIFF/AVI codec (the planted-fixture discipline of the WAV/BMP
    // paths), per-frame rasters through ImageDedup's luma path, a 65-slot
    // brightness-envelope temporal difference hash (brightness shifts,
    // resolution upsamples and frame-rate resamples land at Hamming
    // distance 0), and the shared Hamming64 band join — recall exact to
    // distance 7 by pigeonhole, hot buckets capped, never all-pairs.
    // Constructor inversion: every planted near-dup is a re-master of
    // doc_id-1's clip (+6 brightness for even groups, 2x resolution +
    // 2x frame rate for odd), so the expected pair set is pure doc_id
    // arithmetic. At 100 TB decode+hash ride the scan row-locally; the
    // only exchange is the band-key equi-join.
    "x130_video_neardup" -> ((s, d) => {
      // Scan.Parallel (r16, measured −1.1 s isolated): the AVI encode +
      // decode + envelope-hash kernel — the heaviest media kernel in the
      // suite — otherwise rides the single-task documents scan; the heal
      // exchange ships only doc_ids (the media bytes are SYNTHESIZED from
      // doc_id above the exchange), so 32-way kernel parallelism costs a
      // near-empty shuffle. The image/audio twins (x119/x126) were A/B'd
      // the same way and LOSE (+0.1/+0.4 s — their kernels are too cheap
      // to beat the exchange); they stay stock.
      val media = graft.media.VideoDedup.plantedCorpus(
        Tables.documents(s, d, Scan.Parallel))
      graft.media.VideoDedup.nearDupPairs(media)
        .orderBy("a", "b")
    }),

    // ---- X132: greatest-n-per-group self-join, AUTOMATICALLY healed ----
    //
    // "Latest order per customer" written the way SQL users actually
    // write it — a self-join against `GROUP BY … max(…)` — which Spark
    // plans as TWO full scans of the fact table, an aggregate exchange
    // and a join exchange. `ArgMaxJoinRule` (ON by default) collapses it
    // to a single-scan windowed filter, and because the window it emits
    // is a plain UNBOUNDED-BOTH total, the keyed-window family can then
    // take it the rest of the way. The oracle runs the IDENTICAL join
    // SQL in DuckDB, so the row set proves the rewrite's join-for-filter
    // equivalence (ties at the max date kept, null keys dropped) — and
    // `PlanAuditSpec` pins the plan join-free with exactly one scan.
    "x132_argmax_join" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("x132_orders")
      s.sql(
        """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
          |       t.o_totalprice, a.last_date
          |FROM x132_orders t
          |JOIN (SELECT o_custkey, max(o_orderdate) AS last_date
          |      FROM x132_orders GROUP BY o_custkey) a
          |ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.last_date
          |ORDER BY t.o_custkey, t.o_orderkey""".stripMargin)
    }),

    // ---- X133: plan linter — the repo's plan-audit discipline as a
    // user-facing operator ----
    //
    // `PlanLint.lint(df)` walks the PRE-execution physical plan (AQE
    // initial plan) and reports the scale traps this library's own CI
    // pins: cartesian products, nested-loop joins, one-task windows,
    // unpushed scan filters, plus a shuffle census — zero jobs, tiny
    // driver-side metadata, deterministic exprId-free rows. The query
    // lints a DELIBERATELY bad pipeline (no-equi-key join + an
    // untranslatable scan predicate + an unpartitioned window with the
    // heal switched off, i.e. a stock-Spark user's plan); the oracle is
    // the CONSTANT findings table — constructor inversion: the traps
    // were planted, the linter must name exactly them.
    // (Stock scan, r16: the declared findings table describes the STOCK
    // plan of the planted-bad pipeline — the scan-parallelism heal's
    // extra exchange would change the shuffle census the lint reports.)
    // The heal is off on a child session only, so concurrent builds and
    // plans on `s` keep the rewrite.
    "x133_plan_lint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.{Window => W}
      import org.apache.spark.sql.functions._
      val stock =
        GraftSession.child(s, "spark.graft.globalRank.rewrite" -> "false")
      val bad = Tables.lineitem(stock, d)
        .filter(abs(col("l_quantity")) > 30)
        .crossJoin(Tables.region(stock, d))
        .withColumn("rn", row_number().over(W.orderBy("l_orderkey")))
      graft.tools.PlanLint.lint(bad)(stock)
    }),

    // ---- X134: INWARD half-unbounded value frames — the RANGE bound
    // lattice completed (SURVEY §7.4.11 lifted) ----
    //
    // `UNBOUNDED PRECEDING AND k PRECEDING` ("strict history": everything
    // except the trailing k-band — audit views that must exclude a
    // settlement window) and `k FOLLOWING AND UNBOUNDED FOLLOWING`
    // ("strict future": mass at least k ahead — lockup/cooldown views).
    // With x131's outward shapes and the whole-frame total, EVERY RANGE
    // bound combination now heals. The inward seeds are BAND-SPLIT:
    // pass-1 segment totals cut at the harvest boundary, rows leaving
    // the driver's context retention folded into the seed, band rows
    // travelling as ordinary context tuples admitted per run. The keyed
    // arms prove the key-scoped chaining; `PlanAuditSpec` pins all four
    // windows Window-free.
    "x134_range_lattice" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x134_documents")
      s.sql(
        """SELECT doc_id,
          |  sum(n_chars) OVER (ORDER BY n_chars
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 PRECEDING)
          |    AS hist100,
          |  count(*) OVER (ORDER BY n_chars
          |    RANGE BETWEEN 50 FOLLOWING AND UNBOUNDED FOLLOWING)
          |    AS fut50,
          |  sum(n_chars) OVER wk AS lang_hist,
          |  count(*) OVER wf AS lang_fut,
          |  sum(n_chars) OVER (ORDER BY n_chars, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 5 PRECEDING)
          |    AS rows_hist,
          |  count(*) OVER (ORDER BY n_chars, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 7 FOLLOWING)
          |    AS rows_look
          |FROM x134_documents
          |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
          |WINDOW wk AS (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 PRECEDING),
          |  wf AS (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN 50 FOLLOWING AND UNBOUNDED FOLLOWING)
          |ORDER BY doc_id""".stripMargin)
    }),

    "x131_half_unbounded" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x131_documents")
      s.sql(
        """SELECT doc_id,
          |  sum(n_chars) OVER (ORDER BY n_chars
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 FOLLOWING)
          |    AS cum_look100,
          |  count(*) OVER (ORDER BY n_chars
          |    RANGE BETWEEN 50 PRECEDING AND UNBOUNDED FOLLOWING)
          |    AS mass_from50,
          |  sum(n_chars) OVER wk AS lang_mass_ahead,
          |  count(*) OVER wp AS lang_cum_look
          |FROM x131_documents
          |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
          |WINDOW wk AS (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN 50 PRECEDING AND UNBOUNDED FOLLOWING),
          |  wp AS (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 FOLLOWING)
          |ORDER BY doc_id""".stripMargin)
    }))

  def oracleSql: Map[String, String] = Map(
    // the identical composition in DuckDB (which runs the self-join as
    // written and supports the inward frame natively); HUGEINT sums cast
    // back, empty inward frames NULL on both engines
    "x139_latest_order_panel" ->
      """WITH latest AS (
        |  SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
        |         CAST(round(t.o_totalprice * 100) AS BIGINT)
        |           AS price_cents
        |  FROM orders t
        |  JOIN (SELECT o_custkey, max(o_orderdate) AS m
        |        FROM orders GROUP BY o_custkey) a
        |    ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.m)
        |SELECT l.o_orderkey, l.o_custkey, l.o_orderdate, l.price_cents,
        |       c.c_mktsegment, seg.seg_nations,
        |       CAST(sum(l.price_cents) OVER (ORDER BY l.o_orderdate
        |         RANGE BETWEEN UNBOUNDED PRECEDING
        |           AND INTERVAL 30 DAY PRECEDING) AS BIGINT) AS booked_hist
        |FROM latest l
        |JOIN customer c ON l.o_custkey = c.c_custkey
        |JOIN (SELECT c_mktsegment,
        |             count(DISTINCT c_nationkey) AS seg_nations
        |      FROM customer GROUP BY c_mktsegment) seg
        |  ON c.c_mktsegment = seg.c_mktsegment
        |ORDER BY l.o_custkey, l.o_orderkey""".stripMargin,

    // constructor inversion: the s12 vintages differ by exactly the
    // nullable `volume` addition, so the verdict table is a constant
    "x138_schema_contract" ->
      """SELECT * FROM (VALUES
        |  ('v1_to_v2', 'ativo',  'string',    'ok',      true),
        |  ('v1_to_v2', 'close',  'double',    'ok',      true),
        |  ('v1_to_v2', 'date',   'timestamp_ntz', 'ok',  true),
        |  ('v1_to_v2', 'volume', 'bigint',    'added',   true),
        |  ('v2_to_v1', 'ativo',  'string',    'ok',      true),
        |  ('v2_to_v1', 'close',  'double',    'ok',      true),
        |  ('v2_to_v1', 'date',   'timestamp_ntz', 'ok',  true),
        |  ('v2_to_v1', 'volume', 'bigint',    'removed', false)
        |) AS t(direction, "column", dtype, status, allowed)
        |ORDER BY direction, "column"""".stripMargin,

    // identical integer-lerp replay: the cross-multiplied floor division
    // is spelled with an explicit positive mod in BOTH engines, so
    // negative slopes round identically; the gap plant is x83's
    "x137_linear_interp" ->
      s"""WITH bars AS (
         |$barsGen2Sql),
         |known AS (
         |  SELECT ativo, CAST(date AS DATE) AS day,
         |         CAST(round(Close * 100) AS BIGINT) AS c_cents
         |  FROM bars
         |  WHERE date_diff('day',
         |          DATE '${graft.MarketPanel.StartDate}',
         |          CAST(date AS DATE)) % 13 <> 5),
         |seg AS (
         |  SELECT ativo, day, c_cents,
         |         lag(day) OVER (PARTITION BY ativo ORDER BY day)
         |           AS prev_day,
         |         lag(c_cents) OVER (PARTITION BY ativo ORDER BY day)
         |           AS prev_c
         |  FROM known),
         |holes AS (
         |  SELECT ativo, prev_day, prev_c, day AS next_day,
         |         c_cents AS next_c,
         |         unnest(generate_series(1,
         |           date_diff('day', prev_day, day) - 1)) AS off
         |  FROM seg
         |  WHERE prev_day IS NOT NULL
         |    AND date_diff('day', prev_day, day) > 1),
         |interp AS (
         |  SELECT ativo, prev_day + CAST(off AS INTEGER) AS day,
         |         prev_c + (n - (((n % dd) + dd) % dd)) // dd AS c_cents,
         |         'interp' AS src
         |  FROM (SELECT ativo, prev_day, prev_c, off,
         |               (next_c - prev_c) * off AS n,
         |               CAST(date_diff('day', prev_day, next_day)
         |                 AS BIGINT) AS dd
         |        FROM holes))
         |SELECT ativo, day, c_cents, 'known' AS src FROM known
         |UNION ALL
         |SELECT ativo, day, c_cents, src FROM interp
         |ORDER BY ativo, day""".stripMargin,

    // DuckDB SUPPORTS windowed DISTINCT aggregates — the oracle runs the
    // real window form the Spark analyzer refuses, proving the
    // broadcast-attach spelling equals the window semantics
    "x135_distinct_window" ->
      """SELECT doc_id, lang,
        |  count(DISTINCT source) OVER (PARTITION BY lang) AS lang_sources
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identical explicit tie order (count desc, value asc) on both
    // engines — the built-in mode()s are NOT cross-engine deterministic
    "x136_group_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS mode_event, n AS mode_n
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the IDENTICAL join SQL — DuckDB executes the join as written while
    // the Spark side runs the rule's single-scan windowed rewrite
    "x132_argmax_join" ->
      """SELECT t.o_orderkey, t.o_custkey, t.o_orderdate,
        |       t.o_totalprice, a.last_date
        |FROM orders t
        |JOIN (SELECT o_custkey, max(o_orderdate) AS last_date
        |      FROM orders GROUP BY o_custkey) a
        |ON t.o_custkey = a.o_custkey AND t.o_orderdate = a.last_date
        |ORDER BY t.o_custkey, t.o_orderkey""".stripMargin,

    // constructor inversion (the x119/x126 contract): planted re-masters
    // land at Hamming distance 0, everything else stays out
    "x130_video_neardup" ->
      """SELECT CAST(doc_id - 1 AS BIGINT) AS a, doc_id AS b,
        |       CAST(0 AS INT) AS dist
        |FROM documents
        |WHERE doc_id % 10 = 1
        |  AND doc_id - 1 IN (SELECT doc_id FROM documents)
        |ORDER BY a, b""".stripMargin,

    // constructor inversion: the linted pipeline PLANTED exactly these
    // traps (a cross join, an unpartitioned window with the heal off, an
    // untranslatable abs() scan predicate, one shuffle), so the findings
    // table is a constant the linter must reproduce verbatim
    "x133_plan_lint" ->
      """SELECT * FROM (VALUES
        |  ('nested-loop-join', 'warn', 'BroadcastNestedLoopJoin',
        |   'cross join with no equi-key; whole side broadcast + per-row loop'),
        |  ('shuffle-census', 'info', 'plan', '1 shuffle exchange(s)'),
        |  ('unpartitioned-window', 'error', 'Window',
        |   'no PARTITION BY: one task sorts and folds the entire input'),
        |  ('unpushed-scan-filter', 'warn', 'Scan',
        |   '1 of 2 scan filter(s) not pushed down: predicate runs post-materialization on every row read')
        |) AS t(rule, severity, node, detail)""".stripMargin,

    // DuckDB widens sum(INT) to HUGEINT → cast back; an empty inward
    // frame sums to NULL and counts 0 on both engines
    "x134_range_lattice" ->
      """SELECT doc_id,
        |  CAST(sum(n_chars) OVER (ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 PRECEDING)
        |    AS BIGINT) AS hist100,
        |  count(*) OVER (ORDER BY n_chars
        |    RANGE BETWEEN 50 FOLLOWING AND UNBOUNDED FOLLOWING)
        |    AS fut50,
        |  CAST(sum(n_chars) OVER wk AS BIGINT) AS lang_hist,
        |  count(*) OVER wf AS lang_fut,
        |  CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 5 PRECEDING)
        |    AS BIGINT) AS rows_hist,
        |  count(*) OVER (ORDER BY n_chars, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 7 FOLLOWING)
        |    AS rows_look
        |FROM documents
        |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        |WINDOW wk AS (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 PRECEDING),
        |  wf AS (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN 50 FOLLOWING AND UNBOUNDED FOLLOWING)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB widens sum(INT) to HUGEINT → cast back; counts are BIGINT
    // on both engines
    "x131_half_unbounded" ->
      """SELECT doc_id,
        |  CAST(sum(n_chars) OVER (ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 FOLLOWING)
        |    AS BIGINT) AS cum_look100,
        |  count(*) OVER (ORDER BY n_chars
        |    RANGE BETWEEN 50 PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS mass_from50,
        |  CAST(sum(n_chars) OVER wk AS BIGINT) AS lang_mass_ahead,
        |  count(*) OVER wp AS lang_cum_look
        |FROM documents
        |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        |WINDOW wk AS (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN 50 PRECEDING AND UNBOUNDED FOLLOWING),
        |  wp AS (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 100 FOLLOWING)
        |ORDER BY doc_id""".stripMargin)
}
