package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.SyntheticBars
import graft.tables.Tables

/** Round-8 (continued, part d) query entries: temporal-integrity and
  * engagement analytics — calendar-gap detection, day-over-day activity
  * churn, Amihud illiquidity, and funnel stage-latency percentiles.
  * Time arithmetic stays integer (epoch micros / whole days / basis
  * points) end to end, the x73–x82 engine-exactness discipline.
  * §2.12 extension operators.
  */
object SparkEntryR8d {

  private def barsGen2Sql: String =
    MarketPanel.barsGenSql(MarketPanel.tickers2)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X83: trading-calendar gap audit (planted gaps) ----
    //
    // The continuity check every time-series ingest runs before a
    // rolling window is trusted: which assets have holes, how many days
    // are missing, how wide is the worst hole. The synthetic calendar is
    // gapless, so days ≡ 5 (mod 13) from the series start are
    // deterministically dropped — the plantedRecrawl discipline: the
    // SAME plant feeds the oracle and the audit exercises real gaps.
    // Shape: one per-asset ordered window (lag), partial-agg rollup.
    "x83_calendar_gaps" -> ((s, d) => {
      val bars = MarketPanel.centsPanel(s, MarketPanel.tickers2)
        .select(col("ativo"), col("dt").cast("date").as("day"))
        .where(pmod(datediff(col("day"),
          lit(MarketPanel.StartDate).cast("date")), lit(13)) =!= 5)
      val w = Window.partitionBy("ativo").orderBy("day")
      bars.withColumn("gap",
          datediff(col("day"), lag(col("day"), 1).over(w)) - 1)
        .where(col("gap").isNotNull)
        .groupBy("ativo")
        .agg(sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
          sum(col("gap").cast("long")).as("missing_days"),
          max(col("gap").cast("long")).as("max_gap_days"))
        .orderBy("ativo")
    }),

    // ---- X84: day-over-day activity churn matrix ----
    //
    // The engagement ledger behind every retention dashboard: for each
    // consecutive-day boundary, how many purchase-active users were
    // retained, churned, or newly active. Purchase events (≈0.4 per
    // user-day) make the transitions non-degenerate where all-events
    // activity would saturate. Shape: one distinct on (user, day) — a
    // partial-aggregable shuffle on the corpus — then a self full-outer
    // equi-join on (user, day+1): at 100 TB both sides are the SMALL
    // per-day active-set frame, not the event log.
    "x84_churn_matrix" -> ((s, d) => {
      val act = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val prev = act.select(col("user_id").as("u_p"),
        date_add(col("day"), 1).as("day_p"))
      val cur = act.select(col("user_id").as("u_c"), col("day").as("day_c"))
      prev.join(cur,
          col("u_p") === col("u_c") && col("day_p") === col("day_c"),
          "full_outer")
        .groupBy(coalesce(col("day_p"), col("day_c")).as("day"))
        .agg(
          sum(when(col("u_p").isNotNull && col("u_c").isNotNull, 1L)
            .otherwise(0L)).as("retained"),
          sum(when(col("u_p").isNotNull && col("u_c").isNull, 1L)
            .otherwise(0L)).as("churned"),
          sum(when(col("u_p").isNull && col("u_c").isNotNull, 1L)
            .otherwise(0L)).as("new_active"))
        .orderBy("day")
    }),

    // ---- X85: Amihud illiquidity components ----
    //
    // The price-impact-per-volume statistic of the Amihud (2002)
    // measure, as mergeable integer components: per asset, n and
    // Σ(|ret_bp|·10⁶ div volume) — the consumer's ILLIQ is one
    // row-local division. Same return panel as x76; one per-asset
    // window, one partial-agg shuffle.
    "x85_amihud_illiq" -> ((s, d) => {
      val w = Window.partitionBy("ativo").orderBy("dt")
      MarketPanel.barsPanel(s, MarketPanel.tickers2)
        .withColumn("lagc", lag(col("cents"), 1).over(w))
        .where(col("lagc").isNotNull)
        .select(col("ativo"), col("vol"),
          expr("abs((cents - lagc) * 10000 div lagc)").as("aret"))
        .groupBy("ativo")
        .agg(count(lit(1)).as("n"),
          sum(expr("aret * 1000000 div vol")).as("sum_impact"))
        .orderBy("ativo")
    }),

    // ---- X86: funnel stage-latency percentiles ----
    //
    // The "how long does conversion take" statistic x32's funnel counts
    // cannot give: per user, the delay from first `view` to the first
    // `purchase` after it, with EXACT p50/p90 in whole seconds via the
    // a3 rank-selection discipline (epoch-micros integers end to end;
    // an approximate percentile would never hash across engines). The
    // global rank over the converting-users frame comes from
    // GlobalRank's range-partition + per-partition-offset pass (VERDICT
    // r8 #1) — identical ranks to an unpartitioned row_number window,
    // with no single-task sort anywhere in the plan.
    // OPTIMIZATION r16, tried and REVERTED (kept as the measurement
    // record): (a) a window-based single-scan view attach measured 3×
    // slower (the per-user unordered window re-plans through the
    // keyed-window machinery's eager decision passes); (b) persisting
    // the converters frame for its three consumers measured ~1.8 s vs
    // 1.16 s stock — at this frame size the columnar cache build costs
    // more than the pipelined recomputes it saves. Original shape
    // stands.
    "x86_stage_latency" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"))
      val conv = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .join(perUser, "user_id")
        .where(col("event_type") === "purchase" && col("us") > col("v_us"))
        .groupBy("user_id")
        .agg(expr("(min(us) - min(v_us)) div 1000000").as("lat_s"))
      val n = conv.agg(count(lit(1)).as("n_conv"))
      val ranked = graft.stats.GlobalRank.withRowNumber(conv,
        Seq(col("lat_s"), col("user_id")), "rn")
      // global agg over the (possibly empty) ranked frame: exactly one
      // row comes out even with zero converters (NULL percentiles) —
      // the same shape the oracle's scalar subqueries produce
      val sel = ranked.crossJoin(broadcast(n)).agg(
        max(when(col("rn") === expr("(n_conv + 1) div 2"), col("lat_s")))
          .as("p50_latency_s"),
        max(when(col("rn") === expr("(9 * n_conv + 9) div 10"),
          col("lat_s"))).as("p90_latency_s"))
      n.crossJoin(broadcast(sel))
    }),

    // ---- X87: shard manifest (the x50 writer's verification artifact) --
    //
    // The manifest an exactly-once shard writer publishes beside its
    // files so any later reader can verify them without trusting the
    // writer: per x50 shard (SAME salt, SAME hash — the manifest must
    // describe exactly the shards x50 produces), doc count, whitespace
    // token mass, and an order-independent content checksum (bit-XOR of
    // the per-doc portable hash — XOR commutes and never overflows, so
    // the checksum is reproducible from any partitioning at any scale).
    // One partial-aggregable shuffle on the shard key; 32-row output.
    "x87_shard_manifest" -> ((s, d) =>
      graft.text.ShardManifest.manifest(
          Tables.documents(s, d).select(col("doc_id"), col("text")))
        .orderBy("shard")),

    // ---- X87b: incremental manifest absorption (absorb == rebuild) ----
    //
    // The maintenance step the manifest needs when a new batch is
    // admitted: fold the batch's per-shard deltas into the PERSISTED
    // manifest as a new artifact version — counts add, checksums XOR —
    // O(batch) + O(32 shards), the corpus behind the old manifest never
    // rescanned. XOR merge is exact, so the oracle checks absorb
    // against a full-corpus rebuild bit-for-bit (the x64b discipline;
    // same x43 corpus/batch split).
    "x87b_manifest_absorb" -> ((s, d) => {
      import graft.text.ShardManifest
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val stamp = Tables.stamp(s, d, "documents")
      ShardManifest.ensure(s, docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
        Seq(d, stamp, "x87b_base"))
      ShardManifest.absorb(s,
          docs.where(pmod(col("doc_id"), lit(5L)) === 0),
          Seq(d, stamp, "x87b_base"), Seq(d, stamp, "x87b_full"))
        .orderBy("shard")
    }))

  def oracleSql: Map[String, String] = Map(
    "x83_calendar_gaps" ->
      s"""WITH bars AS (
         |$barsGen2Sql),
         |cal AS (SELECT ativo, CAST(date AS DATE) AS day FROM bars
         |        WHERE date_diff('day', DATE '${MarketPanel.StartDate}',
         |                        CAST(date AS DATE)) % 13 <> 5),
         |g AS (SELECT ativo,
         |             date_diff('day',
         |               lag(day) OVER (PARTITION BY ativo ORDER BY day),
         |               day) - 1 AS gap
         |      FROM cal)
         |SELECT ativo,
         |       CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_gaps,
         |       CAST(SUM(gap) AS BIGINT) AS missing_days,
         |       CAST(MAX(gap) AS BIGINT) AS max_gap_days
         |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "x84_churn_matrix" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE event_type = 'purchase'),
        |prev AS (SELECT user_id, day + 1 AS day FROM act)
        |SELECT COALESCE(p.day, c.day) AS day,
        |       CAST(SUM(CASE WHEN p.user_id IS NOT NULL
        |                      AND c.user_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |       CAST(SUM(CASE WHEN p.user_id IS NOT NULL
        |                      AND c.user_id IS NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS churned,
        |       CAST(SUM(CASE WHEN p.user_id IS NULL
        |                      AND c.user_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS new_active
        |FROM prev p FULL OUTER JOIN act c
        |  ON p.user_id = c.user_id AND p.day = c.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x85_amihud_illiq" ->
      s"""WITH bars AS (
         |$barsGen2Sql),
         |c AS (SELECT ativo, date AS dt,
         |             CAST(round(close * 100) AS BIGINT) AS cents, volume
         |      FROM bars),
         |r AS (SELECT ativo, volume, cents,
         |             lag(cents) OVER (PARTITION BY ativo ORDER BY dt)
         |               AS lagc
         |      FROM c),
         |rb AS (SELECT ativo, volume,
         |              abs((cents - lagc) * 10000 // lagc) AS aret
         |       FROM r WHERE lagc IS NOT NULL)
         |SELECT ativo, CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(aret * 1000000 // volume) AS BIGINT) AS sum_impact
         |FROM rb GROUP BY 1 ORDER BY 1""".stripMargin,
    "x86_stage_latency" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events),
        |v AS (SELECT user_id,
        |             MIN(CASE WHEN event_type = 'view' THEN us END) AS v_us
        |      FROM e GROUP BY 1),
        |conv AS (SELECT e.user_id,
        |                CAST((MIN(e.us) - MIN(v.v_us)) // 1000000
        |                     AS BIGINT) AS lat_s
        |         FROM e JOIN v USING (user_id)
        |         WHERE e.event_type = 'purchase' AND e.us > v.v_us
        |         GROUP BY e.user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_conv FROM conv),
        |rk AS (SELECT lat_s, row_number() OVER (ORDER BY lat_s, user_id)
        |               AS rn
        |       FROM conv)
        |SELECT n.n_conv,
        |       (SELECT lat_s FROM rk CROSS JOIN n
        |        WHERE rn = (n_conv + 1) // 2) AS p50_latency_s,
        |       (SELECT lat_s FROM rk CROSS JOIN n
        |        WHERE rn = (9 * n_conv + 9) // 10) AS p90_latency_s
        |FROM n""".stripMargin,
    "x87_shard_manifest" -> {
      val shardHash = graft.text.TextOps.rollingHashDuckSql(
        "'shuf1:' || text || ':' || CAST(doc_id AS VARCHAR)")
      val fp = graft.text.TextOps.rollingHashDuckSql("text")
      s"""WITH t AS (SELECT ($shardHash) % 32 AS shard,
         |                  CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |                       ELSE CAST(length(string_split_regex(
         |                              trim(text), '\\s+')) AS BIGINT)
         |                  END AS toks,
         |                  ($fp) AS fp
         |           FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |       CAST(bit_xor(fp) AS BIGINT) AS checksum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // absorb == rebuild exactly, so the incremental result must match a
    // from-scratch full-corpus manifest (same SQL as x87).
    "x87b_manifest_absorb" -> {
      val shardHash = graft.text.TextOps.rollingHashDuckSql(
        "'shuf1:' || text || ':' || CAST(doc_id AS VARCHAR)")
      val fp = graft.text.TextOps.rollingHashDuckSql("text")
      s"""WITH t AS (SELECT ($shardHash) % 32 AS shard,
         |                  CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |                       ELSE CAST(length(string_split_regex(
         |                              trim(text), '\\s+')) AS BIGINT)
         |                  END AS toks,
         |                  ($fp) AS fp
         |           FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |       CAST(bit_xor(fp) AS BIGINT) AS checksum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
