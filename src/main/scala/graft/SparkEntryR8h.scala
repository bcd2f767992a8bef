package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.text.{ShardManifest, TextOps}

/** Round-8 (continued, part h): the round's capstone composition —
  * a calibrated corpus release as ONE lazy plan. §2.12 extension.
  */
object SparkEntryR8h {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X100: calibrated release (composition capstone) ----
    //
    // The full curation release the round's pieces exist for, composed
    // as ONE lazy plan (the x72 discipline): per-source quantile
    // normalization (x97 — so no source dominates just by its scorer's
    // scale) → global token-budget selection at 50% on the NORMALIZED
    // score (x51's level-frame discipline: the CDF and cutoff live on
    // a ≤1001-row level frame; the only per-doc ordered pass is inside
    // the single boundary level) → the released set's shard manifest
    // (x87 — what the release publishes for verification). Every stage
    // is a partial-agg shuffle, a broadcast of a bounded frame, or a
    // row-local filter; the corpus is never globally ordered.
    "x100_calibrated_release" -> ((s, d) => {
      import graft.text.QuantileNorm
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("source"), col("text"))
      val scored = docs.select(col("doc_id"), col("source"), col("text"),
        QuantileNorm.rawQuality(col("text")).as("q"),
        TextOps.tokenCount(col("text")).as("toks"))
      // x97: per-source quantile rank on the bounded level frame — the
      // SHARED QuantileNorm implementation (R8hOpsSpec pins x100==x97).
      // OPTIMIZATION r16: persisted — the level frame and both release
      // arms consume it, and unpersisted each consumer re-ran the scan,
      // the quality/token kernels and the mapping join (24 scans in the
      // r16-before plan; 6 after, with the budget arm also folded into
      // the level frame below). The nearDupPairs/x93 discipline; a
      // 100 TB pipeline stages the scored corpus to a table (guide §8
      // step 1) rather than recompute it per stage.
      val normed = scored.join(
          broadcast(QuantileNorm.mapping(scored, "source")), Seq("source", "q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // norm is a per-mill integer: ≤1001 distinct levels BY CONSTRUCTION.
      // The exact LIMIT is a no-op marker giving the plan a maxRows proof,
      // so the window rewrite's cost guard keeps this tiny frame on the
      // single-partition window (a range exchange would re-execute the
      // corpus aggregation in its sampling pass for zero scale benefit)
      val levels0 = normed.groupBy("norm").agg(sum("toks").as("s"))
        .limit(1001)
      // x51: token budget on the ≤1001-row NORM level frame — integer
      // division end to end (ADVICE r8: sum/2 as a double drifts from
      // the oracle's SUM(toks) // 2 above 2^53 token mass).
      // OPTIMIZATION r16: derived from the level frame (Σs == Σtoks
      // exactly — integer sums over a partition of the same rows; the
      // LIMIT is a no-op by the ≤1001-level construction) instead of a
      // THIRD full pass over the scored corpus — guide §1.2 "don't
      // compute things you throw away": the budget arm re-ran the scan
      // + quality/token kernels + the mapping broadcast join just to
      // re-sum what the level frame already holds.
      val budget = levels0.agg(expr("sum(s) div 2").as("b"))
      val levels = levels0
        .withColumn("cum_before", coalesce(sum("s").over(
          Window.orderBy(col("norm").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(budget))
        .select(col("norm"),
          (col("cum_before") + col("s") <= col("b")).as("full"),
          (col("cum_before") < col("b") &&
            col("cum_before") + col("s") > col("b")).as("boundary"),
          (col("b") - col("cum_before")).as("remaining"))
      val tagged = normed.join(broadcast(levels), "norm")
      val fullDocs = tagged.where(col("full"))
      // the one per-doc ordered pass: inside the single boundary level
      val wB = Window.partitionBy("norm").orderBy("doc_id")
      val boundaryDocs = tagged.where(col("boundary"))
        .withColumn("cum", sum("toks").over(wB))
        .where(col("cum") <= col("remaining"))
        .drop("cum")
      // x87: the release's verification manifest
      ShardManifest.manifest(
          fullDocs.unionByName(boundaryDocs).select("doc_id", "text"))
        .orderBy("shard")
    }),

    // ---- X101: overnight gap analysis ----
    //
    // The open-auction statistic the close-to-close return suite
    // (x76) cannot see: per asset, the distribution of overnight gaps —
    // today's Open vs yesterday's Close, in integer basis points —
    // summarized as mergeable counts (n, gap-ups, gap-downs, Σ|gap|,
    // max |gap|). Uses the full OHLC panel's Open column; one per-asset
    // lag window + partial-agg rollup.
    "x101_overnight_gaps" -> ((s, d) => {
      val bars = MarketPanel.fullBarsPanel(s, MarketPanel.tickers2)
        .select("ativo", "dt", "o_cents", "c_cents")
      val w = Window.partitionBy("ativo").orderBy("dt")
      bars.withColumn("prev_close", lag(col("c_cents"), 1).over(w))
        .where(col("prev_close").isNotNull)
        .select(col("ativo"),
          expr("(o_cents - prev_close) * 10000 div prev_close").as("gap"))
        .groupBy("ativo")
        .agg(count(lit(1)).as("n"),
          sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gap_up"),
          sum(when(col("gap") < 0, 1L).otherwise(0L)).as("n_gap_down"),
          sum(abs(col("gap"))).as("sum_abs_gap_bp"),
          max(abs(col("gap"))).as("max_abs_gap_bp"))
        .orderBy("ativo")
    }),

    // ---- X104: lexical diversity per source (type-token ratio) ----
    //
    // The corpus-linguistics quality signal the dataset card's raw
    // counts miss: a source whose token mass is huge but whose
    // VOCABULARY is tiny (template spam, boilerplate farms) shows a
    // collapsed type-token ratio. Exact integer per-mill —
    // 1000·distinct div total — via one explode into (source, token)
    // and Spark's two-phase distinct; both counts are
    // partial-aggregable and the output frame is \|sources\| rows.
    "x104_source_ttr" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("tok")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("n_types * 1000 div n_tokens").as("ttr_permill"))
        .orderBy("source")
    }),

    // ---- X103: piggy-backed audit metrics (Observation API) ----
    //
    // The audit stats every ingest job should publish — row count,
    // null rate, event-time range — collected DURING another pass via
    // Spark's `Dataset.observe`, not by a second scan: the metrics ride
    // the same physical plan as the consuming action (here a count of
    // qualifying rows, standing in for the real write), so at 100 TB
    // the audit is FREE. The observed values are then surfaced as a
    // 1-row DataFrame; the oracle recomputes the identical aggregates
    // the boring way, proving the piggy-backed pass loses nothing.
    "x103_observed_audit" -> ((s, d) => {
      import org.apache.spark.sql.Observation
      val obs = Observation()
      val ev = Tables.events(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
        expr("CAST(min(unix_micros(ts)) div 86400000000 AS BIGINT)")
          .as("min_day"),
        expr("CAST(max(unix_micros(ts)) div 86400000000 AS BIGINT)")
          .as("max_day"))
      // the consuming action the metrics piggy-back on. NOTE: this
      // entry runs its action at BUILD time by the nature of the
      // Observation API (obs.get blocks on the action), so explain-only
      // tooling sees a LocalTableScan of the finished metrics, not the
      // CollectMetrics node — the plan-shape evidence for observe()
      // lives in this query's oracle agreement, not in a plan dump.
      val nPurchases = ev.where(col("event_type") === "purchase").count()
      val m = obs.get
      // an empty fixture would surface as NULL min/max metrics and a
      // silent 0 after unboxing — fail loudly instead (the fixture
      // contract guarantees non-empty events)
      require(m("n_rows").asInstanceOf[Long] > 0L,
        "x103 requires a non-empty events table")
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_null_value").asInstanceOf[Long],
        m("n_null_props").asInstanceOf[Long],
        m("min_day").asInstanceOf[Long],
        m("max_day").asInstanceOf[Long],
        nPurchases))
        .toDF("n_rows", "n_null_value", "n_null_props", "min_day",
          "max_day", "n_purchases")
    }),

    // ---- X102: drawdown duration (gaps-and-islands) ----
    //
    // x75 gives the DEPTH of the worst drawdown; this gives its
    // LENGTH: the longest underwater spell per asset (consecutive days
    // below the running peak), via the rank-difference islands
    // technique — two per-asset ordered windows (running max + the two
    // row_numbers whose difference labels each island), then a
    // partial-agg island rollup. No iteration, no self-join.
    "x102_underwater_spells" -> ((s, d) => {
      val w = Window.partitionBy("ativo").orderBy("dt")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = MarketPanel.centsPanel(s, MarketPanel.tickers2)
        .withColumn("runmax", max(col("cents")).over(wRun))
        .withColumn("under", (col("cents") < col("runmax")).cast("int"))
        .withColumn("rn", row_number().over(w))
        .withColumn("rn_under", sum(col("under")).over(wRun))
      flagged.where(col("under") === 1)
        .groupBy(col("ativo"), (col("rn") - col("rn_under")).as("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy("ativo")
        .agg(count(lit(1)).as("n_spells"),
          max("len").as("max_spell_days"),
          sum("len").as("days_underwater"))
        .orderBy("ativo")
    }))

  def oracleSql: Map[String, String] = Map(
    "x100_calibrated_release" -> {
      val shardHash = TextOps.rollingHashDuckSql(
        "'shuf1:' || text || ':' || CAST(doc_id AS VARCHAR)")
      val fp = TextOps.rollingHashDuckSql("text")
      s"""WITH scored AS (
         |  SELECT doc_id, source, text,
         |         ${graft.text.QuantileNorm.rawQualitySql} AS q,
         |         CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |              ELSE CAST(len(string_split_regex(trim(text),
         |                     '\\s+')) AS BIGINT)
         |         END AS toks
         |  FROM documents),
         |${graft.text.QuantileNorm.mappingSql("source")},
         |normed AS (SELECT s.doc_id, s.text, s.toks,
         |                  cdf.below * 1000 // cdf.n_grp AS norm
         |           FROM scored s
         |           JOIN cdf ON cdf.source = s.source AND cdf.q = s.q),
         |bud AS (SELECT CAST(SUM(toks) // 2 AS BIGINT) AS b FROM normed),
         |nl AS (SELECT norm, CAST(SUM(toks) AS BIGINT) AS s FROM normed
         |       GROUP BY 1),
         |nlc AS (SELECT norm, s,
         |               COALESCE(SUM(s) OVER (ORDER BY norm DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                 0) AS cum_before
         |        FROM nl),
         |tag AS (SELECT nlc.norm,
         |               nlc.cum_before + nlc.s <= bud.b AS isfull,
         |               nlc.cum_before < bud.b
         |                 AND nlc.cum_before + nlc.s > bud.b AS boundary,
         |               bud.b - nlc.cum_before AS remaining
         |        FROM nlc CROSS JOIN bud),
         |kept AS (
         |  SELECT n.doc_id, n.text FROM normed n
         |  JOIN tag ON tag.norm = n.norm WHERE tag.isfull
         |  UNION ALL
         |  SELECT doc_id, text FROM (
         |    SELECT n.doc_id, n.text,
         |           SUM(n.toks) OVER (ORDER BY n.doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             AS cum,
         |           tag.remaining
         |    FROM normed n JOIN tag ON tag.norm = n.norm
         |    WHERE tag.boundary)
         |  WHERE cum <= remaining),
         |t AS (SELECT ($shardHash) % 32 AS shard,
         |             CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |                  ELSE CAST(len(string_split_regex(trim(text),
         |                         '\\s+')) AS BIGINT)
         |             END AS toks,
         |             ($fp) AS fp
         |      FROM kept)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |       CAST(bit_xor(fp) AS BIGINT) AS checksum
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x101_overnight_gaps" -> {
      val full = MarketPanel.tickers2
        .map(SparkEntryPipeline.fullBarsGenSql).mkString("\nUNION ALL\n")
      s"""WITH bars AS (
         |$full),
         |c AS (SELECT ativo, date AS dt,
         |             CAST(round(open * 100) AS BIGINT) AS o_cents,
         |             CAST(round(close * 100) AS BIGINT) AS c_cents
         |      FROM bars),
         |g AS (SELECT ativo,
         |             (o_cents - lag(c_cents) OVER (PARTITION BY ativo
         |               ORDER BY dt)) * 10000
         |               // lag(c_cents) OVER (PARTITION BY ativo
         |                    ORDER BY dt) AS gap
         |      FROM c)
         |SELECT ativo, CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_gap_up,
         |       CAST(SUM(CASE WHEN gap < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_gap_down,
         |       CAST(SUM(abs(gap)) AS BIGINT) AS sum_abs_gap_bp,
         |       CAST(MAX(abs(gap)) AS BIGINT) AS max_abs_gap_bp
         |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x104_source_ttr" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> '')
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
        |       CAST(count(DISTINCT tok) * 1000 // count(*) AS BIGINT)
        |         AS ttr_permill
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "x103_observed_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_value,
        |       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null_props,
        |       CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |            AS BIGINT) AS min_day,
        |       CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |            AS BIGINT) AS max_day,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_purchases
        |FROM events""".stripMargin,
    "x102_underwater_spells" -> {
      val bars2 = MarketPanel.barsGenSql(MarketPanel.tickers2)
      s"""WITH bars AS (
         |$bars2),
         |c AS (SELECT ativo, date AS dt,
         |             CAST(round(close * 100) AS BIGINT) AS cents
         |      FROM bars),
         |f AS (SELECT ativo, dt, cents,
         |             MAX(cents) OVER w_run AS runmax,
         |             row_number() OVER w_ord AS rn
         |      FROM c
         |      WINDOW w_run AS (PARTITION BY ativo ORDER BY dt
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             w_ord AS (PARTITION BY ativo ORDER BY dt)),
         |u AS (SELECT ativo, rn,
         |             CASE WHEN cents < runmax THEN 1 ELSE 0 END AS under,
         |             SUM(CASE WHEN cents < runmax THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY ativo ORDER BY rn
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |               AS rn_under
         |      FROM f),
         |isl AS (SELECT ativo, rn - rn_under AS island,
         |               CAST(count(*) AS BIGINT) AS len
         |        FROM u WHERE under = 1 GROUP BY 1, 2)
         |SELECT ativo, CAST(count(*) AS BIGINT) AS n_spells,
         |       CAST(MAX(len) AS BIGINT) AS max_spell_days,
         |       CAST(SUM(len) AS BIGINT) AS days_underwater
         |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
