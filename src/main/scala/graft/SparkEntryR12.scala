package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.Tables

/** Round-12 query entries. §2.12 extension operators. */
object SparkEntryR12 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X124: trailing-by-event-time rolling windows — VALUE-DISTANCE
    // (RANGE) frames through the plain SQL surface ----
    //
    // The w9 trailing-2-day shape (`RANGE BETWEEN <Δt> PRECEDING AND
    // CURRENT ROW`) written GLOBALLY and per a LOW-NDV key — the two
    // spellings Spark plans as a one-task (resp. ndv-task) sort-window
    // (VERDICT r11 missing #1). `KeyedWindowRule`'s two arms now
    // re-plan both through `RangeAggExec`: a range exchange, a
    // per-partition boundary harvest capped by VALUE distance (the cap
    // refuses loudly if a dropped tuple could have served a later
    // partition — a value frame's row count is unknowable at plan time),
    // a driver stitch, and a per-peer-run sliding re-fold. RANGE peer
    // semantics (later rows at the SAME instant are IN the frame) ride
    // free: equal sort keys never straddle a range partition. Outputs
    // are integer sums/counts/extrema — fold-order-independent, so
    // engine-exact even under timestamp ties. The keyed arm's ndv proof
    // is the event-type IN filter (how a user scopes event classes
    // anyway); `PlanAuditSpec` pins both plans Window-free.
    "x124_trailing_time_window" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_us"))
        .createOrReplaceTempView("x124_events")
      s.sql(
        """SELECT event_id,
          |  sum(v_us)  OVER wg AS g_sum2d,
          |  count(*)   OVER wg AS g_n2d,
          |  min(v_us)  OVER wg AS g_min2d,
          |  max(v_us)  OVER wg AS g_max2d,
          |  sum(v_us)  OVER wk AS k_sum2d,
          |  count(*)   OVER wk AS k_n2d
          |FROM x124_events
          |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
          |WINDOW wg AS (ORDER BY us
          |    RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW),
          |  wk AS (PARTITION BY event_type ORDER BY us
          |    RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)
    }),

    // ---- X125: nth-in-frame and nth-non-null-back — the value-ring
    // window arm (VERDICT r11 next #6) ----
    //
    // `nth_value(x, n>1)` (respect- and ignore-nulls, running and bounded
    // frames) and ignore-nulls `lag(x, n>1)` now ride NthFirstRing /
    // NthLastRing: n value slots + a count, folded by the family's
    // running exec (ring merge across partition partials) or re-folded
    // per bounded frame. Every arm here previously planned a one-task
    // (global) or ndv-task (keyed) sort-window; `PlanAuditSpec` pins all
    // of them Window-free. v_us is null every 3rd event so the
    // ignore-nulls rings stay part-empty across long stretches.
    "x125_nth_ignlag" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(3)) === 0, lit(null))
            .otherwise(expr("CAST(floor(value * 1000000) AS BIGINT)"))
            .as("v_us"))
        .createOrReplaceTempView("x125_events")
      s.sql(
        """SELECT event_id,
          |  nth_value(v_us, 3) OVER wg AS g_n3,
          |  nth_value(v_us, 2) IGNORE NULLS OVER wg AS g_n2in,
          |  nth_value(v_us, 2) OVER wb AS g_bn2,
          |  lag(v_us, 2, CAST(-1 AS BIGINT)) IGNORE NULLS
          |    OVER (ORDER BY event_id) AS g_l2,
          |  nth_value(v_us, 3) OVER wk AS k_n3,
          |  lag(v_us, 2, CAST(-1 AS BIGINT)) IGNORE NULLS
          |    OVER (PARTITION BY event_type ORDER BY event_id) AS k_l2
          |FROM x125_events
          |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
          |WINDOW wg AS (ORDER BY event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |  wb AS (ORDER BY event_id
          |    ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING),
          |  wk AS (PARTITION BY event_type ORDER BY event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)
    }),

    // ---- X126: audio signal-level near-dup — the audio analogue of
    // x119's image dHash (VERDICT r11 missing #4) ----
    //
    // Every document gets a distinct synthetic recording (REAL PCM WAV
    // bytes — pure-JVM codec); docs with doc_id % 10 == 1 instead carry
    // a near-dup of doc_id-1's recording — an 8-bit re-encode or a
    // half-gain stereo re-master. Decode → 65-window loudness-envelope
    // difference hash (gain-invariant) → the shared 8×8-bit Hamming-band
    // bucket join (recall exact to distance 7 by pigeonhole; hot buckets
    // capped) → exact Hamming verify. The pair set is pure doc_id
    // arithmetic, so the oracle is plain SQL — constructor inversion:
    // only real sample decode + a gain-invariant hash can produce it.
    "x126_audio_neardup" -> ((s, d) => {
      val media = graft.media.AudioDedup.plantedCorpus(Tables.documents(s, d))
      graft.media.AudioDedup.nearDupPairs(media)
        .orderBy("a", "b")
    }),

    // ---- X127: two-sided value-distance frames — centered-by-time
    // smoothing, strictly-preceding baselines, lookahead budgets ----
    //
    // The r12 generalization of x124: `a PRECEDING AND b FOLLOWING`
    // (the rolling(center=True)-by-TIME port), `a PRECEDING AND c
    // PRECEDING` (exclude-self baselines) and `CURRENT ROW AND b
    // FOLLOWING` (lookahead), global plus keyed strictly-preceding AND
    // keyed centered arms. All plan through RangeAggExec: the staging
    // gate keeps FOLLOWING bounds from over-ingesting, pending runs
    // finalize when the stream passes v + up (partition tails against
    // the stitched forward context — key-scoped for the keyed arms:
    // contexts chain only through single-key partitions of the same
    // key), and the two-stack fold keeps every arm O(1) amortized per
    // row.
    "x127_value_frames" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_us"))
        .createOrReplaceTempView("x127_events")
      s.sql(
        """SELECT event_id,
          |  sum(v_us)  OVER wc AS c_sum1d,
          |  count(*)   OVER wc AS c_n1d,
          |  min(v_us)  OVER wp AS p_min,
          |  max(v_us)  OVER wf AS f_max,
          |  sum(v_us)  OVER wk AS k_prev_sum,
          |  sum(v_us)  OVER wk2 AS k_ctr_sum
          |FROM x127_events
          |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
          |WINDOW wc AS (ORDER BY us RANGE BETWEEN 86400000000 PRECEDING
          |    AND 86400000000 FOLLOWING),
          |  wp AS (ORDER BY us RANGE BETWEEN 259200000000 PRECEDING
          |    AND 86400000000 PRECEDING),
          |  wf AS (ORDER BY us RANGE BETWEEN CURRENT ROW
          |    AND 172800000000 FOLLOWING),
          |  wk AS (PARTITION BY event_type ORDER BY us
          |    RANGE BETWEEN 172800000000 PRECEDING AND 86400000000 PRECEDING),
          |  wk2 AS (PARTITION BY event_type ORDER BY us
          |    RANGE BETWEEN 86400000000 PRECEDING AND 86400000000 FOLLOWING)
          |ORDER BY event_id""".stripMargin)
    }),

    // ---- X128: incremental media near-dup against a persisted hash
    // index — the media analogue of x37's text lifecycle ----
    //
    // The corpus's images decode + dHash ONCE into a persisted
    // (media_id, h) parquet index (8 bytes per item); an ingest batch —
    // re-encoded/brightness-shifted near-dups of corpus photos mixed
    // with genuinely new ones — decodes ONLY itself and probes the index
    // through the shared Hamming band join + exact verify. O(batch)
    // nightly gate at any corpus size; the corpus binaries are never
    // re-read. Constructor inversion makes the expected flag set pure
    // doc_id arithmetic, and the oracle has no LSH anywhere: a green row
    // proves index recall AND the exact verify.
    "x128_incremental_media_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.media.{ImageDedup, MediaHashIndex}
      import s.implicits._
      val media = ImageDedup.plantedCorpus(Tables.documents(s, d))
      val corpus = media.filter(col("media_id") % 10 =!= 1)
      val fresh = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 2).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id + 500000L,
            ImageDedup.encodePng(32, 32,
              ImageDedup.syntheticRgb(id + 500000L, 32, 32, 0)))
        })
        .toDF("media_id", "media")
      val batch = media.filter(col("media_id") % 10 === 1).unionByName(fresh)
      val idx = MediaHashIndex.ensureIndex(s,
        ImageDedup.hashed(corpus),
        Seq(d, Tables.stamp(s, d, "documents"), "x128_img_mod10"))
      MediaHashIndex.probeNearDups(ImageDedup.hashed(batch), idx)
        .select(col("id").as("media_id")).orderBy("media_id")
    }),

    // ---- X129: trailing-calendar-month reporting windows ----
    //
    // The monthly-report shape: aggregate a corpus-scale event stream to
    // a per-(type, day) daily series (one partial-agg shuffle — the only
    // corpus-scale move), then attach trailing-one-calendar-MONTH totals
    // per row. Month frames are variable-length, so `RangeAggExec`
    // evaluates the frame edge per peer run with Spark's OWN
    // `DateAddYMInterval` arithmetic (clamping and all — bit-identical
    // to `WindowExec`), while the pass-1 harvests use a conservative
    // 31-days-per-month reach. Both the global and the keyed (IN-pinned
    // event_type) arms plan Window-free.
    "x129_monthly_trailing" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(sum(floor(value * 1000000)) AS BIGINT)").as("v_us"))
        .createOrReplaceTempView("x129_daily")
      s.sql(
        """SELECT event_type, day,
          |  sum(n_events) OVER wg AS g_month_events,
          |  sum(v_us)     OVER wg AS g_month_v,
          |  sum(n_events) OVER wk AS k_month_events,
          |  count(*)      OVER wk AS k_month_days
          |FROM x129_daily
          |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
          |WINDOW wg AS (ORDER BY day
          |    RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW),
          |  wk AS (PARTITION BY event_type ORDER BY day
          |    RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW)
          |ORDER BY event_type, day""".stripMargin)
    }))

  def oracleSql: Map[String, String] = Map(
    // DuckDB widens sum(BIGINT) to HUGEINT and count to HUGEINT-ish —
    // cast both back to BIGINT to hash-match Spark's LongType
    "x124_trailing_time_window" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(floor(value * 1000000) AS BIGINT) AS v_us
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(sum(v_us) OVER wg AS BIGINT) AS g_sum2d,
        |  CAST(count(*)  OVER wg AS BIGINT) AS g_n2d,
        |  min(v_us) OVER wg AS g_min2d,
        |  max(v_us) OVER wg AS g_max2d,
        |  CAST(sum(v_us) OVER wk AS BIGINT) AS k_sum2d,
        |  CAST(count(*)  OVER wk AS BIGINT) AS k_n2d
        |FROM e
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |WINDOW wg AS (ORDER BY us
        |    RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW),
        |  wk AS (PARTITION BY event_type ORDER BY us
        |    RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // DuckDB spells ignore-nulls INSIDE the argument list
    // (`lag(x, n, d IGNORE NULLS)`), Spark after the call — same
    // semantics, syntax differs per dialect
    "x125_nth_ignlag" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 3 = 0 THEN NULL
        |              ELSE CAST(floor(value * 1000000) AS BIGINT) END AS v_us
        |  FROM events
        |)
        |SELECT event_id,
        |  nth_value(v_us, 3) OVER wg AS g_n3,
        |  nth_value(v_us, 2 IGNORE NULLS) OVER wg AS g_n2in,
        |  nth_value(v_us, 2) OVER wb AS g_bn2,
        |  lag(v_us, 2, CAST(-1 AS BIGINT) IGNORE NULLS)
        |    OVER (ORDER BY event_id) AS g_l2,
        |  nth_value(v_us, 3) OVER wk AS k_n3,
        |  lag(v_us, 2, CAST(-1 AS BIGINT) IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY event_id) AS k_l2
        |FROM e
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |WINDOW wg AS (ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wb AS (ORDER BY event_id
        |    ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING),
        |  wk AS (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the planted near-dup pairs are doc_id arithmetic (see the entry);
    // dist 0 because the planted gain/bit-depth re-encodes scale every
    // envelope window EXACTLY (amplitudes are multiples of 512)
    "x126_audio_neardup" ->
      """SELECT CAST(doc_id - 1 AS BIGINT) AS a, doc_id AS b,
        |       CAST(0 AS INT) AS dist
        |FROM documents
        |WHERE doc_id % 10 = 1
        |  AND doc_id - 1 IN (SELECT doc_id FROM documents)
        |ORDER BY a, b""".stripMargin,

    "x127_value_frames" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(floor(value * 1000000) AS BIGINT) AS v_us
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(sum(v_us) OVER wc AS BIGINT) AS c_sum1d,
        |  CAST(count(*)  OVER wc AS BIGINT) AS c_n1d,
        |  min(v_us) OVER wp AS p_min,
        |  max(v_us) OVER wf AS f_max,
        |  CAST(sum(v_us) OVER wk AS BIGINT) AS k_prev_sum,
        |  CAST(sum(v_us) OVER wk2 AS BIGINT) AS k_ctr_sum
        |FROM e
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |WINDOW wc AS (ORDER BY us RANGE BETWEEN 86400000000 PRECEDING
        |    AND 86400000000 FOLLOWING),
        |  wp AS (ORDER BY us RANGE BETWEEN 259200000000 PRECEDING
        |    AND 86400000000 PRECEDING),
        |  wf AS (ORDER BY us RANGE BETWEEN CURRENT ROW
        |    AND 172800000000 FOLLOWING),
        |  wk AS (PARTITION BY event_type ORDER BY us
        |    RANGE BETWEEN 172800000000 PRECEDING AND 86400000000 PRECEDING),
        |  wk2 AS (PARTITION BY event_type ORDER BY us
        |    RANGE BETWEEN 86400000000 PRECEDING AND 86400000000 FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    // only the planted near-dups of indexed photos flag; the batch's
    // fresh photos (distinct content) must pass — doc_id arithmetic
    "x128_incremental_media_dedup" ->
      """SELECT doc_id AS media_id FROM documents
        |WHERE doc_id % 10 = 1
        |  AND doc_id - 1 IN (SELECT doc_id FROM documents)
        |ORDER BY media_id""".stripMargin,

    "x129_monthly_trailing" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(floor(value * 1000000)) AS BIGINT) AS v_us
        |  FROM events
        |  GROUP BY 1, 2
        |)
        |SELECT event_type, day,
        |  CAST(sum(n_events) OVER wg AS BIGINT) AS g_month_events,
        |  CAST(sum(v_us)     OVER wg AS BIGINT) AS g_month_v,
        |  CAST(sum(n_events) OVER wk AS BIGINT) AS k_month_events,
        |  CAST(count(*)      OVER wk AS BIGINT) AS k_month_days
        |FROM daily
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |WINDOW wg AS (ORDER BY day
        |    RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW),
        |  wk AS (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin)
}
