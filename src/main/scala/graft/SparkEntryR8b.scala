package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.stats.Drift
import graft.tables.Tables

/** Round-8 (continued) query entries: pipeline-health diagnostics — the
  * monitoring surface a production training-data pipeline runs on every
  * ingested batch: distribution drift, join-key skew, volume anomalies.
  * The reference has no counterpart (its ETL re-reads blindly,
  * `etl_job.py`); these are §2.12 extension operators.
  */
object SparkEntryR8b {

  /** Deterministic re-crawl plant for the cross-source duplication ops:
    * the raw fixture has zero cross-source exact duplicates, so two
    * synthetic re-crawl sources copy deterministic doc slices
    * (`recrawl_a` ⊃ `recrawl_b`) — every source then shares texts with
    * both re-crawls, and the re-crawls share texts with each other. The
    * SAME plant feeds the oracle (the docsWithChain discipline).
    */
  private def plantedRecrawl(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    docs
      .unionByName(docs.where(pmod(col("doc_id"), lit(5L)) === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("recrawl_a").as("source"), col("text")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(10L)) === 2)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          lit("recrawl_b").as("source"), col("text")))
  }

  private val plantedRecrawlSql =
    """SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'recrawl_a', text FROM documents
      |  WHERE doc_id % 5 = 2
      |  UNION ALL
      |  SELECT doc_id + 4000000, 'recrawl_b', text FROM documents
      |  WHERE doc_id % 10 = 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X68: cross-source duplication matrix ----
    //
    // The dataset-card stat x46's per-source dup rate cannot see: WHICH
    // source pairs share content (a re-crawl, a mirror, a licensing
    // overlap). Shape: fingerprint once (row-local rolling hash), one
    // distinct on (fp, source), one self-equi-join on fp — pair fan-out
    // is bounded by sources-per-fingerprint, and the result frame by
    // sources², never by corpus rows.
    "x68_source_overlap" -> ((s, d) => {
      import graft.text.TextOps
      val fpSrc = plantedRecrawl(s, d)
        .select(TextOps.rollingHash(col("text")).as("fp"), col("source"))
        .distinct()
      fpSrc.as("a").join(fpSrc.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared"))
        .orderBy("src_a", "src_b")
    }),

    // ---- X69: duplicate-cluster size profile ----
    //
    // The dedup report's shape statistic: how big are the exact-dup
    // clusters (how much of the corpus is 2x, 3x, Nx replicated)? One
    // partial-agg fingerprint count, one count-of-counts — the x31
    // histogram shape applied to cluster sizes.
    "x69_dup_cluster_profile" -> ((s, d) => {
      import graft.text.TextOps
      plantedRecrawl(s, d)
        .groupBy(TextOps.rollingHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),

    // ---- X60: two-sample KS drift (events.value by event_type) ----
    //
    // "Does each event type's value distribution match the baseline
    // type's?" — per-mill binned Kolmogorov–Smirnov, all-integer (see
    // graft.stats.Drift for the scale + exactness rationale). One
    // corpus-scale partial-agg shuffle; every later stage is bin-bounded.
    "x60_ks_drift" -> ((s, d) => {
      Drift.ksDrift(Tables.events(s, d), "event_type",
          expr("CAST(floor(value * 10) AS BIGINT)"), "view")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }),

    // ---- X61: total-variation drift (documents.n_chars by lang) ----
    //
    // The per-source / per-language length-profile check run when a new
    // crawl slice lands: per-mill binned total-variation distance of each
    // language's doc-length histogram against the English baseline.
    "x61_tv_drift" -> ((s, d) => {
      Drift.tvDrift(Tables.documents(s, d), "lang",
          expr("n_chars div 50"), "en")
        .withColumnRenamed("grp", "lang")
        .orderBy("lang")
    }),

    // ---- X62: join-key skew report ----
    //
    // The pre-join diagnostic that decides whether a key needs salting
    // (graft.joins.SkewJoin) before a corpus-scale join: per-key counts
    // (one partial-agg shuffle), top-5 heaviest keys via distributed
    // TakeOrderedAndProject (never a global window over the key table),
    // per-mill skew vs the uniform expectation and the salt factor that
    // would level the heaviest key. All integer arithmetic.
    "x62_skew_report" -> ((s, d) => {
      val perKey = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      val summary = perKey.agg(sum("cnt").as("total_rows"),
        count(lit(1)).as("distinct_keys"))
      // top-k first (distributed), THEN rank the 5 survivors row-locally.
      val top = perKey.orderBy(desc("cnt"), asc("o_custkey")).limit(5)
      top
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("cnt"), asc("o_custkey"))))
        .crossJoin(broadcast(summary))
        .select(col("rank"), col("o_custkey"), col("cnt"),
          col("total_rows"), col("distinct_keys"),
          expr("cnt * 1000 div (total_rows div distinct_keys)")
            .as("skew_permill"),
          expr("""greatest(CAST(1 AS BIGINT),
                 (cnt + (total_rows div distinct_keys) - 1)
                   div (total_rows div distinct_keys))""").as("rec_salt"))
    }),

    // ---- X64: drift gate against a PERSISTED baseline ----
    //
    // The ingest-gate form of x61: the validated corpus's length
    // histogram is built ONCE into a durable `drift_baseline` artifact
    // (same first-writer-wins lifecycle as the membership/LSH/IVF
    // indexes), and each arriving source slice compares against that
    // artifact — at 100 TB the gate reads the batch plus a KB-sized
    // histogram, never the corpus. Verdict: quarantine a slice whose
    // per-mill TV distance from the baseline exceeds 250.
    "x64_drift_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bin = expr("n_chars div 50")
      val baseline = Drift.ensureBaseline(s, docs, bin,
        Seq(d, Tables.stamp(s, d, "documents"), "n_chars_div50"))
      Drift.tvVsBaseline(docs, "source", bin, baseline)
        .withColumnRenamed("grp", "source")
        .select(col("source"), col("n_a"), col("n_b"), col("tv_permill"),
          when(col("tv_permill") <= 250, lit("keep"))
            .otherwise(lit("quarantine")).as("verdict"))
        .orderBy("source")
    }),

    // ---- X64b: incremental baseline absorption (absorb == rebuild) ----
    //
    // The maintenance step x64's gate needs when a validated batch is
    // ADMITTED: fold the batch's histogram into the persisted baseline
    // as a new artifact version — O(batch) + O(bins), the corpus behind
    // the old baseline is never rescanned. Histogram addition is exact,
    // so the oracle checks absorb == full-corpus rebuild bit-for-bit
    // (the x59 append==rebuild discipline for the drift gate).
    "x64b_baseline_absorb" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bin = expr("n_chars div 50")
      val stamp = Tables.stamp(s, d, "documents")
      val even = docs.where(pmod(col("doc_id"), lit(2L)) === 0)
      val odd = docs.where(pmod(col("doc_id"), lit(2L)) === 1)
      Drift.ensureBaseline(s, even, bin, Seq(d, stamp, "absorb_even"))
      Drift.absorbBaseline(s, odd, bin,
          Seq(d, stamp, "absorb_even"), Seq(d, stamp, "absorb_full"))
        .orderBy("bin")
    }),

    // ---- X73: VWAP (volume-weighted average price) ----
    //
    // The market-analytics aggregate the reference's per-asset mean
    // never had: monthly VWAP per asset, in the integer-cents discipline
    // (price·100 is exact by fixture construction; the weighted mean is
    // one integer floor-division). One partial-aggregable shuffle on
    // (asset, month).
    "x73_vwap" -> ((s, d) => {
      MarketPanel.barsPanel(s, MarketPanel.tickers2)
        .select(col("ativo"),
          date_trunc("month", col("dt")).cast("date").as("month"),
          col("cents"), col("vol"))
        .groupBy("ativo", "month")
        .agg(count(lit(1)).as("n_days"), sum("vol").as("tot_vol"),
          expr("sum(cents * vol) div sum(vol)").as("vwap_cents"))
        .orderBy("ativo", "month")
    }),

    // ---- X74: OHLC calendar resampling (daily → weekly candles) ----
    //
    // The bar-coarsening op every market pipeline needs: weekly candles
    // from daily bars — open = first by date (min_by), close = last
    // (max_by), high/low = extrema, volume summed; all prices emitted as
    // exact integer cents. min_by/max_by are single-pass partial-
    // aggregable argmin/argmax — never a per-group sort or window.
    "x74_ohlc_resample" -> ((s, d) => {
      MarketPanel.fullBarsPanel(s, MarketPanel.tickers2)
        .select(col("ativo"),
          date_trunc("week", col("dt")).cast("date").as("week"),
          col("dt"),
          col("o_cents").as("o"), col("h_cents").as("h"),
          col("l_cents").as("l"), col("c_cents").as("c"), col("vol"))
        .groupBy("ativo", "week")
        .agg(min_by(col("o"), col("dt")).as("open_cents"),
          max(col("h")).as("high_cents"),
          min(col("l")).as("low_cents"),
          max_by(col("c"), col("dt")).as("close_cents"),
          sum(col("vol")).as("tot_vol"),
          count(lit(1)).as("n_days"))
        .orderBy("ativo", "week")
    }),

    // ---- X75: maximum drawdown ----
    //
    // The risk statistic on every market dashboard: worst peak-to-trough
    // loss per asset, as per-mill of the running peak — integer cents in,
    // integer per-mill out (running max is order-exact; the division is
    // one floor-div per day). Per-asset ordered window: one exchange on
    // the asset key, the same shape as the W-family.
    "x75_max_drawdown" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bars = MarketPanel.centsPanel(s, MarketPanel.tickers2)
      val w = Window.partitionBy("ativo").orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bars.withColumn("runmax", max(col("cents")).over(w))
        .select(col("ativo"),
          expr("(runmax - cents) * 1000 div runmax").as("dd"))
        .groupBy("ativo")
        .agg(max("dd").as("max_drawdown_permill"),
          count(lit(1)).as("n_days"))
        .orderBy("ativo")
    }),

    // ---- X76: daily-return sufficient statistics ----
    //
    // Volatility inputs without float aggregation-order hazards (the x30
    // discipline): daily simple returns in integer basis points
    // (`(c - lag) * 10000 div lag`), then the mergeable integer moments
    // (n, Σ, Σ², min, max) any variance/Sharpe consumer derives from.
    "x76_return_stats" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bars = MarketPanel.centsPanel(s, MarketPanel.tickers2)
      val w = Window.partitionBy("ativo").orderBy("dt")
      bars.withColumn("lagc", lag(col("cents"), 1).over(w))
        .where(col("lagc").isNotNull)
        .select(col("ativo"),
          expr("(cents - lagc) * 10000 div lagc").as("ret_bp"))
        .groupBy("ativo")
        .agg(count(lit(1)).as("n"), sum("ret_bp").as("sum_bp"),
          sum(expr("ret_bp * ret_bp")).as("sum_sq_bp"),
          min("ret_bp").as("min_bp"), max("ret_bp").as("max_bp"))
        .orderBy("ativo")
    }),

    // ---- X77: pairwise return-correlation components ----
    //
    // The risk-matrix input: for each asset pair, the exact mergeable
    // integer sufficient statistics of their date-aligned daily returns
    // (n, Σa, Σb, Σab, Σa², Σb²) — the x30 correlation-components
    // discipline applied across assets. The date-aligned join is an
    // equi-join on the date key; every aggregate is partial-aggregable;
    // a float corr() could never hash across engines, the components
    // always do (consumers finish with one row-local division).
    "x77_pair_correlation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bars = MarketPanel.centsPanel(s, MarketPanel.tickers2)
      val w = Window.partitionBy("ativo").orderBy("dt")
      val rets = bars.withColumn("lagc", lag(col("cents"), 1).over(w))
        .where(col("lagc").isNotNull)
        .select(col("ativo"), col("dt"),
          expr("(cents - lagc) * 10000 div lagc").as("r"))
      rets.as("a").join(rets.as("b"),
          col("a.dt") === col("b.dt") && col("a.ativo") < col("b.ativo"))
        .groupBy(col("a.ativo").as("asset_a"), col("b.ativo").as("asset_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("a.r")).as("sum_a"), sum(col("b.r")).as("sum_b"),
          sum(col("a.r") * col("b.r")).as("sum_ab"),
          sum(col("a.r") * col("a.r")).as("sum_aa"),
          sum(col("b.r") * col("b.r")).as("sum_bb"))
        .orderBy("asset_a", "asset_b")
    }),

    // ---- X72: corpus-release pipeline (round-8 composition flagship) ----
    //
    // The per-release report a curation pipeline publishes, composing the
    // round-8 pieces as ONE lazy plan (the x17/x43 composition
    // discipline): drift gate against the persisted baseline (x64) →
    // exact dedup by fingerprint min-id (x1) → deterministic admission
    // sampling (the x53 salted draw) → per-source funnel counts. Every
    // stage is a partial-aggregable shuffle or a row-local filter; the
    // gate verdicts and baseline are KB-sized broadcasts.
    // OPTIMIZATION r16 (guide §1.2/§2.4): the original funnel spelled
    // each count as its own branch — n_raw, n_dedup and n_released each
    // re-derived `gated`/`deduped` from the scan, and the dedup itself
    // was a fingerprint groupBy + semi-join back (two shuffles), so the
    // one lazy plan exploded to 55 scans / 50 exchanges / 34 joins.
    // Same report, one corpus pass: the min-id survivor is a WINDOW
    // KEEPER over the fingerprint (a doc survives iff it is gated and
    // its id is the min gated id of its fingerprint group — identical
    // to the semi-join under doc_id uniqueness: a group's min id
    // belongs to no other group), and all three funnel stages become
    // conditional sums in ONE groupBy. Plan: 55 scans → 8 (the
    // persisted |sources|-row verdicts frame computes its own subtree
    // once), one fp shuffle instead of groupBy+semi-join, no funnel
    // joins. Oracle SQL unchanged; n_raw keeps every doc because the
    // verdicts attach is per-source and total (every source has a
    // verdict row by construction); left-join + na.fill(0) semantics
    // are reproduced by the conditional sums' 0-defaults.
    "x72_release_pipeline" -> ((s, d) => {
      import graft.text.TextOps
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val bin = expr("n_chars div 50")
      val baseline = Drift.ensureBaseline(s, docs, bin,
        Seq(d, Tables.stamp(s, d, "documents"), "n_chars_div50"))
      val verdicts = Drift.tvVsBaseline(docs, "source", bin, baseline)
        .select(col("grp").as("source"), col("tv_permill"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val enriched = docs.join(broadcast(verdicts), "source")
        .withColumn("__gated", col("tv_permill") <= 250)
      val wFp = Window.partitionBy(TextOps.rollingHash(col("text")))
      val flagged = enriched.withColumn("__keep",
        col("__gated") &&
          col("doc_id") === min(when(col("__gated"), col("doc_id"))).over(wFp))
      flagged.groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("__keep") &&
              TextOps.saltedDraw(col("doc_id").cast("string"), "x72", 1000L) < 800,
            1L).otherwise(0L)).as("n_released"))
        .join(broadcast(verdicts), "source")
        .select(col("source"), col("n_raw"), col("n_dedup"),
          col("n_released"), col("tv_permill"))
        .orderBy("source")
    }),

    // ---- X66: k-anonymity / l-diversity audit ----
    //
    // The privacy-risk sibling of the PII redaction (x5_redact_pii):
    // group sizes over the quasi-identifier pair (nation, market
    // segment) and the sensitive-value diversity inside each group —
    // groups smaller than k=5 or with a single sensitive value are
    // re-identification risks. One partial-aggregable groupBy (count
    // distinct is Spark's two-phase partial_count_distinct); the QI
    // group frame is dimension-bounded, never row-bounded.
    "x66_k_anonymity" -> ((s, d) => {
      Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
            .as("distinct_sensitive"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("distinct_sensitive"),
          when(col("n") < 5 || col("distinct_sensitive") < 2, 1)
            .otherwise(0).as("is_risky"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- X60b: KS drift, sketch form (the 100 TB twin) ----
    //
    // x60's exact form keeps a per-(group, bin) histogram; the twin
    // replaces it with one mergeable KLL sketch per group (O(k·log n)
    // map-side-merged blobs — the x46b/x48b/x12b discipline) and takes
    // the KS distance between sketch CDFs (Datasketches
    // KolmogorovSmirnov). KLL compaction randomizes → rows-only by
    // design; R8bOpsSpec pins agreement with the exact x60 within the
    // sketch's rank-error tolerance.
    "x60b_ks_drift_sketch" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      import graft.expressions.{KllKsDelta, KllSketchAgg}
      val sks = Tables.events(s, d)
        .groupBy("event_type")
        .agg(ColumnBridge.column(
            KllSketchAgg(ColumnBridge.expression(col("value")), 200)
              .toAggregateExpression()).as("__sk"),
          count(lit(1)).as("n"))
      val base = sks.where(col("event_type") === "view")
        .select(col("__sk").as("__bsk"), col("n").as("n_b"))
      sks.where(col("event_type") =!= "view")
        .crossJoin(broadcast(base))
        .select(col("event_type"), col("n").as("n_a"), col("n_b"),
          floor(lit(1000.0) * ColumnBridge.column(KllKsDelta(
            ColumnBridge.expression(col("__sk")),
            ColumnBridge.expression(col("__bsk")))))
            .cast("long").as("ks_permill_est"))
        .orderBy("event_type")
    }),

    // ---- X70: embedding-space drift (centroid cosine vs global) ----
    //
    // The vector-side drift alarm x60/x61/x64 can't see: has a label's
    // (or source's / batch's) embedding centroid moved away from the
    // corpus centroid? Engine-exact via two tricks: (1) per-dim values
    // quantized to integer per-mill, summed as BIGINT (associative — no
    // float-order nondeterminism); (2) cosine is scale-invariant, so
    // cos(mean_a, mean_g) = cos(sum_a, sum_g) and NO division by counts
    // ever happens — the only float math is the final sqrt/divide on
    // identical small integers, identical in both engines. Integer dot
    // products bound: |s| <= rows·1000, so products stay in BIGINT up to
    // ~3e6 rows per dim-sum pair; past that, drop quantization to
    // floor(v·100) or mean-first (the x60 overflow discipline).
    // Shape: one posexplode partial-agg shuffle into a (labels × dims)
    // frame; everything after is dimension-bounded.
    "x70_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val perLabel = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("q"))
        .groupBy("label", "pos").agg(sum("q").as("s"))
      val glob = perLabel.groupBy("pos").agg(sum("s").as("g"))
      val gg = glob.agg(sum(expr("g * g")).as("ngg"))
      val cnts = emb.groupBy("label").agg(count(lit(1)).as("n"))
      perLabel.join(broadcast(glob), "pos")
        .groupBy("label")
        .agg(sum(expr("s * g")).as("dot"), sum(expr("s * s")).as("naa"))
        .join(broadcast(cnts), "label")
        .crossJoin(broadcast(gg))
        .select(col("label"), col("n"),
          expr("""CAST(CASE WHEN naa = 0 OR ngg = 0 THEN 0
                 ELSE floor(1000.0 * CAST(dot AS DOUBLE) /
                      (sqrt(CAST(naa AS DOUBLE)) * sqrt(CAST(ngg AS DOUBLE))))
                 END AS BIGINT)""").as("cos_permill"))
        .orderBy("label")
    }),

    // ---- X67: unigram-style subword segmentation (Viterbi DP) ----
    //
    // The SentencePiece-family sibling of the x52 BPE trainer: a piece
    // vocabulary with data-derived integer costs is fit from the word
    // FREQUENCY table (bounded model state, persisted artifact), and
    // each DISTINCT word is segmented by a compiled row-local Viterbi
    // DP with the vocabulary riding the plan as a codegen reference —
    // vocabulary-keyed compute, corpus never rescanned (see
    // graft.ml.Unigram for the integer-cost / tie-free packing). The
    // DuckDB oracle replays the fit AND unrolls the DP as Bellman-Ford
    // rounds — an oracle-checked train+serve loop like x52/x36b.
    "x67_unigram_segment" -> ((s, d) => {
      import graft.ml.{Bpe, Unigram}
      val words = Unigram.boundedWords(
        Bpe.wordCounts(Tables.documents(s, d), "text"))
      val ps = Unigram.ensurePieces(s, words,
        Seq(d, Tables.stamp(s, d, "documents")))
      words
        .select(col("word"), col("cnt"),
          Unigram.combCostCol(col("word"), ps).as("comb"))
        .where(col("comb") >= 0)
        .select(col("word"), col("cnt"),
          expr("comb div 128").as("cost"),
          expr("CAST(comb % 128 AS BIGINT)").as("n_pieces"))
        .orderBy("word")
    }),

    // ---- X63: ingest-volume anomaly detection (robust MAD) ----
    //
    // Daily event-volume anomaly flags via median absolute deviation —
    // the alarm that catches a dropped or doubled ingest partition.
    // Median/MAD are the LOWER medians picked by row_number at position
    // (n+1) div 2 with a total (value, day) order, so both engines select
    // the identical element; anomaly rule |cnt − med|·10 > 35·mad is the
    // integer form of robust-z > 3.5. Corpus-scale work is one partial-
    // agg day-count shuffle; the unpartitioned windows run on the
    // day-bounded frame only.
    "x63_volume_anomaly" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("cnt"))
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val med = daily
        .withColumn("rn", row_number().over(Window.orderBy("cnt", "day")))
        .crossJoin(broadcast(nDays))
        .where(col("rn") === expr("(n_days + 1) div 2"))
        .select(col("cnt").as("med"))
      val dv = daily.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("cnt") - col("med")))
      val mad = dv
        .withColumn("rn", row_number().over(Window.orderBy("dev", "day")))
        .crossJoin(broadcast(nDays))
        .where(col("rn") === expr("(n_days + 1) div 2"))
        .select(col("dev").as("mad"))
      dv.crossJoin(broadcast(mad))
        .select(col("day"), col("cnt"), col("med"), col("mad"),
          when(abs(col("cnt") - col("med")) * 10 > col("mad") * 35, 1)
            .otherwise(0).as("is_anomaly"))
        .orderBy("day")
    }))

  def oracleSql: Map[String, String] = Map(
    "x67_unigram_segment" -> graft.ml.Unigram.oracleSql,
    "x70_embedding_drift" ->
      """WITH e AS (SELECT label, embedding FROM embeddings),
        |ex AS (SELECT label, embedding,
        |              unnest(generate_series(1, len(embedding))) AS pos
        |       FROM e),
        |q AS (SELECT label, pos,
        |             CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000)
        |                  AS BIGINT) AS q
        |      FROM ex),
        |pl AS (SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s
        |       FROM q GROUP BY 1, 2),
        |g AS (SELECT pos, CAST(SUM(s) AS BIGINT) AS g FROM pl GROUP BY 1),
        |gg AS (SELECT CAST(SUM(g * g) AS BIGINT) AS ngg FROM g),
        |d AS (SELECT label, CAST(SUM(s * g) AS BIGINT) AS dot,
        |             CAST(SUM(s * s) AS BIGINT) AS naa
        |      FROM pl JOIN g USING (pos) GROUP BY 1),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
        |SELECT d.label, n.n,
        |       CAST(CASE WHEN naa = 0 OR ngg = 0 THEN 0
        |            ELSE floor(1000.0 * CAST(dot AS DOUBLE) /
        |                 (sqrt(CAST(naa AS DOUBLE)) * sqrt(CAST(ngg AS DOUBLE))))
        |            END AS BIGINT) AS cos_permill
        |FROM d JOIN n USING (label) CROSS JOIN gg ORDER BY d.label""".stripMargin,
    "x68_source_overlap" ->
      s"""WITH pl AS ($plantedRecrawlSql),
         |f AS (SELECT DISTINCT
         |        ${graft.text.TextOps.rollingHashDuckSql("text")} AS fp,
         |        source
         |      FROM pl)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(count(*) AS BIGINT) AS shared
         |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x69_dup_cluster_profile" ->
      s"""WITH pl AS ($plantedRecrawlSql),
         |c AS (SELECT ${graft.text.TextOps.rollingHashDuckSql("text")} AS fp,
         |             CAST(count(*) AS BIGINT) AS sz
         |      FROM pl GROUP BY 1)
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "x60_ks_drift" ->
      s"""SELECT grp AS event_type, n_a, n_b, ks_permill FROM (
         |${Drift.ksDriftSql("events", "event_type",
                             "CAST(floor(value * 10) AS BIGINT)", "view")}
         |) ORDER BY event_type""".stripMargin,
    "x61_tv_drift" ->
      s"""SELECT grp AS lang, n_a, n_b, tv_permill FROM (
         |${Drift.tvDriftSql("documents", "lang", "n_chars // 50", "en")}
         |) ORDER BY lang""".stripMargin,
    "x64_drift_gate" ->
      """WITH c AS (
        |  SELECT source AS grp, n_chars // 50 AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt_a
        |  FROM documents GROUP BY 1, 2),
        |b AS (
        |  SELECT n_chars // 50 AS bin, CAST(count(*) AS BIGINT) AS cnt_b
        |  FROM documents GROUP BY 1),
        |bins AS (SELECT bin FROM c UNION SELECT bin FROM b),
        |grid AS (SELECT g.grp, bins.bin
        |         FROM (SELECT DISTINCT grp FROM c) g CROSS JOIN bins),
        |al AS (
        |  SELECT grid.grp, grid.bin,
        |         COALESCE(c.cnt_a, 0) AS cnt_a, COALESCE(b.cnt_b, 0) AS cnt_b
        |  FROM grid
        |  LEFT JOIN c ON c.grp = grid.grp AND c.bin = grid.bin
        |  LEFT JOIN b ON b.bin = grid.bin),
        |tot AS (SELECT grp, CAST(SUM(cnt_a) AS BIGINT) AS n_a,
        |               CAST(SUM(cnt_b) AS BIGINT) AS n_b
        |        FROM al GROUP BY grp),
        |tv AS (
        |  SELECT al.grp, tot.n_a, tot.n_b,
        |         CAST(SUM(abs(cnt_a * 1000 // n_a - cnt_b * 1000 // n_b)) // 2
        |              AS BIGINT) AS tv_permill
        |  FROM al JOIN tot ON al.grp = tot.grp
        |  GROUP BY al.grp, tot.n_a, tot.n_b)
        |SELECT grp AS source, n_a, n_b, tv_permill,
        |       CASE WHEN tv_permill <= 250 THEN 'keep'
        |            ELSE 'quarantine' END AS verdict
        |FROM tv ORDER BY source""".stripMargin,
    "x64b_baseline_absorb" ->
      """SELECT n_chars // 50 AS bin, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "x77_pair_correlation" ->
      s"""WITH bars AS (
         |${SparkEntryPipeline.barsGenSql("VALE3.SA")}
         |UNION ALL
         |${SparkEntryPipeline.barsGenSql("PETR4.SA")}),
         |c AS (SELECT ativo, date,
         |             CAST(round(close * 100) AS BIGINT) AS cents
         |      FROM bars),
         |r AS (SELECT ativo, date, cents,
         |             lag(cents) OVER (PARTITION BY ativo ORDER BY date)
         |               AS lagc
         |      FROM c),
         |rb AS (SELECT ativo, date,
         |              (cents - lagc) * 10000 // lagc AS r
         |       FROM r WHERE lagc IS NOT NULL)
         |SELECT a.ativo AS asset_a, b.ativo AS asset_b,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(a.r) AS BIGINT) AS sum_a,
         |       CAST(SUM(b.r) AS BIGINT) AS sum_b,
         |       CAST(SUM(a.r * b.r) AS BIGINT) AS sum_ab,
         |       CAST(SUM(a.r * a.r) AS BIGINT) AS sum_aa,
         |       CAST(SUM(b.r * b.r) AS BIGINT) AS sum_bb
         |FROM rb a JOIN rb b ON a.date = b.date AND a.ativo < b.ativo
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x75_max_drawdown" ->
      s"""WITH bars AS (
         |${SparkEntryPipeline.barsGenSql("VALE3.SA")}
         |UNION ALL
         |${SparkEntryPipeline.barsGenSql("PETR4.SA")}),
         |c AS (SELECT ativo, date,
         |             CAST(round(close * 100) AS BIGINT) AS cents
         |      FROM bars),
         |r AS (SELECT ativo,
         |             MAX(cents) OVER (PARTITION BY ativo ORDER BY date
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |               AS runmax,
         |             cents
         |      FROM c)
         |SELECT ativo,
         |       CAST(MAX((runmax - cents) * 1000 // runmax) AS BIGINT)
         |         AS max_drawdown_permill,
         |       CAST(count(*) AS BIGINT) AS n_days
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "x76_return_stats" ->
      s"""WITH bars AS (
         |${SparkEntryPipeline.barsGenSql("VALE3.SA")}
         |UNION ALL
         |${SparkEntryPipeline.barsGenSql("PETR4.SA")}),
         |c AS (SELECT ativo, date,
         |             CAST(round(close * 100) AS BIGINT) AS cents
         |      FROM bars),
         |r AS (SELECT ativo, cents,
         |             lag(cents) OVER (PARTITION BY ativo ORDER BY date)
         |               AS lagc
         |      FROM c),
         |rb AS (SELECT ativo, (cents - lagc) * 10000 // lagc AS ret_bp
         |       FROM r WHERE lagc IS NOT NULL)
         |SELECT ativo, CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(ret_bp) AS BIGINT) AS sum_bp,
         |       CAST(SUM(ret_bp * ret_bp) AS BIGINT) AS sum_sq_bp,
         |       CAST(MIN(ret_bp) AS BIGINT) AS min_bp,
         |       CAST(MAX(ret_bp) AS BIGINT) AS max_bp
         |FROM rb GROUP BY 1 ORDER BY 1""".stripMargin,
    "x73_vwap" ->
      s"""WITH bars AS (
         |${SparkEntryPipeline.barsGenSql("VALE3.SA")}
         |UNION ALL
         |${SparkEntryPipeline.barsGenSql("PETR4.SA")})
         |SELECT ativo, CAST(date_trunc('month', date) AS DATE) AS month,
         |       CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(SUM(volume) AS BIGINT) AS tot_vol,
         |       CAST(SUM(CAST(round(close * 100) AS BIGINT) * volume)
         |              // SUM(volume) AS BIGINT) AS vwap_cents
         |FROM bars GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x74_ohlc_resample" ->
      s"""WITH bars AS (
         |${SparkEntryPipeline.fullBarsGenSql("VALE3.SA")}
         |UNION ALL
         |${SparkEntryPipeline.fullBarsGenSql("PETR4.SA")})
         |SELECT ativo, CAST(date_trunc('week', date) AS DATE) AS week,
         |       arg_min(CAST(round(open * 100) AS BIGINT), date) AS open_cents,
         |       CAST(MAX(CAST(round(high * 100) AS BIGINT)) AS BIGINT) AS high_cents,
         |       CAST(MIN(CAST(round(low * 100) AS BIGINT)) AS BIGINT) AS low_cents,
         |       arg_max(CAST(round(close * 100) AS BIGINT), date) AS close_cents,
         |       CAST(SUM(volume) AS BIGINT) AS tot_vol,
         |       CAST(count(*) AS BIGINT) AS n_days
         |FROM bars GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x72_release_pipeline" -> {
      val fp = graft.text.TextOps.rollingHashDuckSql("text")
      val draw = graft.text.TextOps.saltedDrawSql(
        "'x72:' || CAST(doc_id AS VARCHAR)", 1000L)
      s"""WITH c AS (
         |  SELECT source AS grp, n_chars // 50 AS bin,
         |         CAST(count(*) AS BIGINT) AS cnt_a
         |  FROM documents GROUP BY 1, 2),
         |b AS (
         |  SELECT n_chars // 50 AS bin, CAST(count(*) AS BIGINT) AS cnt_b
         |  FROM documents GROUP BY 1),
         |bins AS (SELECT bin FROM c UNION SELECT bin FROM b),
         |grid AS (SELECT g.grp, bins.bin
         |         FROM (SELECT DISTINCT grp FROM c) g CROSS JOIN bins),
         |al AS (
         |  SELECT grid.grp, grid.bin,
         |         COALESCE(c.cnt_a, 0) AS cnt_a, COALESCE(b.cnt_b, 0) AS cnt_b
         |  FROM grid
         |  LEFT JOIN c ON c.grp = grid.grp AND c.bin = grid.bin
         |  LEFT JOIN b ON b.bin = grid.bin),
         |tot AS (SELECT grp, CAST(SUM(cnt_a) AS BIGINT) AS n_a,
         |               CAST(SUM(cnt_b) AS BIGINT) AS n_b
         |        FROM al GROUP BY grp),
         |tv AS (
         |  SELECT al.grp AS source, tot.n_a, tot.n_b,
         |         CAST(SUM(abs(cnt_a * 1000 // n_a - cnt_b * 1000 // n_b)) // 2
         |              AS BIGINT) AS tv_permill
         |  FROM al JOIN tot ON al.grp = tot.grp
         |  GROUP BY al.grp, tot.n_a, tot.n_b),
         |gated AS (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN tv ON tv.source = d.source
         |  WHERE tv.tv_permill <= 250),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM (SELECT doc_id, $fp AS fp FROM gated) GROUP BY fp),
         |dd AS (SELECT g.doc_id, g.source FROM gated g
         |       JOIN keep ON keep.doc_id = g.doc_id),
         |rel AS (SELECT doc_id, source FROM dd WHERE ($draw) < 800),
         |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
         |        FROM documents GROUP BY 1)
         |SELECT raw.source, raw.n_raw,
         |       CAST(COALESCE(ddn.n, 0) AS BIGINT) AS n_dedup,
         |       CAST(COALESCE(reln.n, 0) AS BIGINT) AS n_released,
         |       tv.tv_permill
         |FROM raw
         |LEFT JOIN (SELECT source, count(*) AS n FROM dd GROUP BY 1) ddn
         |  ON ddn.source = raw.source
         |LEFT JOIN (SELECT source, count(*) AS n FROM rel GROUP BY 1) reln
         |  ON reln.source = raw.source
         |JOIN tv ON tv.source = raw.source
         |ORDER BY raw.source""".stripMargin
    },
    "x66_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, n, distinct_sensitive,
        |       CAST(CASE WHEN n < 5 OR distinct_sensitive < 2
        |                 THEN 1 ELSE 0 END AS INT) AS is_risky
        |FROM (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT))
        |              AS BIGINT) AS distinct_sensitive
        |  FROM customer GROUP BY 1, 2)
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "x62_skew_report" ->
      """WITH pk AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |             CAST(count(*) AS BIGINT) AS distinct_keys FROM pk),
        |t AS (SELECT o_custkey, cnt,
        |             CAST(row_number() OVER (ORDER BY cnt DESC, o_custkey)
        |                  AS INT) AS rank
        |      FROM pk)
        |SELECT rank, o_custkey, cnt, total_rows, distinct_keys,
        |       cnt * 1000 // (total_rows // distinct_keys) AS skew_permill,
        |       GREATEST(CAST(1 AS BIGINT),
        |         (cnt + (total_rows // distinct_keys) - 1)
        |           // (total_rows // distinct_keys)) AS rec_salt
        |FROM t, s WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "x63_volume_anomaly" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
        |r AS (SELECT day, cnt,
        |             row_number() OVER (ORDER BY cnt, day) AS rn FROM daily),
        |m AS (SELECT cnt AS med FROM r, t WHERE rn = (n_days + 1) // 2),
        |dv AS (SELECT day, cnt, med, abs(cnt - med) AS dev FROM daily, m),
        |r2 AS (SELECT day, dev,
        |              row_number() OVER (ORDER BY dev, day) AS rn FROM dv),
        |md AS (SELECT dev AS mad FROM r2, t WHERE rn = (n_days + 1) // 2)
        |SELECT day, cnt, med, mad,
        |       CAST(CASE WHEN abs(cnt - med) * 10 > mad * 35
        |                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
        |FROM dv, md ORDER BY day""".stripMargin)
}
