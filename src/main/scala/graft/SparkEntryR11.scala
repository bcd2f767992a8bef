package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.Tables

/** Round-11 query entries. §2.12 extension operators. */
object SparkEntryR11 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X118: global rolling corpus profile — BOUNDED ROWS frames and
    // the ignore-nulls gap-fill lag, all plain SQL ----
    //
    // The reference's own W1 rolling-mean shape (etl/etl_job.py:126-130)
    // written GLOBALLY (no PARTITION BY) — the r10 verdict's #1 ask.
    // Spark plans every one of these as a single-partition WindowExec;
    // here the plan only survives 100 TB because `KeyedWindowRule`
    // rewrites the bounded frames into `KeyedBoundedAggExec` with no
    // keys (range exchange + k boundary tuples per partition + row-local
    // re-fold) and the ignore-nulls lag(1) into `KeyedRunningAggExec`'s
    // Last(ignoreNulls) exclusive prefix. One ORDER BY → all four
    // outputs share ONE range exchange. `PlanAuditSpec` pins the plan
    // Window-free with the execs present.
    "x118_rolling_corpus_profile" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x118_documents")
      s.sql(
        """SELECT doc_id,
          |  round(avg(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_avg7,
          |  sum(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS roll_sum30,
          |  max(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev6_max,
          |  lag(CASE WHEN lang = 'en' THEN n_chars END) IGNORE NULLS
          |    OVER (ORDER BY doc_id) AS last_en_chars
          |FROM x118_documents
          |ORDER BY doc_id""".stripMargin)
    }),

    // ---- X119: image perceptual-hash near-dup — the image analogue of
    // MinHash text dedup (VERDICT r10 #5) ----
    //
    // Every document gets a distinct synthetic 32×32 photo (REAL PNG/BMP
    // bytes — pure-JVM codecs); docs with doc_id % 10 == 1 instead carry
    // a near-dup of doc_id-1's photo, re-encoded in the OTHER format
    // with a +6 brightness shift. Decode → 9×8 dHash (monotone-invariant
    // difference hash) → 8×8-bit Hamming-band bucket join (recall exact
    // to distance 7 by pigeonhole; hot buckets capped) → exact Hamming
    // verify. The pair set is pure doc_id arithmetic, so the oracle is
    // plain SQL — constructor inversion, the x7_decode_real contract:
    // the stub path cannot produce these pairs, only real pixel decode
    // + a shift-invariant hash can. All-pairs is never planned.
    "x119_image_neardup" -> ((s, d) => {
      val media = graft.media.ImageDedup.plantedCorpus(Tables.documents(s, d))
      graft.media.ImageDedup.nearDupPairs(media)
        .orderBy("a", "b")
    }),

    // ---- X121: per-language corpus share — the keyed whole-frame total
    // through the plain SQL surface ----
    //
    // `sum(x) OVER (PARTITION BY lang)` is the mixing-weights query
    // ("how much of the corpus is each language?") attached per row.
    // Spark hash-exchanges and SORTS the corpus per key; the language
    // IN-filter (how a user scopes a language-filtered corpus anyway)
    // PROVES ndv ≤ 5 to `KeyedWindowRule`, which re-plans it as
    // `KeyedTotalAggExec`: per-partition key→partial maps, a driver
    // merge, a broadcast lookup — ZERO exchange, zero sort, at any
    // scale. `PlanAuditSpec` pins the exchange-free plan.
    "x121_lang_share" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x121_documents")
      s.sql(
        """SELECT doc_id, lang,
          |  round(CAST(n_chars AS DOUBLE) /
          |        sum(n_chars) OVER (PARTITION BY lang), 6) AS lang_share,
          |  count(*) OVER (PARTITION BY lang) AS lang_docs
          |FROM x121_documents
          |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
          |ORDER BY doc_id""".stripMargin)
    }),

    // ---- X122: centered smoothing and lookahead — TWO-SIDED bounded
    // frames through the plain SQL surface ----
    //
    // `a PRECEDING AND b FOLLOWING` is the centered rolling mean every
    // pandas `rolling(center=True)` port writes, and `CURRENT ROW AND k
    // FOLLOWING` the lookahead budget. Both are global one-task windows
    // in Spark; `KeyedBoundedAggExec`'s no-key forward context (pending
    // rows finalize when the row maxFwd ahead arrives, partition tails
    // drain against the stitched forward tuples) plans them Window-free.
    "x122_centered_smooth" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x122_documents")
      s.sql(
        """SELECT doc_id,
          |  round(avg(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS centered7,
          |  sum(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS next10,
          |  min(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS ahead_min
          |FROM x122_documents
          |ORDER BY doc_id""".stripMargin)
    }),

    // ---- X123: per-language length ranks — KEYED ranking through the
    // plain SQL surface ----
    //
    // "Where does this document sit in its language's length
    // distribution?" — rank/dense_rank/percent_rank/cume_dist per
    // language. Spark hash-clusters the corpus at ndv(lang) tasks; the
    // IN-filter ndv proof lets `KeyedWindowRule` re-plan through
    // `KeyedRankExec` (range exchange on (lang, order), per-key-run
    // counts + first-key offsets as metadata, per-key resets in the
    // streaming pass; key totals broadcast for the ratio kinds).
    // Top-k `rnk <= k` shapes stay with Spark's group-limit prune —
    // the same carve-out the global rule makes.
    "x123_lang_length_rank" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("x123_documents")
      s.sql(
        """SELECT doc_id, lang,
          |  row_number()   OVER wo AS rn,
          |  rank()         OVER wt AS rnk,
          |  dense_rank()   OVER wt AS drnk,
          |  ntile(4)       OVER wo AS quartile,
          |  round(percent_rank() OVER wt, 6) AS pr,
          |  round(cume_dist()    OVER wt, 6) AS cd
          |FROM x123_documents
          |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
          |WINDOW wo AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id),
          |       wt AS (PARTITION BY lang ORDER BY n_chars DESC)
          |ORDER BY doc_id""".stripMargin)
    }))

  def oracleSql: Map[String, String] = Map(
    // DuckDB's sum(BIGINT) widens to HUGEINT → cast back to BIGINT
    "x118_rolling_corpus_profile" ->
      """SELECT doc_id,
        |  round(avg(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_avg7,
        |  CAST(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum30,
        |  max(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS prev6_max,
        |  lag(CASE WHEN lang = 'en' THEN n_chars END IGNORE NULLS)
        |    OVER (ORDER BY doc_id) AS last_en_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the planted near-dup pairs are doc_id arithmetic (see the entry);
    // dist 0 because a monotone brightness shift preserves every dHash
    // comparison exactly
    "x119_image_neardup" ->
      """SELECT CAST(doc_id - 1 AS BIGINT) AS a, doc_id AS b,
        |       CAST(0 AS INT) AS dist
        |FROM documents
        |WHERE doc_id % 10 = 1
        |  AND doc_id - 1 IN (SELECT doc_id FROM documents)
        |ORDER BY a, b""".stripMargin,

    "x121_lang_share" ->
      """SELECT doc_id, lang,
        |  round(CAST(n_chars AS DOUBLE) /
        |        CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT), 6)
        |    AS lang_share,
        |  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS lang_docs
        |FROM documents
        |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        |ORDER BY doc_id""".stripMargin,

    "x122_centered_smooth" ->
      """SELECT doc_id,
        |  round(avg(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS centered7,
        |  CAST(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS BIGINT) AS next10,
        |  min(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS ahead_min
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // DuckDB rank kinds are INTEGER-identical; cast to match Spark's
    // IntegerType ranks
    "x123_lang_length_rank" ->
      """SELECT doc_id, lang,
        |  CAST(row_number()   OVER wo AS INT) AS rn,
        |  CAST(rank()         OVER wt AS INT) AS rnk,
        |  CAST(dense_rank()   OVER wt AS INT) AS drnk,
        |  CAST(ntile(4)       OVER wo AS INT) AS quartile,
        |  round(percent_rank() OVER wt, 6) AS pr,
        |  round(cume_dist()    OVER wt, 6) AS cd
        |FROM documents
        |WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        |WINDOW wo AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id),
        |       wt AS (PARTITION BY lang ORDER BY n_chars DESC)
        |ORDER BY doc_id""".stripMargin)
}
