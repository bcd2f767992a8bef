package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.{Scan, Tables}
import graft.text.TextOps

/** Round-9 query entries: the text-ingest hygiene suite the r8 verdict
  * named as the remaining pretraining-pipeline gaps — Unicode NFC
  * normalization ahead of content hashing (x105), within-document
  * substring dedup, the intra-doc half of ExactSubstr (x106), the
  * charset audit that tells an operator WHERE normalization matters
  * (x107), and the two strip halves composed as one release pass
  * (x108). All row-local except bounded-frame aggregations; plants are
  * deterministic and replayed identically by the DuckDB oracles.
  * §2.11 extension operators.
  */
object SparkEntryR9 {

  // DuckDB mirror of TextOps.tokens / 3-token segments (the x48 SQL)
  private val toksSql =
    """CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X105: NFC normalization closes encoding-split dup groups ----
    //
    // The fixture is ASCII (already NFC), so the hazard is PLANTED: for
    // every 7th doc, two variant copies append the same logical word in
    // two byte-different encodings — precomposed U+00E9 vs 'e' +
    // combining U+0301. Raw grouping counts them apart; NFC grouping
    // merges exactly the planted pairs. NOT two count_distincts in one
    // agg \u2014 two different DISTINCT columns plan an Expand that
    // replicates every corpus row \u00d73 through the shuffle with the full
    // text (the x12 anti-pattern this repo pins against). Instead: one
    // xxhash64-led groupBy on the NFC form (the x1 shuffle discipline;
    // every distinct raw text belongs to exactly ONE NFC group, so the
    // per-group distinct-raw counts SUM to the global one), then a
    // bounded rollup. Plan pinned Expand-free.
    "x105_nfc_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.where(pmod(col("doc_id"), lit(7L)) === 0)
      // plant ids are negative \u2014 -(2\u00b7id+1) / -(2\u00b7id+2) \u2014 disjoint from
      // the non-negative doc_id space AND from each other at any scale
      // factor (ADVICE r9: fixed positive offsets collide once the
      // fixture outgrows them)
      val v1 = planted.select((-(col("doc_id") * 2 + 1L)).as("doc_id"),
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val v2 = planted.select((-(col("doc_id") * 2 + 2L)).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      val perNfc = docs.unionByName(v1).unionByName(v2)
        .select(col("text"), TextOps.nfc(col("text")).as("__nfc"))
        .groupBy(xxhash64(col("__nfc")).as("__hn"), col("__nfc"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("text")).as("raw_groups"))
      perNfc.agg(sum("n").as("n_docs"),
        sum("raw_groups").as("n_raw_groups"),
        count(lit(1)).as("n_nfc_groups"))
    }),

    // ---- X106: within-document substring dedup (intra-doc ExactSubstr) --
    //
    // x48 strips spans repeated ACROSS documents; this strips spans one
    // document repeats internally — keep the FIRST occurrence of each
    // non-overlapping 3-token segment, stitch the rest back in order.
    // Every 11th doc is planted as its own double (text ‖ text), so the
    // dedup provably fires wherever the token count aligns the repeat to
    // the segment grid. Fully row-local: scan → project, zero shuffle
    // (PlanAuditSpec pins no hash exchange).
    "x106_intradoc_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      TextOps.dedupWithinDoc(docs, "doc_id", "text", segTokens = 3)
        .orderBy("doc_id")
    }),

    // ---- X107: charset-hygiene audit (the ingest report beside x105) --
    //
    // The dataset-card row a web-scale ingest publishes before anyone
    // trusts exact-match dedup: per source, how many docs carry
    // non-ASCII bytes at all, and how many are NOT NFC-normalized (the
    // rows x105's normalization actually changes). Non-ASCII is
    // byte-vs-char length — `octet_length != length` in both engines;
    // non-NFC is `nfc(text) != text`. Plants: every 13th doc gets an
    // NFD tail (non-NFC), every 13th+1 a precomposed tail (non-ASCII
    // but already NFC). One partial-agg shuffle to a |sources| frame.
    "x107_charset_audit" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        when(pmod(col("doc_id"), lit(13L)) === 0,
          concat(col("text"), lit(" cafe\u0301")))
          .when(pmod(col("doc_id"), lit(13L)) === 1,
            concat(col("text"), lit(" caf\u00e9")))
          .otherwise(col("text")).as("text"))
      planted.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(octet_length(col("text")) =!= length(col("text")), 1L)
            .otherwise(0L)).as("n_nonascii"),
          sum(when(TextOps.nfc(col("text")) =!= col("text"), 1L)
            .otherwise(0L)).as("n_nonnfc"))
        .orderBy("source")
    }),

    // ---- X108: full ExactSubstr release (both halves composed) ----
    //
    // The pass a real pretraining pipeline runs (Lee et al.): FIRST
    // strip spans a document repeats internally (x106), THEN strip
    // spans repeated across documents (x48's hot-set discipline,
    // minDocs=8) — composed as ONE lazy plan. The intra half is
    // row-local; the cross half reuses x48's DURABLE keyed hot set
    // (the segment-count shuffle over the intra-deduped corpus runs
    // once per fixture and persists — without the key it re-counted
    // the doubly-derived text per run: 6.3 s at sf0.1, vs ~0.6 keyed),
    // compiled into the row-local StripSegments kernel. Same
    // doubled-doc plant as x106 so the intra half provably fires.
    // Scan.Parallel (r16, measured −0.24 s): the segment-hash kernels
    // otherwise ride the single scan task.
    "x108_exactsubstr_release" -> ((s, d) => {
      val docs = Tables.documents(s, d, Scan.Parallel).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11L)) === 0,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      val intra = TextOps.dedupWithinDoc(docs, "doc_id", "text",
          segTokens = 3)
        .select(col("doc_id"), col("text_kept").as("text"))
      TextOps.stripBoilerplate(intra, "doc_id", "text",
          segTokens = 3, minDocs = 8,
          hotSetKey = Some(Seq(d, Tables.stamp(s, d, "documents"), "x108")))
        .orderBy("doc_id")
    }),

    // ---- X109: deep pagination (exact global rank range) ----
    //
    // "Page 6 of the leaderboard": rows ranked 101–120 under a total
    // order. The naive forms both die at 100 TB — a row_number window
    // is a one-task sort, and offset+limit materializes offset+limit
    // rows through the driver. GlobalRank.rowsInRankRange instead
    // range-partitions once, finds from the P-row count table WHICH
    // partitions hold ranks [101, 120], reads only those (early-
    // aborting past rank 120), and skips every other partition without
    // scanning it. Exact, deterministic (cents + order-key tiebreak),
    // ≤20 rows out.
    "x109_deep_page" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.stats.GlobalRank.rowsInRankRange(o,
          Seq(col("cents").desc, col("o_orderkey")), 101L, 120L, "rank")
        .select(col("rank"), col("o_orderkey"), col("o_custkey"),
          col("cents"))
        .orderBy("rank")
    }))

  def oracleSql: Map[String, String] = Map(
    "x105_nfc_dedup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |v1 AS (SELECT -(doc_id * 2 + 1) AS doc_id,
        |              text || ' caf' || chr(233) AS text
        |       FROM docs WHERE doc_id % 7 = 0),
        |v2 AS (SELECT -(doc_id * 2 + 2) AS doc_id,
        |              text || ' cafe' || chr(769) AS text
        |       FROM docs WHERE doc_id % 7 = 0),
        |a AS (SELECT * FROM docs UNION ALL SELECT * FROM v1
        |      UNION ALL SELECT * FROM v2)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_raw_groups,
        |       CAST(count(DISTINCT nfc_normalize(text)) AS BIGINT)
        |         AS n_nfc_groups
        |FROM a""".stripMargin,
    "x106_intradoc_dedup" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
         |              ELSE text END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, $toksSql AS tk FROM docs),
         |segs AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) = 0 THEN []
         |              ELSE list_transform(range(1, len(tk)+1, 3),
         |                                  i -> array_to_string(tk[i:i+2], ' '))
         |         END AS segs
         |  FROM tk),
         |ex AS (SELECT doc_id, unnest(segs) AS seg,
         |              generate_subscripts(segs, 1) AS idx
         |       FROM segs),
         |firsts AS (SELECT doc_id, seg, MIN(idx) AS fidx
         |           FROM ex GROUP BY 1, 2),
         |kept AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(seg, ' ' ORDER BY fidx) AS text_kept
         |  FROM firsts GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.segs) AS BIGINT) AS n_seg,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(k.text_kept, '') AS text_kept
         |FROM segs s LEFT JOIN kept k USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    "x107_charset_audit" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' cafe' || chr(769)
        |              WHEN doc_id % 13 = 1 THEN text || ' caf' || chr(233)
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN strlen(text) <> length(text)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nonascii,
        |       CAST(SUM(CASE WHEN nfc_normalize(text) <> text
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnfc
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // the two strip halves composed: intra-doc first-occurrence dedup
    // (the x106 chain), then the x48 cross-doc hot-set strip (minDocs=8)
    // over the intra-deduped text
    "x108_exactsubstr_release" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
         |              ELSE text END AS text
         |  FROM documents),
         |tk1 AS (SELECT doc_id, $toksSql AS tk FROM docs),
         |segs1 AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) = 0 THEN []
         |              ELSE list_transform(range(1, len(tk)+1, 3),
         |                                  i -> array_to_string(tk[i:i+2], ' '))
         |         END AS segs
         |  FROM tk1),
         |ex1 AS (SELECT doc_id, unnest(segs) AS seg,
         |               generate_subscripts(segs, 1) AS idx
         |        FROM segs1),
         |firsts AS (SELECT doc_id, seg, MIN(idx) AS fidx
         |           FROM ex1 GROUP BY 1, 2),
         |kept1 AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY fidx)
         |                  AS text
         |          FROM firsts GROUP BY doc_id),
         |intra AS (SELECT s.doc_id, coalesce(k.text, '') AS text
         |          FROM segs1 s LEFT JOIN kept1 k USING (doc_id)),
         |tk2 AS (SELECT doc_id, $toksSql AS tk FROM intra),
         |segs2 AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) = 0 THEN []
         |              ELSE list_transform(range(1, len(tk)+1, 3),
         |                                  i -> array_to_string(tk[i:i+2], ' '))
         |         END AS segs
         |  FROM tk2),
         |ex2 AS (SELECT doc_id, unnest(segs) AS seg,
         |               generate_subscripts(segs, 1) AS idx
         |        FROM segs2),
         |hot AS (SELECT seg FROM ex2 GROUP BY seg
         |        HAVING count(DISTINCT doc_id) >= 8),
         |kept2 AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(seg, ' ' ORDER BY idx) AS text_kept
         |  FROM ex2 WHERE seg NOT IN (SELECT seg FROM hot)
         |  GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.segs) AS BIGINT) AS n_seg,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(k.text_kept, '') AS text_kept
         |FROM segs2 s LEFT JOIN kept2 k USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    "x109_deep_page" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |rk AS (SELECT *, row_number() OVER (ORDER BY cents DESC, o_orderkey)
        |                 AS rank
        |       FROM o)
        |SELECT CAST(rank AS BIGINT) AS rank, o_orderkey, o_custkey, cents
        |FROM rk WHERE rank BETWEEN 101 AND 120
        |ORDER BY rank""".stripMargin)
}
