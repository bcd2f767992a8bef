package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.{Scan, Tables}
import graft.text.TextOps

/** Round-7 extension queries: tokenizer-induction and per-source
  * dataset-card shapes over the `documents` corpus. All four are
  * partial-aggregable single-scan plans — the shapes stay map-side-
  * combined at 100 TB; the only full-row shuffle anywhere is x46's
  * exact per-source countDistinct, which is deliberately the
  * fixture-scale oracle twin of the x42/x3 sketch discipline.
  */
object SparkEntryR7 {

  // DuckDB mirror of TextOps.tokens (same as SparkEntryExt's)
  private val toksSql =
    """CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END"""
  private def shinglesSql(t: String) =
    s"CASE WHEN len($t) >= 3 THEN list_transform(range(1, len($t)-1), " +
      s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]) ELSE [] END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X43: incremental ingest, one batch end-to-end (oracle form) --
    //
    // The admitted set of ONE `IncrementalIngest.processBatch` call over
    // a deterministic batch: new docs ∪ exact re-crawls of the corpus ∪
    // near re-crawls ∪ internal exact dup ∪ internal near dup. The
    // DuckDB oracle recomputes all four stages from first principles —
    // min-id-per-text self-dedup, corpus text membership, exact
    // all-pairs batch×corpus Jaccard (no LSH, no index), exact
    // within-batch pair dedup — so a green row proves the persisted-
    // index probes, the verify, the stage ordering, AND the
    // exactly-once sink read end to end. The sink root is keyed by the
    // fixture stamp, so a replayed Verify run takes the idempotent
    // no-op path and reads identical rows.
    "x43_ingest_batch" -> ((s, d) => {
      import graft.streaming.{IncrementalIngest, SnapshotSink}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val newd = docs.filter(col("doc_id") % 5 === 0)
      val batch = newd
        .unionByName(corpus.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .unionByName(corpus.filter(col("doc_id") % 11 === 5)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" qq")).as("text")))
        .unionByName(newd.filter(col("doc_id") % 13 === 2)
          .select((col("doc_id") + 300000L).as("doc_id"), col("text")))
        .unionByName(newd.filter(col("doc_id") % 17 === 3)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(col("text"), lit(" qq")).as("text")))
      val leaf = new java.io.File(d).getName
      val stamp = Tables.stamp(s, d, "documents")
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_r7/$leaf/ingest-$stamp-v1"
      val key = Seq(d, stamp, "ingest-mod5-v1")
      IncrementalIngest.processBatch(batch, 0L, root, corpus, key)
      SnapshotSink.readCommitted(s, root).select("doc_id")
    }),

    // ---- X44: BPE-style pair counts (the tokenizer-induction step) ----
    //
    // The first merge step of byte-pair/word-pair vocabulary induction:
    // corpus-wide adjacent-token-pair frequencies, top 50. One scan →
    // explode pairs → partial-aggregated count → TakeOrderedAndProject:
    // only (pair, partial count) rows cross the exchange and the top-k
    // never sorts the full pair set. Ties break on the pair text, so the
    // cut is engine-deterministic.
    "x44_bpe_pair_counts" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk)-1), i -> concat(tk[i-1], ' ', tk[i]))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("pair"))
        .limit(50)),

    // ---- X45: token-length histogram (the packing-planner query) ----
    //
    // Fixed-width histogram of per-document token counts — what sizes
    // the x10 sequence-packing bins. Integer `div` bucketing (the j8
    // discipline), all-integer outputs, one partial-aggregable pass.
    "x45_token_len_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("tk"))
        .select(expr("size(tk) div 16").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))),

    // ---- X46: exact-dup rate per source (dataset-card row) ----
    //
    // x42's corpus-wide dup rate broken down by provenance — the table
    // that decides which crawl source needs dedup attention. The exact
    // per-source countDistinct shuffles distinct (source, text) pairs;
    // at corpus scale the mergeable twin (x29 theta / x3 HLL per
    // source) slots into the same aggregate unchanged.
    "x46_dup_rate_by_source" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_uniq"))
        .select(col("source"), col("n_docs"), col("n_uniq"),
          expr("(n_docs - n_uniq) * 1000 div n_docs").as("dup_per_mill"))),

    // ---- X46b: dup rate per source, sketch form (the 100 TB twin) ----
    //
    // x46's exact countDistinct shuffles distinct (source, text) pairs —
    // full corpus text through the wire. The twin keeps the identical
    // single-aggregate shape with a mergeable HLL per source over the
    // text fingerprint: KB blobs cross the exchange instead of text
    // sets. Rows-only by design; at fixture cardinalities the sketch is
    // in exact sparse mode, so `SketchSpec` pins the frame equals x46's
    // exact frame (fingerprint collisions would surface there too).
    "x46b_dup_rate_sketch" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          hll_sketch_estimate(
            hll_sketch_agg(TextOps.rollingHash(col("text"))))
            .cast("long").as("n_uniq"))
        .select(col("source"), col("n_docs"), col("n_uniq"),
          expr("(n_docs - n_uniq) * 1000 div n_docs").as("dup_per_mill"))),

    // ---- X47: top-k vocabulary coverage (the vocab-size planner) ----
    //
    // What fraction of token OCCURRENCES a 100-entry vocabulary covers:
    // token counts (one partial-aggregated pass), top-100 by (count,
    // token) via TakeOrdered, and the two scalar sums joined — both
    // sides of the final join are one-row frames, so the "join" is two
    // driver-sized scalars, never a data shuffle. All-integer per-mill.
    "x47_vocab_coverage" -> ((s, d) => {
      val tc = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val total = tc.agg(sum(col("n")).as("total_occ"))
      val top = tc.orderBy(col("n").desc, col("tok")).limit(100)
        .agg(sum(col("n")).as("top100_occ"))
      total.crossJoin(top)
        .select(col("total_occ"), col("top100_occ"),
          expr("top100_occ * 1000 div total_occ").as("covered_per_mill"))
    }),

    // ---- X48: corpus-level boilerplate removal (segment dedup) --------
    //
    // The line-dedup pass of CCNet/C4 re-expressed for line-less
    // documents: 3-token non-overlapping segments occurring in >= 8
    // distinct docs are boilerplate and dropped everywhere; remainders
    // stitch back in order. Hot set is hard-bounded to the maxHotSet
    // hottest segments (top-k heap, default 100k — far above any fixture
    // hot set, so exact here) before broadcasting; the corpus is never
    // reassembled through a shuffle. Oracle recomputes via explode +
    // NOT IN + ordered string_agg.
    "x48_boilerplate_strip" -> ((s, d) =>
      TextOps.stripBoilerplate(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", segTokens = 3, minDocs = 8,
        hotSetKey = Some(Seq(d, Tables.stamp(s, d, "documents"))))),

    // ---- X48b: boilerplate strip, sketch-counted hot set (100 TB twin) --
    //
    // Same operator with the hot-set detection on mergeable HLL sketches:
    // KB blobs cross the segment-count exchange instead of distinct
    // (segment, doc) pairs. A boilerplate THRESHOLD tolerates estimate
    // error by nature; at fixture cardinality the sketch is exact, so
    // `R7OpsSpec` pins frame == exact. Rows-only by design (no oracle —
    // the estimator is engine-specific).
    "x48b_boilerplate_sketch" -> ((s, d) =>
      TextOps.stripBoilerplate(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", segTokens = 3, minDocs = 8, approxCounts = true,
        hotSetKey = Some(Seq(d, Tables.stamp(s, d, "documents"))))),

    // ---- X49: fractional-epoch source mixing ---------------------------
    //
    // DoReMi-style epoch materialization: per-source repeat factor
    // 500‰..2000‰ (derived from the source index so the fixture covers
    // down-sampling, identity, and >1 repeats), fractional part decided
    // by a salted content hash — deterministic on any engine, no RNG.
    // Row-local explode, zero shuffle.
    "x49_epoch_mix" -> ((s, d) => {
      // unbounded suffix parse — identical text to the oracle's
      // substr(source, 4), so a longer future source id can't diverge
      val f = lit(500L) + lit(250L) *
        pmod(expr("substring(source, 4)").cast("long"), lit(7L))
      TextOps.epochMix(
          Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
          "text", f, salt = "ep1")
        .select(col("doc_id"), col("source"), col("copy"))
    }),

    // ---- X51: global token-budget selection (budgeted curation) -------
    //
    // Keep the highest-quality docs until 40% of corpus tokens are
    // spent (FineWeb-edu-style). All-integer per-mill quality; the
    // cutoff comes from a <=1001-row quality-LEVEL frame, so the only
    // per-doc ordered pass is within the single boundary level — never
    // a global ordered window over the corpus.
    // Scan.Parallel (OPTIMIZATION r16, measured −0.26 s isolated): the
    // per-doc token-count kernel rides the scan, so the single-task
    // fixture layout serialized the whole counting pass.
    "x51_token_budget_select" -> ((s, d) =>
      TextOps.tokenBudgetSelect(
        Tables.documents(s, d, Scan.Parallel).select(col("doc_id"), col("text")),
        "doc_id", "text", budgetNum = 2L, budgetDen = 5L)),

    // ---- X50: deterministic training shuffle (shard + order) ----------
    //
    // The global-shuffle-before-training step: each doc lands in one of
    // 32 shards by salted content+id hash, ordered within its shard by
    // (hash, id) — reproducible on any engine, robust to input order and
    // partitioning. ONE hash-partitioned exchange + per-shard sort: at
    // 100 TB this IS the shard-file writer's shape (shard = output file,
    // pos = write order); including doc_id in the hash separates exact-
    // duplicate texts so copies spread across the order.
    "x50_training_shuffle" -> ((s, d) => {
      val h = TextOps.rollingHash(concat(
        lit("shuf1:"), col("text"), lit(":"), col("doc_id").cast("string")))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("__h"))
        .select(col("doc_id"), pmod(col("__h"), lit(32L)).as("shard"),
          row_number().over(
            Window.partitionBy(pmod(col("__h"), lit(32L)))
              .orderBy(col("__h"), col("doc_id")))
            .cast("bigint").as("pos"))
    }))

  def oracleSql: Map[String, String] = Map(

    "x43_ingest_batch" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), newd AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |), batch AS (
         |  SELECT doc_id, text FROM newd
         |  UNION ALL SELECT doc_id + 100000, text FROM corpus WHERE doc_id % 7 = 3
         |  UNION ALL SELECT doc_id + 200000, text || ' qq' FROM corpus WHERE doc_id % 11 = 5
         |  UNION ALL SELECT doc_id + 300000, text FROM newd WHERE doc_id % 13 = 2
         |  UNION ALL SELECT doc_id + 400000, text || ' qq' FROM newd WHERE doc_id % 17 = 3
         |), s1 AS ( -- exact self-dedup: min id per text
         |  SELECT min(doc_id) AS doc_id, text FROM batch GROUP BY text
         |), s2 AS ( -- exact corpus membership by content
         |  SELECT * FROM s1 WHERE text NOT IN (SELECT text FROM corpus)
         |), s2sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM s2)
         |), csh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)
         |), s3 AS ( -- near-dups of the corpus (exact all-pairs, no LSH)
         |  SELECT s2.doc_id, s2.text FROM s2
         |  WHERE s2.doc_id NOT IN (
         |    SELECT a.doc_id FROM s2sh a JOIN csh b ON TRUE
         |    WHERE len(a.s) > 0 AND len(b.s) > 0
         |      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |            / len(list_distinct(a.s || b.s)) >= 0.8)
         |), s3sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM s3)
         |)
         |SELECT doc_id FROM s3 -- within-batch pair dedup (drop larger id)
         |WHERE doc_id NOT IN (
         |  SELECT b.doc_id FROM s3sh a JOIN s3sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0
         |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / len(list_distinct(a.s || b.s)) >= 0.8)""".stripMargin,

    "x44_bpe_pair_counts" ->
      s"""WITH tk AS (SELECT $toksSql AS tk FROM documents),
         |p AS (
         |  SELECT unnest(list_transform(range(1, len(tk)),
         |                               i -> tk[i] || ' ' || tk[i+1])) AS pair
         |  FROM tk WHERE len(tk) >= 2
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM p GROUP BY pair
         |ORDER BY n_pairs DESC, pair LIMIT 50""".stripMargin,

    "x45_token_len_histogram" ->
      s"""WITH tk AS (SELECT $toksSql AS tk FROM documents)
         |SELECT CAST(len(tk) // 16 AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM tk GROUP BY 1""".stripMargin,

    "x46_dup_rate_by_source" ->
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_uniq,
        |       CAST((count(*) - count(DISTINCT text)) * 1000 // count(*)
        |            AS BIGINT) AS dup_per_mill
        |FROM documents GROUP BY source""".stripMargin,

    "x47_vocab_coverage" ->
      s"""WITH tc AS (
         |  SELECT tok, count(*) AS n
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |  GROUP BY tok
         |),
         |top AS (SELECT n FROM tc ORDER BY n DESC, tok LIMIT 100)
         |SELECT CAST((SELECT sum(n) FROM tc) AS BIGINT) AS total_occ,
         |       CAST((SELECT sum(n) FROM top) AS BIGINT) AS top100_occ,
         |       CAST((SELECT sum(n) FROM top) * 1000
         |            // (SELECT sum(n) FROM tc) AS BIGINT) AS covered_per_mill""".stripMargin,

    "x48_boilerplate_strip" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS tk FROM documents),
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
         |hot AS (SELECT seg FROM ex GROUP BY seg
         |        HAVING count(DISTINCT doc_id) >= 8),
         |kept AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(seg, ' ' ORDER BY idx) AS text_kept
         |  FROM ex WHERE seg NOT IN (SELECT seg FROM hot)
         |  GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.segs) AS BIGINT) AS n_seg,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(k.text_kept, '') AS text_kept
         |FROM segs s LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "x49_epoch_mix" ->
      """WITH t AS (SELECT doc_id, source, 'ep1:' || text AS st FROM documents),
        |h AS (
        |  SELECT doc_id, source,
        |         500 + 250 * (CAST(substr(source, 4) AS BIGINT) % 7) AS f,
        |         list_reduce(list_transform(range(1, length(st)+1),
        |                                    i -> CAST(ascii(st[i]) AS BIGINT)),
        |                     (acc, c) -> (acc*31 + c) % 2147483647) % 1000 AS pm
        |  FROM t),
        |r AS (SELECT doc_id, source,
        |             f // 1000 + CASE WHEN pm < f % 1000 THEN 1 ELSE 0 END AS reps
        |      FROM h)
        |SELECT doc_id, source, CAST(unnest(range(reps)) AS BIGINT) AS copy
        |FROM r WHERE reps > 0""".stripMargin,

    "x51_token_budget_select" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1000
         |           // greatest(length(text), 1) AS q,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok,
         |         CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
         |              ELSE list_reduce(list_transform(range(1, length(text)+1),
         |                                              i -> CAST(ascii(text[i]) AS BIGINT)),
         |                               (acc, c) -> (acc*31 + c) % 2147483647)
         |         END AS h
         |  FROM documents),
         |b AS (SELECT CAST(sum(n_tok) * 2 // 5 AS BIGINT) AS b FROM scored),
         |lv AS (SELECT q, sum(n_tok) AS s FROM scored GROUP BY q),
         |lw AS (SELECT q, s,
         |              coalesce(sum(s) OVER (ORDER BY q DESC
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |       FROM lv),
         |cls AS (SELECT q,
         |               (cb + s <= (SELECT b FROM b)) AS fullk,
         |               (cb < (SELECT b FROM b) AND cb + s > (SELECT b FROM b)) AS bnd,
         |               ((SELECT b FROM b) - cb) AS rem
         |        FROM lw),
         |tg AS (SELECT sc.doc_id, sc.q, sc.n_tok, sc.h, c.fullk, c.bnd, c.rem
         |       FROM scored sc JOIN cls c USING (q)),
         |bk AS (SELECT doc_id, q, n_tok FROM (
         |         SELECT doc_id, q, n_tok, rem,
         |                sum(n_tok) OVER (PARTITION BY q ORDER BY h, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |         FROM tg WHERE bnd)
         |       WHERE run <= rem)
         |SELECT doc_id, CAST(q AS BIGINT) AS q, n_tok FROM tg WHERE fullk
         |UNION ALL SELECT doc_id, CAST(q AS BIGINT) AS q, n_tok FROM bk""".stripMargin,

    "x50_training_shuffle" ->
      """WITH t AS (SELECT doc_id,
        |                  'shuf1:' || text || ':' || CAST(doc_id AS VARCHAR) AS st
        |           FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(range(1, length(st)+1),
        |                                    i -> CAST(ascii(st[i]) AS BIGINT)),
        |                     (acc, c) -> (acc*31 + c) % 2147483647) AS h
        |  FROM t)
        |SELECT doc_id, CAST(h % 32 AS BIGINT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY h % 32 ORDER BY h, doc_id)
        |            AS BIGINT) AS pos
        |FROM h""".stripMargin)
}
