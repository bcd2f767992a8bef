package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.SimSearch
import graft.tables.{Scan, Tables}
import graft.text.TextOps

/** [EXT] query entries (SURVEY §2.11): similarity search over embeddings,
  * near-dup text dedup, text analysis. Split out of `SparkEntry` to keep
  * each file readable; merged into `SparkEntry.queries`/`oracleSql`.
  *
  * The `documents`/`embeddings` fixtures contain no near-duplicates, so the
  * dedup queries PLANT them deterministically inside the query (self-union
  * with shifted ids and a small text/vector perturbation) — both the Spark
  * side and the DuckDB oracle apply the identical transformation.
  *
  * Floating-point parity notes: Jaccard and quality scores are ratios/sums
  * of integers evaluated by the identical expression on both engines —
  * bit-exact. Cosine is computed by different summation code in DuckDB, so
  * those queries compare `round(sim, 6)` and keep thresholds far from any
  * data (planted pairs ≈0.99, everything else ≤0.53, threshold 0.8).
  */
object SparkEntryExt {

  // 200 hyperplanes = 20 bands × 10 bits for the 64-dim fixture embeddings.
  // At the planted-duplicate angle (cos≈0.987 → θ≈0.16 rad) per-band match
  // prob is (1-θ/π)^10 ≈ 0.59 → miss-all-bands ≈ 0.41^20 ≈ 2e-8, while a
  // random pair (θ≈π/2) collides in any band with prob ≈ 20/2^10 ≈ 2% —
  // candidate volume stays ~1% of all-pairs instead of ~50%.
  private val Planes = SimSearch.hyperplanes(numPlanes = 200, dim = 64)
  private val Bands = 20
  private val RowsPerBand = 10

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), SimSearch.castD(col("embedding")).as("emb"))

  /** Deterministic near-identical copies: ids +1_000_000, each component
    * nudged by 0.01*((i mod 7)-3) — cosine vs the original ≈ 0.987.
    */
  private def plantedEmb(e: DataFrame): DataFrame =
    e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("emb"), (x, i) => x + lit(0.01) * (i % 7 - 3)).as("emb"))

  private val plantedEmbSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |         list_transform(range(1, len(embedding)+1),
      |                        i -> embedding[i] + 0.01*(((i-1)%7)-3))
      |  FROM embeddings""".stripMargin

  private def docsWithPlanted(s: SparkSession, d: String,
                              scan: Scan = Scan.Stock): DataFrame = {
    val docs = Tables.documents(s, d, scan).select(col("doc_id"), col("text"))
    docs.unionByName(docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
      concat(col("text"), lit(" qq")).as("text")))
  }

  private val docsWithPlantedSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' qq' FROM documents""".stripMargin

  /** Chain-planted corpus for the connected-component dedup: per doc A,
    * copy B = A+" qq" at id+2_000_000 and copy C = A+" qq rr" at
    * id+1_000_000. For an n-token doc, Jaccard(A,B) = (n-2)/(n-1) and
    * J(B,C) = (n-1)/n clear 0.8 from n >= 6 / n >= 5, while J(A,C) =
    * (n-2)/n only from n >= 10 — so mid-length docs form a true chain
    * A~B~C whose MIDDLE vertex carries the largest id: pair-based
    * min-id-survivor keeps {A, C}, connected components keep exactly {A}.
    *
    * The base corpus is restricted to a deterministic quarter
    * (doc_id % 4 = 1) — the DuckDB oracle's WITH RECURSIVE component
    * search re-evaluates the all-pairs Jaccard CTE per iteration, so the
    * full 3x corpus cost it ~230 s at sf0.01 and blew the driver's
    * correctness budget; the quarter keeps >100 true chains and the
    * oracle at ~10 s. Engine input and oracle use the SAME filter.
    */
  private[graft] def docsWithChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(4L)) === 1)
    docs
      .unionByName(docs.select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(col("text"), lit(" qq")).as("text")))
      .unionByName(docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" qq rr")).as("text")))
  }

  private[graft] val docsWithChainSql =
    """SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' qq' FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' qq rr' FROM documents WHERE doc_id % 4 = 1""".stripMargin

  // DuckDB mirrors of TextOps.tokens / TextOps.shingles(_, 3)
  private[graft] val toksSql =
    """CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END"""
  private[graft] def shinglesSql(t: String) =
    s"CASE WHEN len($t) >= 3 THEN list_transform(range(1, len($t)-1), " +
      s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]) ELSE [] END"

  // DuckDB mirror of TextOps.rollingHash(text) (shared by the x5
  // fingerprint and the x9 sampling bucket)
  private val fpSql =
    """CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
      |     ELSE list_reduce(list_transform(range(1, length(text)+1),
      |                                     i -> CAST(ascii(text[i]) AS BIGINT)),
      |                      (acc, c) -> (acc*31 + c) % 2147483647)
      |END""".stripMargin

  private[graft] val enStopSql = TextOps.EnStop.map(w => s"'$w'").mkString(", ")
  private[graft] val esStopSql = TextOps.EsStop.map(w => s"'$w'").mkString(", ")
  private[graft] val deStopSql = TextOps.DeStop.map(w => s"'$w'").mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X4: similarity search over embeddings ----

    // Brute-force cosine top-10 for 10 query vectors: broadcast query set,
    // one candidate scan, salted two-phase per-query ranking (no single
    // task sorts a query's full candidate list).
    "x4_cosine_topk" -> ((s, d) =>
      SimSearch.bruteForceTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 10)
        .select(col("q_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim6"))),

    // Same ranking through the bounded-heap TypedImperativeAggregate
    // (O(k) state per group, map-side partials, no window sort) — shares
    // x4_cosine_topk's oracle, so a green row proves the custom aggregate
    // end to end.
    "x4_topk_agg" -> ((s, d) =>
      SimSearch.bruteForceTopKAgg(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 10)
        .select(col("q_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim6"))),

    // ANN variant: banded sign-LSH bucket join instead of a full scan —
    // the 100 TB path. Approximate by construction → no SQL oracle (recall
    // vs brute force is asserted in SimSearchSpec); driver records rows>0.
    "x4_ann_topk" -> ((s, d) =>
      SimSearch.annTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), 10,
          Planes, Bands, RowsPerBand)
        .select(col("q_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim6"))),

    // IVF variant: 16 Lloyd-fitted centroids (3 spherical k-means rounds
    // from deterministic seeds), probe the 6 nearest lists — the
    // partition-pruned inverted-list shape. Approximate → rows-only check;
    // recall/structure asserted in SimSearchSpec (fitted >= sampled seeds
    // at these parameters). Centroids are an INDEX artifact (VERDICT r3
    // #3 / r4 #1): fit once per (table, k, iters), persist as a tiny
    // parquet index table, and load — a real IVF index fits at build time
    // and serves every query from every session after; a fresh JVM loads
    // the artifact instead of re-running 3 corpus passes
    // (ArtifactStoreSpec pins this). Fixture dirs are immutable, so the
    // artifact cannot go stale.
    "x4_ivf_topk" -> ((s, d) => {
      val e = emb(s, d)
      val cents = graft.util.ArtifactStore.getOrCompute(s, "ivf_centroids",
        Seq(d, Tables.stamp(s, d, "embeddings"), 16, 3),
        graft.util.ArtifactStore.CentroidsCodec) {
        SimSearch.fitCentroids(e, 16, iters = 3)
      }
      SimSearch.ivfTopK(e, e.filter(col("vec_id") < 10), 10, cents, nProbe = 6)
        .select(col("q_id"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim6"))
    }),

    // Embedding near-dup pairs: LSH candidates + exact cosine >= 0.8
    // verification, against planted near-identical copies.
    "x4_cosine_neardup" -> ((s, d) => {
      val e = emb(s, d)
      SimSearch.cosineNearDupPairs(e.unionByName(plantedEmb(e)), 0.8,
          Planes, Bands, RowsPerBand)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim6"))
    }),

    // ---- X2: near-duplicate text dedup ----

    // MinHash(24) → 12 bands × 2 rows → bucket join → exact-Jaccard verify
    // >= 0.8. Planted pairs have J >= ~0.89 (append one token to a >=10
    // token doc) → per-pair miss prob (1-0.89²)^12 ≈ 8e-9 — negligible
    // even against the 5000 planted pairs at bench scale.
    "x2_neardup_minhash" -> ((s, d) =>
      TextOps.nearDupPairs(docsWithPlanted(s, d), 0.8)),

    // The deduplicated CORPUS (what a training pipeline keeps): min-id
    // survivor over the near-dup relation. Oracle recomputes the drop set
    // from exact Jaccard — a green row proves LSH found exactly the true
    // duplicate set AND the survivor selection matches.
    "x2_dedup_corpus" -> ((s, d) =>
      TextOps.dedupCorpus(docsWithPlanted(s, d), 0.8)
        .select(col("doc_id"), length(col("text")).as("n_len"))),

    // Connected-component dedup over a chain-planted corpus: one survivor
    // per duplicate CLUSTER via bounded min-id label propagation. The
    // DuckDB oracle recomputes true components with WITH RECURSIVE over
    // the exact-Jaccard pair relation — a green row proves LSH recall,
    // the propagation fixpoint, AND the survivor selection.
    // labelsKey: the chain fixture is immutable per sf dir, so the CC
    // propagation persists as a cc_labels artifact and is SHARED with
    // x38_dedup_keep_best's policy pick (one loop, two policies).
    "x2_dedup_cc" -> ((s, d) =>
      TextOps.dedupCorpusConnected(docsWithChain(s, d), 0.8,
        labelsKey = Some(Seq(d, Tables.stamp(s, d, "documents"), "chain_mod4")))
        .select(col("doc_id"), length(col("text")).as("n_len"))),

    // Exact n-gram-Jaccard all-pairs on a bounded subset (the brute-force
    // twin the LSH path is verified against).
    // Scan.Parallel (r16, measured −0.65 s): the all-pairs jaccard verify
    // otherwise evaluates on however few partitions the single-task
    // scan's 200-row survivor set landed in.
    "x2_jaccard_ngram" -> ((s, d) => {
      val sub = docsWithPlanted(s, d, Scan.Parallel)
        .filter(pmod(col("doc_id"), lit(1000000L)) < 100)
      val sh = sub.select(col("doc_id"),
          array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
        .filter(size(col("sh")) > 0)
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), TextOps.jaccard(col("sa"), col("sb")).as("jac"))
        .filter(col("jac") >= 0.5)
    }),

    // SimHash document sketches (portable 31-bit rolling hash, so the
    // oracle reproduces the exact bits; shingle build + sketch both run
    // as native kernels).
    "x2_simhash" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("__sh", TextOps.distinctShingles(col("text"), 3))
        .select(col("doc_id"), TextOps.simhash("__sh").as("simhash"))),

    // ---- X5: text analysis ----

    // Document fingerprint: portable rolling hash of the raw text (native
    // kernel; the oracle reproduces it from the SQL formulation).
    "x5_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.rollingHash(col("text")).as("fp"))),

    // Language ID: stopword-count argmax heuristic.
    "x5_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))),

    // Quality score: stopword/alpha/length signals in [0,1].
    "x5_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.qualityScore(col("text"), TextOps.tokens(col("text"))).as("quality"))),

    // BPE-ish token count: regex pieces, ceil(len/4) units per piece.
    "x5_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"))),

    // ---- X9-X11: training-data pipeline operators (round 3) ----

    // X9a: content-hash train/eval split — reproducible across engines,
    // runs, repartitionings and id reassignment (portable hash, no RNG).
    "x9_hash_split" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.hashSplit(col("text"), evalPerMill = 100).as("split"))),

    // X9b: stratified deterministic downsampling — the data-mixing
    // primitive (keep 50% en / 20% es / 10% tail, by content hash).
    "x9_stratified_sample" -> ((s, d) =>
      TextOps.stratifiedSampleByHash(Tables.documents(s, d), "text", "lang",
          Map("en" -> 500, "es" -> 200), defaultPerMill = 100)
        .select("doc_id", "lang")),

    // X10: sequence packing — documents into ~512-token bins, sharded by
    // id so each shard packs independently (scale-safe prefix sum).
    // Output: per-(shard, bin) document and token totals.
    "x10_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(length(trim(col("text"))) === 0, lit(0L))
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("bigint"))
          .as("n_tok"))
      TextOps.packSequences(docs, "doc_id", "n_tok", budgetTokens = 512L, shards = 8)
        .groupBy(col("__shard").as("shard"), col("__bin").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    }),

    // X11: benchmark decontamination — corpus (originals + planted
    // near-dup copies) vs an "eval suite" (every 50th doc): exact copies
    // AND near-dup copies of eval docs are dropped via >= 5 shared
    // distinct shingles; the oracle recomputes the same join. The eval
    // shingle table is a persisted `decontam_index` artifact (VERDICT
    // r8 #6): built once per (fixture, eval suite), probed per batch —
    // the x37 O(batch) incremental discipline (plan + reload pinned).
    "x11_decontaminate" -> ((s, d) => {
      val evalSet = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(50L)) === 0)
      TextOps.decontaminate(docsWithPlanted(s, d), evalSet, minOverlap = 5,
        indexKey = Some(Seq(d, Tables.stamp(s, d, "documents"), "eval-mod50")))
        .select(col("doc_id"), length(col("text")).as("n_len"))
    }),

    // X5b: PII redaction — emails then 7+-digit runs masked, planted
    // deterministically per doc_id (the fixture has no PII) so the oracle
    // proves the masks fired, not just that text passed through.
    "x5_redact_pii" -> ((s, d) => {
      val dirty = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact u"),
          col("doc_id").cast("string"), lit("@mail.example or call 55119"),
          lpad(col("doc_id").cast("string"), 7, "0")).as("text"))
      dirty.select(col("doc_id"), TextOps.redactPii(col("text")).as("clean"))
    }),

    // X9c: per-source document cap — domain balancing, the web-corpus op
    // that stops one crawl source from dominating the mix: keep at most K
    // docs per source, chosen deterministically by content-hash order (no
    // RNG, so the same corpus always keeps the same docs).
    //
    // Scale shape (VERDICT r4 #2): a row_number window would route every
    // row of a source through ONE task's sort — on a Zipfian web corpus a
    // hot crawl source serializes its whole slice through one executor.
    // The bounded-heap aggregate (`graft_topk`) keeps O(K) state per
    // source per task with map-side partials, so the shuffle carries at
    // most K rows per (task, source) and no full per-source sort exists
    // anywhere in the plan (pinned in PlanAuditSpec). Keep-smallest by
    // (hash, doc_id) = heap's (score desc, id asc) with score = -hash;
    // a null text hashes to null → sentinel 2^31-1 sorts LAST, matching
    // the oracle's NULLS LAST order independent of fixture contents
    // (ADVICE r4).
    "x9_per_source_cap" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val hash = TextOps.rollingHash(col("text")) // in [0, 2^31-1)
      val score = -coalesce(hash, lit(2147483647L)).cast("double")
      val agg = ColumnBridge.column(
        graft.expressions.TopKByScore(
          ColumnBridge.expression(score),
          ColumnBridge.expression(col("doc_id").cast("long")), 40)
          .toAggregateExpression())
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(agg.as("__kept"))
        .select(col("source"), explode(col("__kept.id")).as("doc_id"))
        .select(col("doc_id"), col("source"))
    }),

    // X13: dataset-version diff — reconciliation between two corpus
    // versions (the dataset-versioning op): FULL OUTER join on the key,
    // rows classed added / removed / changed / unchanged. The "new"
    // version is derived deterministically (every 7th doc dropped, every
    // 5th doc's text altered, 100 synthetic docs appended) — but the diff
    // itself runs over two REAL persisted parquet trees (VERDICT r4 #4):
    // both versions are written as hive-partitioned trees once per
    // fixture dir and the reconciliation consumes the READ-BACK tables,
    // so layout/partition/schema drift between versions is genuinely in
    // scope (schema drift classing pinned in DatasetDiffSpec). Presence
    // is decided by per-side markers, NOT value-nullness: a doc present
    // in both versions with null text classes unchanged, exactly as the
    // oracle's `d.doc_id IS NULL` key-presence test does.
    "x13_dataset_diff" -> ((s, d) => {
      val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // v2 additionally ADDS a `rev` column (schema drift between the
      // persisted trees — VERDICT r6 #6): the read-back v2 carries a
      // column v1 lacks, and the diff still reconciles on (key, text)
      // because rowDiff prunes to exactly those — drift classing itself
      // is pinned in DatasetDiffSpec
      val v2 = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(7L)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(col("text"), lit(" [edited]"))).otherwise(col("text"))
            .as("text"))
        .unionByName(
          Tables.documents(s, d).select(
            (col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text"))
            .filter(col("doc_id") < 1000100L))
        .withColumn("rev", lit(2))
      val root = graft.tables.DatasetDiff.ensureVersions(s,
        Seq("x13_versions", d), Seq("v1" -> v1, "v2" -> v2),
        partitionCol = Some(("part_bucket", pmod(col("doc_id"), lit(4L)))))
      graft.tables.DatasetDiff.rowDiff(
        s.read.parquet(s"$root/v1"), s.read.parquet(s"$root/v2"),
        "doc_id", "text")
    }),

    // X12: one-pass column profiling — the data-quality snapshot a
    // training pipeline runs on every drop: per column (rows, nulls,
    // distincts). EXACT form, kept as the fixture-scale ORACLE TWIN of
    // x12_profile_sketch below: multiple count-distincts plan via Expand
    // (scan rows replicated per distinct aggregate, full distinct sets
    // shuffled) — exactly what you don't want on a 100 TB text column.
    "x12_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cs = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = count(lit(1)).as("n_rows") +:
        cs.flatMap(c => Seq(count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
      val one = docs.agg(aggs.head, aggs.tail: _*)
      one.select(expr(
        s"stack(${cs.size}, " + cs.map(c =>
          s"'$c', n_rows, n_rows - nn_$c, nd_$c").mkString(", ") +
          ") as (column_name, n_rows, n_null, n_distinct)"))
    }),

    // X12b: the 100 TB profile (VERDICT r4 #3) — same one-pass shape, but
    // n_distinct comes from a per-column HLL sketch aggregate: ordinary
    // (non-distinct) aggregates, so ONE scan with NO Expand row
    // replication (pinned in PlanAuditSpec) and partials that merge as
    // fixed-size sketches instead of shuffling whole distinct sets. Row
    // and null counts stay exact. Approximate distincts by construction →
    // rows-only here; |approx − exact| within HLL tolerance on every
    // column is asserted in SketchSpec.
    "x12_profile_sketch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cs = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = count(lit(1)).as("n_rows") +:
        cs.flatMap(c => Seq(count(col(c)).as(s"nn_$c"),
          hll_sketch_estimate(hll_sketch_agg(col(c))).as(s"nd_$c")))
      val one = docs.agg(aggs.head, aggs.tail: _*)
      one.select(expr(
        s"stack(${cs.size}, " + cs.map(c =>
          s"'$c', n_rows, n_rows - nn_$c, nd_$c").mkString(", ") +
          ") as (column_name, n_rows, n_null, n_distinct_approx)"))
    }),

    // O6: latest snapshot per key (SCD-style "current state" view) — the
    // standard window-dedup over an event log; total order via
    // (ts desc, event_id desc) so ties are deterministic cross-engine.
    "o6_latest_per_key" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }),

    // ---- X6/events: timestamp handling (nanos → micros) oracle-checked ----

    "x6_event_times" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us"),
          count(lit(1)).as("n_events"))),

    // X8: sessionization of the event stream — gap-based session ids via
    // lag + running sum (the portable formulation of session windows; the
    // streaming path would use session_window/flatMapGroupsWithState).
    // All-integer micros arithmetic → bit-exact across engines.
    "x8_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val gapUs = 3600L * 1000000L // 1 hour
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("new_session",
          when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs ||
            lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
    }),

    // ---- X7: multimodal binary columns (decode kernel stubbed) ----

    // Metadata-level query: binaries stay opaque; scan prunes to
    // (media_id, meta, octet_length).
    "x7_multimodal_meta" -> ((s, d) => {
      val media = graft.media.Multimodal.fakeMediaFromDocuments(
        Tables.documents(s, d))
      media.select(col("media_id"),
        octet_length(col("media")).cast("bigint").as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.format").as("format"))
    }),

    // Stub decode via typed mapPartitions (the mapInPandas batch shape);
    // the fixture payload is UTF-8 text bytes, so the oracle reproduces
    // the byte statistics from the text itself (fixture text is ASCII).
    "x7_media_features" -> ((s, d) =>
      graft.media.Multimodal.featuresFromDocuments(s,
        Tables.documents(s, d))
        .select(col("media_id"), col("n_bytes").cast("bigint").as("n_bytes"),
          col("mean_byte"), col("head_hash"))),

    // REAL decode branch under an oracle row (VERDICT r3 #4): payloads are
    // actual PNG / BMP / baseline-JPEG / progressive-JPEG header bytes
    // planted per doc_id with deliberately wrong declared metadata; the
    // oracle derives width/height/format ARITHMETICALLY from doc_id, so a
    // hash-match proves the header parser inverted the byte constructors —
    // the stub branch cannot produce these values.
    "x7_decode_real" -> ((s, d) =>
      graft.media.Multimodal.decode(
        graft.media.Multimodal.plantedImages(Tables.documents(s, d)))
        .toDF()
        .select(col("media_id"), col("n_bytes").cast("bigint").as("n_bytes"),
          col("width"), col("height"), col("format"))),

    // Audio modality: planted RIFF/WAVE headers (param values derived
    // arithmetically from doc_id) parsed back by the pure-JVM chunk
    // walker — same constructor-inversion oracle contract as
    // x7_decode_real.
    "x7_audio_meta" -> ((s, d) =>
      graft.media.Multimodal.audioMeta(
        graft.media.Multimodal.plantedAudio(Tables.documents(s, d)))),

    // Video modality: planted ISO-BMFF (MP4) headers, alternating mvhd
    // v0/v1, parsed back by the box walker; duration_ms is exact integer
    // math so the oracle reproduces it with DIV.
    "x7_video_meta" -> ((s, d) =>
      graft.media.Multimodal.videoMeta(
        graft.media.Multimodal.plantedVideo(Tables.documents(s, d)))),

    // X5: the explode/regexp token pipeline (the Generator/UDTF shape):
    // lower → regex split → explode → filter → count → top-k. Total order
    // (n desc, term) makes the LIMIT boundary deterministic cross-engine.
    "x5_term_freq" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("term")).limit(50)),

    // ---- J2/J3: as-of + range joins (market-data enrichment shapes the
    // reference's SQL surface would gain for free on a real engine) ----

    // J2: backward as-of join — every event enriched with the same user's
    // most recent purchase at-or-before it (exact-tie inclusive). DuckDB
    // oracles it natively with ASOF LEFT JOIN. (user_id, ts) is unique in
    // the fixture, so the greatest-time match is deterministic.
    "j2_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"), col("ts_us").as("purchase_ts_us"))
      graft.joins.AsOfJoin.backward(
          ev.select("event_id", "user_id", "ts_us"), purchases,
          Seq("user_id"), "ts_us", "ts_us")
        .select("event_id", "user_id", "ts_us", "purchase_id", "purchase_ts_us")
    }),

    // J2b: as-of join WITH tolerance — matches older than 6h are nulled
    // out (left row kept). Oracle: DuckDB ASOF LEFT JOIN + staleness
    // filter (VERDICT r2 #8 — the tolerance path was spec-only).
    "j2b_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"), col("ts_us").as("purchase_ts_us"))
      graft.joins.AsOfJoin.backward(
          ev.select("event_id", "user_id", "ts_us"), purchases,
          Seq("user_id"), "ts_us", "ts_us",
          toleranceUs = Some(6L * 3600L * 1000000L))
        .select("event_id", "user_id", "ts_us", "purchase_id", "purchase_ts_us")
    }),

    // J2c: FORWARD as-of join — every event enriched with the same
    // user's NEXT purchase at-or-after it (exact-tie inclusive): the
    // attribution direction (exposure → first later conversion). Same
    // one-exchange union+window shape scanned in descending time order;
    // DuckDB oracles it natively with ASOF LEFT JOIN on `<=`.
    "j2c_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"), col("ts_us").as("purchase_ts_us"))
      graft.joins.AsOfJoin.forward(
          ev.select("event_id", "user_id", "ts_us"), purchases,
          Seq("user_id"), "ts_us", "ts_us")
        .select("event_id", "user_id", "ts_us", "purchase_id", "purchase_ts_us")
    }),

    // J4/J5: semi and anti joins — existence filtering without payload
    // duplication (the scale-safe alternative to join+distinct).
    "j4_semi_join" -> ((s, d) => {
      val bigSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000.0).select("o_custkey")
      Tables.customer(s, d).join(bigSpenders,
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    }),

    // Customers who never placed an URGENT order (every customer has SOME
    // order in the fixture, so the unfiltered form would be trivially
    // empty — the priority predicate keeps the anti-join's keep AND drop
    // sides non-empty).
    "j5_anti_join" -> ((s, d) => {
      val urgentOrders = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      Tables.customer(s, d).join(urgentOrders,
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    }),

    // J3: point-in-interval range join via bucketed equi-join (never a
    // nested-loop product): overlapping 2h windows every 1h over the event
    // span, counting events per window. Windows overlap, so this is a real
    // range join — not expressible as date_trunc bucketing.
    "j3_range_join" -> ((s, d) => {
      val HourUs = 3600L * 1000000L
      val ev = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val iv = ev.agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
        .select(col("lo"), explode(sequence(lit(0L),
          ((col("hi") - col("lo")) / HourUs).cast("long"))).as("interval_id"))
        .select(col("interval_id"),
          (col("lo") + col("interval_id") * HourUs).as("start_us"))
        .withColumn("end_us", col("start_us") + 2 * HourUs)
      val pairs = graft.joins.RangeJoin.pointInInterval(
        ev, "ts_us", iv, "start_us", "end_us", HourUs)
      val counts = pairs.groupBy("interval_id", "start_us")
        .agg(count(lit(1)).as("n_events"))
      iv.join(counts, Seq("interval_id", "start_us"), "left")
        .select(col("interval_id"), col("start_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    })
  )

  private val cosineTopKSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |         list_cosine_similarity(q.emb, e.emb) AS sim
      |  FROM e q JOIN e ON e.vec_id != q.vec_id
      |  WHERE q.vec_id < 10
      |),
      |r AS (SELECT q_id, vec_id, sim,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |      FROM p)
      |SELECT q_id, rank, vec_id, ROUND(sim, 6) AS sim6
      |FROM r WHERE rank <= 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "x4_cosine_topk" -> cosineTopKSql,

    // identical oracle: the heap aggregate must reproduce the window
    // ranking bit-for-bit (same score, same id tiebreak)
    "x4_topk_agg" -> cosineTopKSql,

    "x4_cosine_neardup" ->
      s"""WITH a AS ($plantedEmbSql),
         |p AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         list_cosine_similarity(x.emb, y.emb) AS sim
         |  FROM a x JOIN a y ON x.vec_id < y.vec_id
         |)
         |SELECT id_a, id_b, ROUND(sim, 6) AS sim6
         |FROM p WHERE sim >= 0.8""".stripMargin,

    "x2_neardup_minhash" ->
      s"""WITH all_docs AS ($docsWithPlantedSql),
         |sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM all_docs)
         |),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |           / len(list_distinct(a.s || b.s)) AS jac
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0
         |)
         |SELECT id_a, id_b, jac FROM p WHERE jac >= 0.8""".stripMargin,

    "x2_dedup_corpus" ->
      s"""WITH all_docs AS ($docsWithPlantedSql),
         |sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM all_docs)
         |),
         |dups AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0
         |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / len(list_distinct(a.s || b.s)) >= 0.8
         |)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_len FROM all_docs
         |WHERE doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin,

    "x2_dedup_cc" ->
      s"""WITH RECURSIVE all_docs AS ($docsWithChainSql),
         |sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM all_docs)
         |),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0
         |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / len(list_distinct(a.s || b.s)) >= 0.8
         |),
         |e AS (SELECT id_a AS s, id_b AS t FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |cc(id, r) AS (
         |  SELECT DISTINCT s, s FROM e
         |  UNION
         |  SELECT e.t, cc.r FROM cc JOIN e ON e.s = cc.id
         |),
         |lab AS (SELECT id, MIN(r) AS label FROM cc GROUP BY id)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_len FROM all_docs
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE label <> id)""".stripMargin,

    "x2_jaccard_ngram" ->
      s"""WITH all_docs AS ($docsWithPlantedSql),
         |sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("tk")}) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM all_docs
         |        WHERE doc_id % 1000000 < 100)
         |),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |           / len(list_distinct(a.s || b.s)) AS jac
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0
         |)
         |SELECT id_a, id_b, jac FROM p WHERE jac >= 0.5""".stripMargin,

    "x2_simhash" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${shinglesSql("tk")} AS sh
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         |),
         |h AS (
         |  SELECT doc_id,
         |         list_transform(list_distinct(sh), s ->
         |           list_reduce(list_transform(range(1, length(s)+1),
         |                                      i -> CAST(ascii(s[i]) AS BIGINT)),
         |                       (acc, c) -> (acc*31 + c) % 2147483647)) AS hs
         |  FROM t
         |)
         |SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(0, 31), j ->
         |         CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1)*2 - 1)) > 0
         |              THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), 0)
         |       AS BIGINT) AS simhash
         |FROM h""".stripMargin,

    "x5_fingerprint" ->
      """SELECT doc_id,
        |       CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
        |            ELSE list_reduce(list_transform(range(1, length(text)+1),
        |                                            i -> CAST(ascii(text[i]) AS BIGINT)),
        |                             (acc, c) -> (acc*31 + c) % 2147483647)
        |       END AS fp
        |FROM documents""".stripMargin,

    "x5_lang_id" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |         len(list_filter(tk, x -> x IN ($enStopSql))) AS en,
         |         len(list_filter(tk, x -> x IN ($esStopSql))) AS es,
         |         len(list_filter(tk, x -> x IN ($deStopSql))) AS de
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         |)
         |SELECT doc_id,
         |       CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
         |            WHEN es >= de AND es > 0 THEN 'es'
         |            WHEN de > 0 THEN 'de'
         |            ELSE 'und' END AS lang_pred
         |FROM c""".stripMargin,

    "x5_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents)
         |SELECT doc_id,
         |       CASE WHEN len(tk) = 0 THEN 0.0 ELSE
         |         0.4 * least(CAST(len(list_filter(tk, x -> x IN ($enStopSql))) AS DOUBLE)
         |                       / CAST(len(tk) AS DOUBLE) * 5.0, 1.0)
         |         + 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |                    / length(text))
         |         + 0.3 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
         |       END AS quality
         |FROM t""".stripMargin,

    "x5_bpe_tokens" ->
      """SELECT doc_id,
        |       CAST(coalesce(list_sum(list_transform(
        |         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'),
        |         m -> CAST(ceil(length(m)/4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,

    "x9_hash_split" ->
      s"""SELECT doc_id,
         |       CASE WHEN ($fpSql) % 1000 < 100 THEN 'eval' ELSE 'train' END AS split
         |FROM documents""".stripMargin,

    "x9_stratified_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ($fpSql) % 1000 AS b FROM documents
         |) WHERE b < CASE WHEN lang = 'en' THEN 500
         |                 WHEN lang = 'es' THEN 200
         |                 ELSE 100 END""".stripMargin,

    "x5_redact_pii" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         text || ' contact u' || CAST(doc_id AS VARCHAR)
        |              || '@mail.example or call 55119'
        |              || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |           '<EMAIL>', 'g'),
        |         '[0-9]{7,}', '<NUM>', 'g') AS clean
        |FROM dirty""".stripMargin,

    // NULLS LAST pinned explicitly (DuckDB's ASC default, and what the
    // Spark side's null-hash sentinel produces) so the cap boundary is
    // engine-independent even if documents.text were ever null
    "x9_per_source_cap" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY ($fpSql) NULLS LAST, doc_id) AS rn
         |  FROM documents
         |) WHERE rn <= 40""".stripMargin,

    "x13_dataset_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id + 1000000 < 1000100
        |)
        |SELECT COALESCE(d.doc_id, v2.doc_id) AS doc_id,
        |       CASE WHEN d.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN d.text IS DISTINCT FROM v2.text THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM documents d FULL JOIN v2 ON d.doc_id = v2.doc_id""".stripMargin,

    "x12_profile" ->
      """WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |         CAST(COUNT(doc_id) AS BIGINT) AS nn_doc_id,
        |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd_doc_id,
        |         CAST(COUNT(text) AS BIGINT) AS nn_text,
        |         CAST(COUNT(DISTINCT text) AS BIGINT) AS nd_text,
        |         CAST(COUNT(lang) AS BIGINT) AS nn_lang,
        |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS nd_lang,
        |         CAST(COUNT(source) AS BIGINT) AS nn_source,
        |         CAST(COUNT(DISTINCT source) AS BIGINT) AS nd_source,
        |         CAST(COUNT(n_chars) AS BIGINT) AS nn_n_chars,
        |         CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS nd_n_chars
        |  FROM documents
        |)
        |SELECT 'doc_id' AS column_name, n_rows, n_rows - nn_doc_id AS n_null,
        |       nd_doc_id AS n_distinct FROM a
        |UNION ALL SELECT 'text', n_rows, n_rows - nn_text, nd_text FROM a
        |UNION ALL SELECT 'lang', n_rows, n_rows - nn_lang, nd_lang FROM a
        |UNION ALL SELECT 'source', n_rows, n_rows - nn_source, nd_source FROM a
        |UNION ALL SELECT 'n_chars', n_rows, n_rows - nn_n_chars, nd_n_chars FROM a""".stripMargin,

    "o6_latest_per_key" ->
      """SELECT user_id, event_id, ts_us, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |         event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC)
        |           AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,

    "x10_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
        |              ELSE CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |         END AS n_tok
        |  FROM documents
        |),
        |p AS (
        |  SELECT doc_id % 8 AS shard, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tok AS pre
        |  FROM t
        |)
        |SELECT shard, CAST(FLOOR(pre / 512) AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM p GROUP BY 1, 2""".stripMargin,

    "x11_decontaminate" ->
      s"""WITH all_docs AS ($docsWithPlantedSql),
         |ev AS (
         |  SELECT DISTINCT unnest(list_distinct(${shinglesSql("tk")})) AS sh
         |  FROM (SELECT $toksSql AS tk FROM documents WHERE doc_id % 50 = 0)
         |),
         |ds AS (
         |  SELECT doc_id, unnest(list_distinct(${shinglesSql("tk")})) AS sh
         |  FROM (SELECT doc_id, $toksSql AS tk FROM all_docs)
         |),
         |bad AS (
         |  SELECT doc_id FROM ds JOIN ev USING (sh)
         |  GROUP BY doc_id HAVING COUNT(*) >= 5
         |)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_len FROM all_docs
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    "x6_event_times" ->
      """SELECT event_type,
        |       epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_us,
        |       epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "x8_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |         CASE WHEN ts_us - LAG(ts_us, 1) OVER w > 3600000000
        |                OR LAG(ts_us, 1) OVER w IS NULL
        |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
        |         END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |),
        |sess AS (
        |  SELECT user_id, event_id, ts_us,
        |         CAST(SUM(new_session) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MAX(ts_us) - MIN(ts_us) AS duration_us
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "x7_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(n_chars % 64 + 1 AS INT) AS width,
        |       CAST(n_chars % 48 + 1 AS INT) AS height,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents""".stripMargin,

    "x7_media_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |         CAST(list_sum(list_transform(range(1, length(text)+1),
        |                                      i -> ascii(text[i]))) AS DOUBLE)
        |           / length(text) END AS mean_byte,
        |       CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
        |         list_reduce(list_transform(range(1, least(length(text), 16)+1),
        |                                    i -> CAST(ascii(text[i]) AS BIGINT)),
        |                     (acc, c) -> (acc*31 + c) % 2147483647)
        |       END AS head_hash
        |FROM documents""".stripMargin,

    // width/height/format derived arithmetically — matching the Spark side
    // proves the bytes round-tripped through the real parser
    "x7_decode_real" ->
      """SELECT doc_id AS media_id,
        |       CAST(CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 54
        |            ELSE 39 END AS BIGINT) AS n_bytes,
        |       CAST(doc_id % 64 + 1 AS INT) AS width,
        |       CAST(doc_id % 48 + 1 AS INT) AS height,
        |       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |            ELSE 'jpeg' END AS format
        |FROM documents""".stripMargin,

    "x7_audio_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 2 + 1 AS INT) AS channels,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |            ELSE 16000 END AS INT) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS INT)
        |         AS bits_per_sample
        |FROM documents""".stripMargin,

    "x7_video_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |            ELSE 90000 END AS INT) AS timescale,
        |       CAST((doc_id % 1000 + 1) * 60 AS BIGINT) AS duration_ticks,
        |       CAST((doc_id % 1000 + 1) * 60 * 1000 //
        |            CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |            ELSE 90000 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "x5_term_freq" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents
        |) WHERE length(term) >= 3
        |GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin,

    "j4_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,

    "j5_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin,

    "j2_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |),
        |pur AS (
        |  SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us
        |  FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT e.event_id, e.user_id, e.ts_us, p.purchase_id, p.purchase_ts_us
        |FROM ev e ASOF LEFT JOIN pur p
        |  ON e.user_id = p.user_id AND e.ts_us >= p.purchase_ts_us""".stripMargin,

    "j2c_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |),
        |pur AS (
        |  SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us
        |  FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT e.event_id, e.user_id, e.ts_us, p.purchase_id, p.purchase_ts_us
        |FROM ev e ASOF LEFT JOIN pur p
        |  ON e.user_id = p.user_id AND e.ts_us <= p.purchase_ts_us""".stripMargin,

    "j2b_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |),
        |pur AS (
        |  SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us
        |  FROM ev WHERE event_type = 'purchase'
        |),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts_us, p.purchase_id, p.purchase_ts_us
        |  FROM ev e ASOF LEFT JOIN pur p
        |    ON e.user_id = p.user_id AND e.ts_us >= p.purchase_ts_us
        |)
        |SELECT event_id, user_id, ts_us,
        |       CASE WHEN ts_us - purchase_ts_us <= 21600000000
        |            THEN purchase_id END AS purchase_id,
        |       CASE WHEN ts_us - purchase_ts_us <= 21600000000
        |            THEN purchase_ts_us END AS purchase_ts_us
        |FROM j""".stripMargin,

    // range(0, 100000) is a constant over-generation (DuckDB's range()
    // cannot take subquery bounds); the WHERE trims it to the real span.
    "j3_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
        |),
        |bounds AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
        |iv AS (
        |  SELECT i AS interval_id, lo + i*3600000000 AS start_us,
        |         lo + i*3600000000 + 7200000000 AS end_us
        |  FROM range(0, 100000) t(i), bounds
        |  WHERE i <= (hi - lo) // 3600000000
        |)
        |SELECT iv.interval_id, iv.start_us, CAST(COUNT(ev.event_id) AS BIGINT) AS n_events
        |FROM iv LEFT JOIN ev
        |  ON ev.ts_us >= iv.start_us AND ev.ts_us < iv.end_us
        |GROUP BY 1, 2""".stripMargin
  )
}
