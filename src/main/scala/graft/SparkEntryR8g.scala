package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.text.TextOps

/** Round-8 (continued, part g) query entries: model-evaluation
  * diagnostics for the engine's own learned/heuristic components — the
  * decile lift table for the trained quality classifier and the
  * confusion matrix for the language-ID heuristic. A pipeline that
  * trains and serves models (x36b, x5) needs oracle-grade evaluation of
  * them just as much as of its data. §2.12 extension operators;
  * integer-exact rank/count arithmetic throughout.
  */
object SparkEntryR8g {

  // x36b's training hyper-parameters (SparkEntryR8.scala) — the lift
  // table must evaluate the SAME persisted model and teacher
  private val Buckets = 1024
  private val Thresh = 60
  private val Rounds = 20
  private val EtaDen = 20000L
  private val BiasCnt = 10L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- X98: classifier decile lift table ----
    //
    // The model-evaluation report x36b's training loop stops short of:
    // rank every doc by the TRAINED classifier's integer score, cut the
    // ranking into 10 rank-arithmetic deciles (the x94 discipline —
    // identical bucketing in every engine), and report the teacher-
    // positive rate per decile. A well-trained ranker concentrates
    // positives in decile 1; the per-mill rates are the lift curve.
    // The global ranking over the scored corpus comes from GlobalRank's
    // range-partition + per-partition-offset pass (VERDICT r8 #1) —
    // identical ranks to an unpartitioned row_number window with no
    // single-task sort; score serving reuses the persisted weights and
    // compiled kernel.
    "x98_classifier_lift" -> ((s, d) => {
      import org.apache.spark.sql.graft.ColumnBridge.{column => ccol, expression => cexp}
      import graft.expressions.HashedBagWeightedScore
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val w = graft.ml.HashedLogit.ensureWeights(s, docs, "doc_id", "text",
        Buckets, Thresh, Rounds, EtaDen, BiasCnt,
        Seq(d, Tables.stamp(s, d, "documents")))
      val scored = docs.select(col("doc_id"),
        ccol(HashedBagWeightedScore(cexp(TextOps.tokens(col("text"))), w,
          BiasCnt)).as("score"),
        when(TextOps.tokenCount(col("text")) >= Thresh, 1L).otherwise(0L)
          .as("y"))
      graft.stats.GlobalRank.withRowNumber(scored,
          Seq(col("score").desc, col("doc_id")), "rn")
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
        .select(expr("1 + (rn - 1) * 10 div n").as("decile"),
          col("y"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          expr("n_pos * 1000 div n_docs").as("pos_permill"))
        .orderBy("decile")
    }),

    // ---- X99: language-ID confusion matrix ----
    //
    // Closes the eval loop on the x5 LID heuristic: predicted vs stored
    // language, as the full confusion matrix plus per-true-language
    // recall in per-mill. One partial-agg shuffle to a \|langs\|² frame;
    // the per-truth totals attach by broadcast.
    "x99_langid_confusion" -> ((s, d) => {
      val pred = Tables.documents(s, d).select(col("lang"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
      val cells = pred.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy("lang").agg(sum("n").as("n_true"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          when(col("lang") === col("lang_pred"),
            expr("n * 1000 div n_true")).otherwise(lit(null))
            .as("recall_permill"))
        .orderBy("lang", "lang_pred")
    }))

  def oracleSql: Map[String, String] = Map(
    "x98_classifier_lift" -> {
      val scoredSql = graft.ml.HashedLogit.oracleSql(
        Buckets, Thresh, Rounds, EtaDen, BiasCnt)
      s"""WITH scored AS ($scoredSql),
         |tks AS (SELECT doc_id,
         |               CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |                    ELSE CAST(len(string_split_regex(trim(text),
         |                           '\\s+')) AS BIGINT)
         |               END AS ntok
         |        FROM documents),
         |lb AS (SELECT s.doc_id, s.score,
         |              CASE WHEN t.ntok >= $Thresh THEN 1 ELSE 0 END AS y
         |       FROM scored s JOIN tks t USING (doc_id)),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
         |                 AS rn,
         |              count(*) OVER () AS n
         |       FROM lb)
         |SELECT CAST(1 + (rn - 1) * 10 // n AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(y) AS BIGINT) AS n_pos,
         |       CAST(SUM(y) * 1000 // count(*) AS BIGINT) AS pos_permill
         |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "x99_langid_confusion" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |         len(list_filter(tk, x -> x IN (${SparkEntryExt.enStopSql})))
         |           AS en,
         |         len(list_filter(tk, x -> x IN (${SparkEntryExt.esStopSql})))
         |           AS es,
         |         len(list_filter(tk, x -> x IN (${SparkEntryExt.deStopSql})))
         |           AS de
         |  FROM (SELECT doc_id, lang, ${SparkEntryExt.toksSql} AS tk
         |        FROM documents)),
         |p AS (SELECT lang,
         |             CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
         |                  WHEN es >= de AND es > 0 THEN 'es'
         |                  WHEN de > 0 THEN 'de'
         |                  ELSE 'und' END AS lang_pred
         |      FROM c),
         |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |          FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
         |        FROM cells GROUP BY 1)
         |SELECT c.lang, c.lang_pred, c.n,
         |       CASE WHEN c.lang = c.lang_pred
         |            THEN CAST(c.n * 1000 // t.n_true AS BIGINT)
         |       END AS recall_permill
         |FROM cells c JOIN tot t USING (lang)
         |ORDER BY c.lang, c.lang_pred""".stripMargin)
}
