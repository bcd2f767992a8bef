package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.BatchPipeline

/** Streaming/orchestration half of the reference (T1–T5, SURVEY §2.9):
  * the S3-notification → Lambda → Glue-job → Crawler chain
  * (ref `scripts/bootstrap_aws.sh:93-106`, `lambdas/start-etl/handler.py:16-54`)
  * collapses into ONE Structured Streaming query:
  *
  *   - T1 event trigger  → file source on raw/ (new files tracked per
  *     micro-batch by the checkpoint, replacing S3 notifications);
  *   - T2 single-flight  → inherent: one StreamingQuery per checkpoint;
  *   - T3 completion     → `query.awaitTermination()` instead of a poll
  *     loop (`Trigger.AvailableNow` runs to completion and stops);
  *   - T4 post-commit    → catalog registration/refresh at the tail of
  *     `foreachBatch`;
  *   - T5 recompute      → two modes below.
  *
  * Modes:
  *   - **full refresh** (faithful to the reference): every batch re-reads
  *     ALL of raw/ and rewrites refined/ (ref `etl/etl_job.py:72-98` has no
  *     date filter). Simple, correct, O(|raw|) per trigger.
  *   - **incremental** (the 100 TB path): only assets present in the new
  *     files are recomputed — the batch increment names the touched assets,
  *     their full history is re-read (the rolling window needs it), and
  *     ONLY their refined partitions are replaced via dynamic partition
  *     overwrite. Untouched assets' partitions are left as-is, so work per
  *     trigger scales with the arrival, not the lake.
  *
  * The touched-asset set is gathered in ONE job: each task folds its
  * rows into a set of assets and the driver merges the sets as tasks
  * finish. Driver memory is bounded by the asset-dimension cardinality
  * (thousands, not rows), the same assumption the broadcast enrichment
  * join (J1) already makes. The history re-read is pinned with
  * `ativo IN (<touched>)`, which is itself the proof of the key count:
  * the adaptive window runs no stats pass and plans the keyed exec.
  */
object StreamingEtl {

  /** Start the T1–T5 query. `awaitTermination()` on the returned query (the
    * T3 contract) — with `Trigger.AvailableNow` it processes everything
    * currently in raw/ and stops; restarting later picks up only files the
    * checkpoint has not seen (T1 incremental arrival semantics).
    */
  def start(spark: SparkSession, rawDir: String, refinedDir: String,
            checkpointDir: String, processingDate: String,
            fullRefresh: Boolean = false,
            refinedTable: Option[String] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(BatchPipeline.rawSchemaWithPartitions)
      .parquet(rawDir)
    raw.writeStream
      .queryName("graft-etl")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, rawDir, refinedDir, processingDate,
          fullRefresh, refinedTable)
      }
      .start()
  }

  /** One micro-batch: recompute + partitioned write + T4 catalog refresh. */
  private[streaming] def processBatch(spark: SparkSession, batch: DataFrame,
                                      rawDir: String, refinedDir: String,
                                      processingDate: String,
                                      fullRefresh: Boolean,
                                      refinedTable: Option[String]): Unit = {
    if (fullRefresh) {
      // T5 faithful mode: the increment only signals arrival; recompute all.
      val refined = BatchPipeline.refine(BatchPipeline.readRaw(spark, rawDir))
      BatchPipeline.writeRefined(refined, refinedDir, processingDate,
        SaveMode.Overwrite)
    } else {
      // Incremental: recompute only the touched assets' partitions.
      val touched = batch.select("ativo").rdd
        .aggregate(mutable.HashSet.empty[String])(
          (set, r) => { if (!r.isNullAt(0)) set += r.getString(0); set },
          _ ++= _)
        .toSeq.sorted
      if (touched.nonEmpty) {
        val hist = BatchPipeline.readRaw(spark, rawDir)
          .filter(col("ativo").isin(touched: _*))
        BatchPipeline.writeRefined(BatchPipeline.refine(hist), refinedDir,
          processingDate, SaveMode.Overwrite, dynamicOverwrite = true)
      }
    }
    refinedTable.foreach { t =>
      // T4: post-commit catalog refresh (reference: start_crawler on
      // SUCCEEDED, handler.py:48-51).
      if (spark.catalog.tableExists(t)) BatchPipeline.refreshTable(spark, t)
      else BatchPipeline.registerRefined(spark, t, refinedDir)
    }
  }

  /** Event-time tumbling-window aggregate with a watermark — the windowed
    * stateful shape of the SIGMOD'18 Structured Streaming model (SURVEY
    * §2.9/T5): per-asset weekly mean close + total volume, state finalized
    * once the watermark passes the window end. Works on static frames too
    * (watermark is a no-op in batch).
    */
  def weeklyAssetAgg(bars: DataFrame): DataFrame =
    bars.withWatermark("date", "14 days")
      .groupBy(col("ativo"), window(col("date"), "7 days"))
      .agg(avg("close_price").as("avg_close"),
        sum("trade_volume").as("total_volume"))
      .select(col("ativo"), col("window.start").as("week_start"),
        col("avg_close"), col("total_volume"))

  /** Run one `AvailableNow` cycle to completion (T3). Returns true if the
    * query terminated without exception.
    */
  def runOnce(spark: SparkSession, rawDir: String, refinedDir: String,
              checkpointDir: String, processingDate: String,
              fullRefresh: Boolean = false,
              refinedTable: Option[String] = None): Unit = {
    val q = start(spark, rawDir, refinedDir, checkpointDir, processingDate,
      fullRefresh, refinedTable)
    q.awaitTermination()
  }
}
