package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.MarketEtl

/** Pipeline configuration (F1): the processing date is an injected
  * parameter, never wall-clock — the reference's `datetime.now()`
  * (ref `etl/etl_job.py:37`) makes runs non-reproducible (SURVEY §7.4.3).
  */
final case class PipelineConfig(
    rawDir: String,
    refinedDir: String,
    processingDate: String,
    window: Int = 7,
    refinedTable: Option[String] = None)

/** The reference's flagship batch path (SURVEY §3.2) as one Spark job:
  * Hive-partitioned raw scan (S2) → schema normalization (P1–P4, P6) →
  * transform A+B+C → Hive-partitioned refined sink (S5) → catalog
  * registration (S6).
  *
  * Deliberate divergence from the reference, documented per SURVEY §7.4.2:
  * the reference writes ALL rows under the FIRST row's asset partition
  * (ref `etl/etl_job.py:147-152`); `writeRefined` uses true
  * `write.partitionBy("ativo","data")`, so every asset lands in its own
  * partition. P5 (drop partition cols before write, ref
  * `etl/etl_job.py:154-156`) is subsumed: Spark drops partition columns
  * from the file payload automatically.
  *
  * Scale notes (100 TB): the raw scan is a partition-discovering parquet
  * read — predicate pushdown on ano/mes/dia prunes at the file listing;
  * the only shuffle in `refine` is one hash exchange on the asset key
  * shared by window + aggregate; the refined write is partitioned on
  * (ativo, data), so downstream per-asset queries partition-prune.
  */
object BatchPipeline {

  /** Canonical raw bar schema (SURVEY §1.3) — declared, never inferred. */
  val rawSchema: StructType = StructType(Seq(
    StructField("Date", TimestampType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Close", DoubleType),
    StructField("Volume", LongType),
    StructField("ativo", StringType)))

  /** Raw schema + the Hive partition keys of the raw/ layout. Declared as
    * strings so zero-padded `mes=01` survives (partition-type inference
    * would turn it into the int 1).
    */
  val rawSchemaWithPartitions: StructType =
    rawSchema
      .add(StructField("ano", StringType))
      .add(StructField("mes", StringType))
      .add(StructField("dia", StringType))

  /** S4: land bars under `raw/ano=YYYY/mes=MM/dia=DD/` — the reference
    * scraper's layout (ref `scraper/scraper_upload.py:41-47`), via real
    * `partitionBy` instead of hand-built key strings.
    *
    * The frame is hash-repartitioned on the partition keys first so each
    * Hive partition is written by exactly one task → one file per
    * `ano=/mes=/dia=` dir instead of one per (task × dir). This is the
    * standard small-files guard: without it, N upstream tasks × P dirs
    * can emit N×P files (observed 2× here, and unbounded at cluster
    * scale). If a single day ever exceeds one task's write throughput,
    * add a salt column to the repartition keys — not needed for daily
    * OHLCV bars.
    */
  def writeRaw(df: DataFrame, rawDir: String,
               mode: SaveMode = SaveMode.Append): Unit =
    df.withColumn("ano", date_format(col("Date"), "yyyy"))
      .withColumn("mes", date_format(col("Date"), "MM"))
      .withColumn("dia", date_format(col("Date"), "dd"))
      .repartition(col("ano"), col("mes"), col("dia"))
      .write.partitionBy("ano", "mes", "dia").mode(mode).parquet(rawDir)

  /** S2: partition-discovering scan of raw/ (ref `etl/etl_job.py:72-98`
    * lists and downloads serially; Spark lists recursively and reads in
    * parallel, and the ano/mes/dia keys become prunable columns instead of
    * being discarded).
    */
  def readRaw(spark: SparkSession, rawDir: String): DataFrame =
    spark.read.schema(rawSchemaWithPartitions).parquet(rawDir)

  /** Normalization + transform A+B+C on a raw frame: duplicate-column
    * coalesce (P3) → renames (P2) → timestamp cast (P6) → rolling mean W1 →
    * aggregate A1 → broadcast enrichment join J1. One lazy plan.
    * Ordering within (ativo, date) ties is made total with close_price
    * (daily bars are unique per (ativo, date) in the reference's data).
    */
  def refine(raw: DataFrame, window: Int = 7): DataFrame = {
    val std = MarketEtl.castDate(
      MarketEtl.renameStandard(MarketEtl.coalesceDuplicateColumns(raw)))
    val bars = std.select("ativo", "date", "close_price", "trade_volume")
    MarketEtl.transform(bars, "ativo",
      Seq(col("date"), col("close_price")), "close_price", "trade_volume",
      window)
  }

  /** S5: refined sink — true Hive partitioning on (ativo, data). Same
    * one-file-per-partition repartition as `writeRaw`, plus date
    * clustering within each file: parquet row-group min/max stats on
    * `date` then prune date-range scans without reading the pages.
    */
  def writeRefined(df: DataFrame, refinedDir: String, processingDate: String,
                   mode: SaveMode = SaveMode.Overwrite,
                   dynamicOverwrite: Boolean = false): Unit = {
    val w = df.withColumn("data", lit(processingDate))
      .repartition(col("ativo"), col("data"))
      .sortWithinPartitions(col("date"))
      .write.partitionBy("ativo", "data").mode(mode)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(refinedDir)
  }

  /** S6: catalog registration — external parquet table over refined/ plus
    * partition recovery, replacing the reference's Glue Crawler
    * (ref `scripts/bootstrap_aws.sh:51-64`). Idempotent: re-registering
    * refreshes the table.
    */
  def registerRefined(spark: SparkSession, table: String,
                      refinedDir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.catalog.createTable(table, refinedDir, "parquet")
    spark.catalog.recoverPartitions(table)
    autoAnalyzeSmall(spark, table)
  }

  /** Conf: tables at or under this many bytes get automatic column
    * statistics at registration (see [[autoAnalyzeSmall]]); 0 disables. */
  val AutoAnalyzeBytesConf = "spark.graft.autoAnalyze.maxBytes"

  /** Auto-ANALYZE for small tables at registration (VERDICT r11 missing
    * #2 — the runtime-ndv path for [[graft.plans.KeyedWindowRule]]): a
    * plain `PARTITION BY n_name` over an UNANALYZED 25-value catalog
    * column has no ndv evidence, so the keyed-window rewrite refuses and
    * the query rides ndv tasks. Dimension tables are exactly where that
    * bites and exactly where stats are cheap: if the table's size (from
    * a NOSCAN stats pass — file-footer metadata, no data read) is at or
    * under `spark.graft.autoAnalyze.maxBytes` (default 64 MB — the
    * broadcast-join class), compute column statistics for every
    * stats-capable non-partition column. The rule reads `distinctCount`
    * directly off the leaf relation's CatalogTable — no CBO flag needed
    * — so SQL users get the keyed re-plan with zero setup. Large fact
    * tables never pay a stats scan; absent stats still refuse, exactly
    * as before.
    */
  def autoAnalyzeSmall(spark: SparkSession, table: String): Unit = {
    val maxBytes =
      spark.conf.get(AutoAnalyzeBytesConf, (64L << 20).toString).toLong
    if (maxBytes <= 0) return
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS NOSCAN")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val size = meta.stats.map(_.sizeInBytes).getOrElse(BigInt(Long.MaxValue))
    if (size <= maxBytes) {
      import org.apache.spark.sql.types._
      val analyzable = meta.schema.fields.iterator
        .filter(f => !meta.partitionColumnNames.contains(f.name))
        .filter(_.dataType match {
          case _: NumericType | StringType | BooleanType | DateType |
               TimestampType | TimestampNTZType | BinaryType => true
          case _ => false
        })
        .map(f => s"`${f.name}`").mkString(", ")
      if (analyzable.nonEmpty)
        spark.sql(
          s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS $analyzable")
    }
  }

  /** T4-equivalent for batch: refresh catalog state after a write. */
  def refreshTable(spark: SparkSession, table: String): Unit = {
    spark.catalog.refreshTable(table)
    spark.catalog.recoverPartitions(table)
  }

  /** The full batch run: read raw → refine → partitioned refined write →
    * optional catalog registration. Returns the refined frame re-read from
    * disk (what downstream consumers see).
    */
  def run(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val refined = refine(readRaw(spark, cfg.rawDir), cfg.window)
    // pre-write plan gate (r13): the refined plan must be free of the
    // scale traps PlanLint flags as errors (cartesian products, one-task
    // windows) before a single byte is written — the engine holds its
    // own submissions to the standard the test suite holds the query
    // library to. Zero jobs; opt out with spark.graft.planLint.gate.
    if (spark.conf.get(graft.tools.PlanLint.GateConf, "true").toBoolean) {
      graft.tools.PlanLint.gate(refined)
    }
    // one-shot re-plan on a keyed-window budget trip (VERDICT r15 #3):
    // the pipeline completes on Spark's stock window plan instead of
    // failing the job; raw-exec users keep the loud remedy-bearing abort
    Replan.withKeyedWindowFallback(spark) {
      writeRefined(refined, cfg.refinedDir, cfg.processingDate)
    }
    cfg.refinedTable.foreach(t => registerRefined(spark, t, cfg.refinedDir))
    spark.read.parquet(cfg.refinedDir)
  }
}
