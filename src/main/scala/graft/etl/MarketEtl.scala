package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core transformation library — the reference's `transform()` pipeline
  * (reference `etl/etl_job.py:101-142`) re-expressed as composable, lazy
  * `DataFrame => DataFrame` stages. One Catalyst plan end-to-end; the
  * aggregate side of the enrichment join (J1) is broadcast (one row per
  * asset), so the join adds no shuffle.
  *
  * Scale notes (100 TB): the window W1 partitions by asset — with many
  * assets Spark's hash-clustered window parallelizes across executors;
  * with few very large assets [[graft.plans.KeyedWindowRule]] re-plans it
  * on a range exchange over (asset, order), so parallelism follows the
  * data, not the asset count. A1 does partial (map-side) aggregation
  * before its exchange.
  */
object MarketEtl {

  /** P3 (`etl/etl_job.py:42-61`): coalesce duplicate column names —
    * first non-null scanning left→right, preserving first-seen order.
    * Spark plans forbid duplicate attribute names in stable plans, so this
    * lives at the schema-normalization edge: we positionally rename to
    * unique temporaries, coalesce in appearance order, and restore names.
    */
  def coalesceDuplicateColumns(df: DataFrame): DataFrame = {
    val names = df.columns.toSeq
    if (names.distinct.size == names.size) df
    else {
      val tmp = names.indices.map(i => s"__c$i")
      val renamed = df.toDF(tmp: _*)
      // appearance-ordered groups of positions per original name
      val groups = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]
      names.zipWithIndex.foreach { case (n, i) =>
        groups.update(n, groups.getOrElse(n, Vector.empty) :+ i)
      }
      val cols = groups.map { case (n, idxs) =>
        if (idxs.size == 1) col(tmp(idxs.head)).as(n)
        else coalesce(idxs.map(i => col(tmp(i))): _*).as(n)
      }.toSeq
      renamed.select(cols: _*)
    }
  }

  /** P1 (`etl/etl_job.py:66-68,105-108`): flatten `(field, ticker)`
    * two-level column names (encoded `field<sep>ticker`) to `field`.
    * Unlike the reference (which drops the ticker, making multi-ticker
    * input lossy — SURVEY §7.4.4), the ticker survives as a data column
    * when `keepTickerAs` is set and the input is single-ticker-per-file.
    */
  def flattenFieldTicker(df: DataFrame, sep: String = "|",
                         keepTickerAs: Option[String] = None): DataFrame = {
    val q = java.util.regex.Pattern.quote(sep)
    // split with limit -1 keeps trailing empties ("Close|" → ["Close", ""]),
    // and lift guards single-part names — no index-out-of-bounds on
    // malformed headers.
    val tickers = df.columns.filter(_.contains(sep))
      .map(_.split(q, -1).lift(1).getOrElse("")).distinct
    val flat = df.toDF(df.columns.map(c =>
      if (c.contains(sep)) c.split(q, -1)(0) else c): _*)
    val deduped = coalesceDuplicateColumns(flat)
    keepTickerAs match {
      case Some(name) if tickers.length == 1 =>
        deduped.withColumn(name, lit(tickers.head))
      case Some(name) if tickers.length > 1 =>
        throw new IllegalArgumentException(
          s"flattenFieldTicker: keepTickerAs=$name requires single-ticker input, " +
            s"got ${tickers.mkString(",")} — multi-ticker frames must keep the " +
            "ticker as a row value upstream (SURVEY §7.4.4)")
      case _ => deduped
    }
  }

  /** P2 (`etl/etl_job.py:111-115`): standardize raw bar column names. */
  def renameStandard(df: DataFrame): DataFrame = {
    val m = Map("Close" -> "close_price", "Volume" -> "trade_volume", "Date" -> "date")
    df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))): _*)
  }

  /** P4 (`etl/etl_job.py:120-121`): conditional schema default. */
  def withDefaultAsset(df: DataFrame, asset: String, colName: String = "ativo"): DataFrame =
    if (df.columns.contains(colName)) df else df.withColumn(colName, lit(asset))

  /** P6 (`etl/etl_job.py:124`): timestamp cast. */
  def castDate(df: DataFrame, c: String = "date"): DataFrame =
    df.withColumn(c, to_timestamp(col(c)))

  /** W1 (`etl/etl_job.py:123-130`): n-ROW rolling mean per asset partition,
    * with pandas `min_periods = n` parity — NULL until the frame holds
    * exactly n rows. Row frame, not range: the reference counts trading
    * rows, not calendar days. `orderCols` must be a total order within each
    * partition for deterministic results.
    */
  def rollingMean(df: DataFrame, partitionCols: Seq[String], orderCols: Seq[Column],
                  valueCol: String, n: Int, out: String): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols: _*).rowsBetween(-(n - 1), 0)
    df.withColumn(out,
      when(count(col(valueCol)).over(w) === n, avg(col(valueCol)).over(w)))
  }

  /** A1 (`etl/etl_job.py:133-140`): per-asset hash aggregate — mean close,
    * total volume. Partial aggregation (map-side combine) happens before the
    * exchange; null handling matches pandas (avg/sum skip nulls).
    */
  def assetAggregate(df: DataFrame, asset: String = "ativo",
                     close: String = "close_price", vol: String = "trade_volume"): DataFrame =
    df.groupBy(col(asset)).agg(
      avg(col(close)).as("avg_close_price"),
      sum(col(vol)).as("total_volume"))

  /** J1 (`etl/etl_job.py:142`): enrich detail rows with the per-asset
    * aggregate via broadcast left join (agg side is ~1 row per asset —
    * always broadcastable regardless of fact-side scale).
    */
  def enrich(df: DataFrame, agg: DataFrame, asset: String = "ativo"): DataFrame =
    df.join(broadcast(agg), Seq(asset), "left")

  /** The full reference `transform()` (A+B+C, `README.md:50-56`) on a frame
    * already in standard shape (`ativo`, order columns, close, volume):
    * rolling mean then aggregate-enrichment, one plan. The window is the
    * plain per-asset one; with few assets [[graft.plans.KeyedWindowRule]]
    * re-plans it on a range exchange over (asset, order), so the sort
    * never serializes into one task per asset.
    */
  def transform(df: DataFrame, asset: String, orderCols: Seq[Column],
                close: String, vol: String, window: Int = 7): DataFrame =
    enrich(rollingMean(df, Seq(asset), orderCols, close, window, "mm_7d"),
      assetAggregate(df, asset, close, vol), asset)
}
