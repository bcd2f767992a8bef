package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tables.Tables

/** Pandas-parity unit tests for the core transform (SURVEY §5.2): golden
  * values computed by hand from tiny literal frames.
  */
class MarketEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("W1 rolling mean honors min_periods=n (null until frame full)") {
    // one asset, 9 days, close = 1..9 → mm_3d defined from row 3 on
    val df = (1 to 9).map(i => ("A", i, i.toDouble)).toDF("ativo", "d", "close")
    val out = MarketEtl.rollingMean(df, Seq("ativo"), Seq(col("d")), "close", 3, "mm")
      .orderBy("d").select("mm").collect().map(r => Option(r.get(0)))
    assert(out.take(2).forall(_.isEmpty), "first n-1 rows must be null")
    assert(out.drop(2) === Seq(Some(2.0), Some(3.0), Some(4.0), Some(5.0),
      Some(6.0), Some(7.0), Some(8.0)).map(o => o: Option[Any]))
  }

  test("A3 approx_percentile tracks exact percentile (mergeable scale path)") {
    val df = (1 to 1000).map(i => ("A", i.toDouble)).toDF("k", "v")
    val r = df.agg(
      percentile(col("v"), lit(0.5)).as("exact"),
      approx_percentile(col("v"), lit(0.5), lit(10000)).as("approx")).head()
    // accuracy 10000 on 1000 rows → sketch is lossless
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 1.0)
  }

  test("W1 rolling mean is per-partition (warm-up restarts per asset)") {
    val df = Seq(("A", 1, 10.0), ("A", 2, 20.0), ("B", 1, 30.0), ("B", 2, 50.0))
      .toDF("ativo", "d", "close")
    val out = MarketEtl.rollingMean(df, Seq("ativo"), Seq(col("d")), "close", 2, "mm")
      .orderBy("ativo", "d").select("mm").collect().map(r => Option(r.get(0)))
    assert(out === Seq(None, Some(15.0), None, Some(40.0)))
  }

  test("P3 coalesce takes first non-null in column-appearance order") {
    val df = Seq((Some(1.0), 2.0, 3.0), (None, 5.0, 6.0))
      .toDF("v", "w", "x")
      .select(col("v"), col("w").as("v"), col("x"))
    val out = MarketEtl.coalesceDuplicateColumns(df)
    assert(out.columns.toSeq === Seq("v", "x"))
    assert(out.orderBy("x").collect().map(_.getDouble(0)).toSeq === Seq(1.0, 5.0))
  }

  test("P1 flatten keeps field name, preserves single ticker as data") {
    val df = Seq((1.0, 2L)).toDF("Close|VALE3", "Volume|VALE3")
    val out = MarketEtl.flattenFieldTicker(df, "|", keepTickerAs = Some("ticker"))
    assert(out.columns.toSeq === Seq("Close", "Volume", "ticker"))
    assert(out.head() === Row(1.0, 2L, "VALE3"))
  }

  test("P1 flatten survives trailing separator (ADVICE r1 crash case)") {
    val df = Seq((1.0, 2.0)).toDF("Close|", "Open")
    val out = MarketEtl.flattenFieldTicker(df, "|")
    assert(out.columns.toSeq === Seq("Close", "Open"))
  }

  test("P1 flatten rejects multi-ticker input when keepTickerAs is set") {
    val df = Seq((1.0, 2.0)).toDF("Close|A", "Close|B")
    assertThrows[IllegalArgumentException] {
      MarketEtl.flattenFieldTicker(df, "|", keepTickerAs = Some("t"))
    }
  }

  test("P4 default asset only fills when absent") {
    val without = Seq(1).toDF("x")
    assert(MarketEtl.withDefaultAsset(without, "V").select("ativo")
      .head().getString(0) === "V")
    val withCol = Seq((1, "W")).toDF("x", "ativo")
    assert(MarketEtl.withDefaultAsset(withCol, "V").select("ativo")
      .head().getString(0) === "W")
  }

  test("J1 enrichment preserves every detail row (left join)") {
    val detail = Seq(("A", 1.0), ("A", 2.0), ("C", 9.0)).toDF("ativo", "close_price")
    val agg = MarketEtl.assetAggregate(
      detail.withColumn("trade_volume", lit(1.0)))
    val out = MarketEtl.enrich(detail, agg)
    assert(out.count() === detail.count())
    // asset with no aggregate row would still survive with nulls
    val orphan = MarketEtl.enrich(detail, agg.filter(col("ativo") =!= "C"))
    assert(orphan.count() === 3)
    assert(orphan.filter(col("ativo") === "C")
      .head().isNullAt(orphan.columns.indexOf("avg_close_price")))
  }

  test("A2 union-by-name fills missing columns with null") {
    val a = Seq((1L, 2.0)).toDF("k", "price")
    val b = Seq((3L, 4.0)).toDF("k", "qty")
    val u = a.unionByName(b, allowMissingColumns = true)
    assert(u.columns.sorted.toSeq === Seq("k", "price", "qty"))
    assert(u.filter(col("k") === 3L).head().isNullAt(u.columns.indexOf("price")))
  }

  test("w8's one-window sums equal the plain-window z exactly at sf0.001") {
    val d = TestSpark.Sf0001
    val w8 = graft.SparkEntry.queries("w8_zscore_outliers")(spark, d)
    Tables.lineitem(spark, d).createOrReplaceTempView("w8_li")
    val plain = spark.sql("""
      WITH b AS (SELECT l_returnflag AS ativo, l_shipdate AS dt,
                        l_extendedprice AS close_price,
                        l_orderkey, l_linenumber
                 FROM w8_li),
      w AS (
        SELECT ativo, l_orderkey, l_linenumber, close_price,
               COUNT(*) OVER win AS n,
               CAST(SUM(CAST(close_price AS DECIMAL(18,2))) OVER win
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(CAST(close_price AS DECIMAL(18,2))
                             * CAST(close_price AS DECIMAL(18,2))
                        AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sxx
        FROM b
        WINDOW win AS (PARTITION BY ativo
                       ORDER BY dt, l_orderkey, l_linenumber, close_price
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT ativo, l_orderkey, l_linenumber,
             ROUND(CASE WHEN n = 7
                         AND (7.0D * sxx - sx * sx) / (7.0D * 6.0D) > 0
                        THEN (close_price - sx / 7.0D)
                             / sqrt((7.0D * sxx - sx * sx) / (7.0D * 6.0D))
                   END, 10) AS z
      FROM w""").withColumn("is_outlier", abs(col("z")) > 2.0)
    assert(w8.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(w8).count() === 0L)
  }
}
