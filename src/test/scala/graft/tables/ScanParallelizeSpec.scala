package graft.tables

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The r16 scan-parallelism heal (`Tables.table` with [[Scan.Parallel]]):
  * a fixture table written as one parquet file with ONE row group is
  * scanned by a single task whatever the core count (a row group is the
  * atomic scan unit), so the loader hash-repartitions on the table's key
  * — gated on the MEASURED file layout, so any production-shaped table
  * (files or row groups >= cores) keeps the stock scan and the exchange
  * never plans. Loaders default to [[Scan.Stock]]; the query building the
  * DataFrame opts in per load.
  */
class ScanParallelizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def repartitions(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression => r
    }

  test("single-row-group file above the row floor: heal fires on the key") {
    // sf0.01 lineitem: one file, one row group, 60k rows >= 64*4
    assert(repartitions(Tables.lineitem(spark, TestSpark.Sf001)).isEmpty,
      "the default loader is the stock scan")
    val reps = repartitions(
      Tables.lineitem(spark, TestSpark.Sf001, Scan.Parallel))
    assert(reps.size === 1, "expected the heal's one repartition")
    assert(reps.head.partitionExpressions.map(_.sql).mkString(",")
      .contains("l_orderkey"))
    assert(reps.head.optNumPartitions
      === Some(spark.sparkContext.defaultParallelism))
  }

  test("results are identical to the stock scan (modulo row order)") {
    def summary(scan: Scan) =
      Tables.lineitem(spark, TestSpark.Sf001, scan)
        .groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
        .orderBy("l_returnflag").collect().toSeq
    assert(summary(Scan.Parallel) === summary(Scan.Stock))
  }

  test("tiny table stays stock (row floor)") {
    // supplier at sf0.001 is far below 64 rows/core * 4 cores
    assert(repartitions(
      Tables.supplier(spark, TestSpark.Sf0001, Scan.Parallel)).isEmpty)
    // unkeyed tables never repartition
    assert(repartitions(
      Tables.nation(spark, TestSpark.Sf001, Scan.Parallel)).isEmpty)
  }

  test("production-shaped layout (files >= cores) stays stock") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_scanpar").toString
    // a "lineitem" written as 8 files: file-level parallelism already
    // covers the 4 test cores, so the heal must not add an exchange
    spark.range(0, 4096).selectExpr(
        "id AS l_orderkey", "CAST(id % 7 AS INT) AS l_linenumber",
        "CAST(id AS DOUBLE) AS l_extendedprice")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$root/lineitem.parquet")
    // table() is the heal layer (the lineitem loader also measures
    // uniqueness evidence, which this 3-column stand-in can't serve)
    assert(repartitions(
      Tables.table(spark, root, "lineitem", Scan.Parallel)).isEmpty)
  }
}
