package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** Building a DataFrame from a fixture table launches no Spark job once
  * the file has been seen: its schema is inferred once per file version
  * and handed to the reader, and its evidence hints and scan layout are
  * memoised too. Jobs are counted by [[graft.SparkJobs]].
  */
class LoaderJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val loaders: Seq[(String, (SparkSession, String, Scan) => DataFrame)] =
    Seq(
      "region" -> (Tables.region(_, _, _)),
      "nation" -> (Tables.nation(_, _, _)),
      "customer" -> (Tables.customer(_, _, _)),
      "supplier" -> (Tables.supplier(_, _, _)),
      "part" -> (Tables.part(_, _, _)),
      "orders" -> (Tables.orders(_, _, _)),
      "lineitem" -> (Tables.lineitem(_, _, _)),
      "events" -> (Tables.events(_, _, _)),
      "documents" -> (Tables.documents(_, _, _)),
      "embeddings" -> (Tables.embeddings(_, _, _)))

  test("every loader launches no job on a warm session") {
    val scans = Seq(Scan.Stock, Scan.Parallel)
    for ((_, load) <- loaders; scan <- scans) load(spark, TestSpark.Sf001, scan)
    for ((name, load) <- loaders; scan <- scans)
      assert(SparkJobs.count(spark)(load(spark, TestSpark.Sf001, scan)) === 0, s"$name $scan")
  }

  test("a first load of a fresh copy launches at most one job") {
    val dir = Files.createTempDirectory("graft_loader_jobs")
    for ((name, _) <- loaders) {
      Files.copy(Paths.get(TestSpark.Sf0001, s"$name.parquet"),
        dir.resolve(s"$name.parquet"))
      val first = SparkJobs.count(spark)(Tables.table(spark, dir.toString, name, Scan.Parallel))
      assert(first <= 1, name)
      assert(SparkJobs.count(spark)(Tables.table(spark, dir.toString, name)) === 0, name)
    }
  }
}
