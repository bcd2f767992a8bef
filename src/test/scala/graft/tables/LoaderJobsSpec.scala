package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Building a DataFrame from a fixture table launches no Spark job once
  * the file has been seen: its schema is inferred once per file version
  * and handed to the reader, and its evidence hints and scan layout are
  * memoised too. Jobs are counted by a listener, filtered to a job group
  * set on the loading thread.
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

  /** Spark jobs `body` launches from this thread. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"loader-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "loader job count")
    try {
      body
      ListenerBusDrain.drain(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every loader launches no job on a warm session") {
    val scans = Seq(Scan.Stock, Scan.Parallel)
    for ((_, load) <- loaders; scan <- scans) load(spark, TestSpark.Sf001, scan)
    for ((name, load) <- loaders; scan <- scans)
      assert(jobsOf(load(spark, TestSpark.Sf001, scan)) === 0, s"$name $scan")
  }

  test("a first load of a fresh copy launches at most one job") {
    val dir = Files.createTempDirectory("graft_loader_jobs")
    for ((name, _) <- loaders) {
      Files.copy(Paths.get(TestSpark.Sf0001, s"$name.parquet"),
        dir.resolve(s"$name.parquet"))
      val first = jobsOf(Tables.table(spark, dir.toString, name, Scan.Parallel))
      assert(first <= 1, name)
      assert(jobsOf(Tables.table(spark, dir.toString, name)) === 0, name)
    }
  }
}
