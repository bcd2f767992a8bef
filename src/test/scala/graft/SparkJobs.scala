package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. The calling thread carries a
  * unique local property for the block's duration. Spark copies local
  * properties into every job a thread submits and into every thread it
  * starts, so the count includes the jobs of a streaming query started in
  * the block: its execution thread replaces the job group with the
  * query's run id, but keeps the other properties it inherited.
  */
object SparkJobs {
  private val ScopeKey = "graft.test.jobScope"

  def count(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val scope = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ScopeKey) == scope))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(ScopeKey, scope)
    try {
      body
      ListenerBusDrain.drain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(ScopeKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
