package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkContext}
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
  private val ScopeKey = "graft.jobScope"

  /** One listener, registered until `close`, counting the jobs of each
    * scope `in` opens: the bench registers one per run. */
  final class Counter(sc: SparkContext) {
    private val counts = new ConcurrentHashMap[String, AtomicInteger]
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(counts.get(p.getProperty(ScopeKey, ""))))
          .foreach(_.incrementAndGet())
    }
    sc.addSparkListener(listener)

    /** Runs `body` in a fresh scope: its value, and the scope for `jobs`.
      * A scope whose body throws is dropped. */
    def in[A](body: => A): (A, String) = {
      val scope = java.util.UUID.randomUUID().toString
      counts.put(scope, new AtomicInteger)
      sc.setLocalProperty(ScopeKey, scope)
      try (body, scope)
      catch { case e: Throwable => counts.remove(scope); throw e }
      finally sc.setLocalProperty(ScopeKey, null)
    }

    /** The jobs launched in `scope`. Drains the listener bus first, so
      * call it after any timed span, never inside one. */
    def jobs(scope: String): Int = {
      ListenerBusDrain.drain(sc)
      Option(counts.remove(scope)).fold(0)(_.get)
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }

  def count(spark: SparkSession)(body: => Any): Int = {
    val counter = new Counter(spark.sparkContext)
    try counter.jobs(counter.in(body)._2)
    finally counter.close()
  }
}
