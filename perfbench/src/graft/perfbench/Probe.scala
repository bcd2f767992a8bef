package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one phase of one operation. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; inputRows += o.inputRows
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** What the listeners saw during one operation: counts per phase, file
  * writes (output path, seconds), bytes of the files its scans read (the
  * scan nodes' `filesSize` metric; the task input metrics under-count on the
  * local file system) and summed streaming trigger durations (ms per
  * `StreamingQueryProgress.durationMs` key). */
final case class Seen(phases: Map[String, Counts], writes: Seq[(String, Double)],
                      scanBytes: Long, triggers: Map[String, Long]) {
  def phase(p: String): Counts = phases.getOrElse(p, new Counts)
}

/** One timed interval: an operation (the root, parent -1) or a layer call
  * inside it. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** The benchmark's tracing: spans recorded around the calls into each
  * layer, and Spark's listeners (a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`) counting what
  * the engine did.
  *
  * A job is attributed to the phase named by the `perfbench.phase` local
  * property of the thread that submitted it. Spark copies local properties
  * into the threads a query starts (a streaming query's thread, broadcast
  * builders), so this covers the jobs of a cycle too; a job without the
  * property lands in the phase `other`. Stages follow their job. Writes and
  * trigger progress carry no phase: the loop is closed and `take` drains the
  * listener bus at the end of each operation, so everything seen since the
  * previous `take` belongs to the operation. Spans stay in memory until the
  * run writes them out.
  */
final class Probe(spark: SparkSession) {
  private val PhaseKey = "perfbench.phase"
  @volatile var enabled: Boolean = false
  private val byPhase = new ConcurrentHashMap[String, Counts]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val writes = mutable.ArrayBuffer.empty[(String, Double)]
  private val scanBytes = new java.util.concurrent.atomic.AtomicLong
  private val triggers = mutable.Map.empty[String, Long]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Int] = Nil

  private def add(phase: String)(f: Counts => Unit): Unit = {
    val c = byPhase.computeIfAbsent(phase, _ => new Counts)
    c.synchronized(f(c))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
        .getOrElse("other")
      e.stageIds.foreach(id => stagePhase.put(id, p))
      add(p)(_.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val info = e.stageInfo
      val m = info.taskMetrics
      add(Option(stagePhase.remove(info.stageId)).getOrElse("other")) { c =>
        c.stages += 1
        c.tasks += info.numTasks
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.inputRows += m.inputMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        qe.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.foreach(p => writes.synchronized(writes += (p -> durationNs / 1e9)))
        scanBytes.addAndGet(PerfBench.planNodes(qe.executedPlan)
          .flatMap(_.metrics.get("filesSize")).map(_.value).sum)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val triggerListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) triggers.synchronized {
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          triggers(k) = triggers.getOrElse(k, 0L) + v.longValue
        }
      }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(writeListener)
  spark.streams.addListener(triggerListener)

  /** Runs `f` as span `name` of operation `op`, a child of the innermost
    * open span, with the jobs it submits tagged `op/name`. Returns the
    * result and the span's duration in seconds. */
  def span[A](op: Int, name: String)(f: => A): (A, Double) = {
    val id = spans.size + open.size
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, s"$op/$name")
    open = id :: open
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val a = f
      t1 = System.nanoTime()
      (a, (t1 - t0) / 1e9)
    } finally {
      if (t1 == t0) t1 = System.nanoTime()
      open = open.tail
      spans += Span(id, parent, op, name, t0, t1)
      sc.setLocalProperty(PhaseKey, prev)
    }
  }

  /** Waits for the listener bus, then removes and returns what operation
    * `op` caused. Phases are keyed by span name. */
  def take(op: Int): Seen = {
    PerfBenchBus.drain(spark.sparkContext)
    val prefix = s"$op/"
    val phases = byPhase.keySet.asScala.toList.collect {
      case k if k.startsWith(prefix) || k == "other" => k.stripPrefix(prefix) -> byPhase.remove(k)
    }.toMap
    val w = writes.synchronized { val x = writes.toList; writes.clear(); x }
    val t = triggers.synchronized { val x = triggers.toMap; triggers.clear(); x }
    Seen(phases, w, scanBytes.getAndSet(0L), t)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(writeListener)
    spark.streams.removeListener(triggerListener)
  }
}
