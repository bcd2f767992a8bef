package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkJobs, TestSpark}
import graft.pipeline.BatchPipeline
import graft.plans.{KeyedBoundedAggExec, KeyedWindowRule, NoKey}

/** The job budget of one incremental arrival. The cycle re-reads the
  * touched assets' history under `ativo IN (<touched>)`, and that pin
  * proves the window key's count, so the keyed rule plans the rolling
  * mean on `KeyedBoundedAggExec` as a proven rewrite. Building `refine`
  * launches no job and registers no session hint with or without the
  * pin: the rolling mean is the plain window, and an unpinned key takes
  * the rule's optimistic arm. Each test runs on a child session, so a
  * hint written there would show and none leaks into the shared one.
  */
class ArrivalJobsSpec extends AnyFunSuite {
  private val Lake = (1 to 6).map(i => s"A$i")
  private val Touched = Lake.take(3)

  private def session(overrides: (String, String)*): SparkSession =
    GraftSession.child(TestSpark.spark, overrides: _*)

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_arrival_$name").toFile.getAbsolutePath

  /** One bar per (asset, January day), in the raw schema. */
  private def bars(s: SparkSession, assets: Seq[String], days: Range): DataFrame = {
    import s.implicits._
    (for (a <- assets; d <- days) yield {
      val v = 100.0 + assets.indexOf(a) * 10 + d
      (Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), v, v + 1, v - 1, v,
        1000L + d, a)
    }).toDF("Date", "Open", "High", "Low", "Close", "Volume", "ativo")
  }

  private def lake(s: SparkSession): String = {
    val raw = tmp("raw")
    BatchPipeline.writeRaw(bars(s, Lake, 1 to 20), raw, SaveMode.Append)
    raw
  }

  private case class Arrival(raw: String, refined: String, ckpt: String) {
    def cycle(s: SparkSession): Unit =
      StreamingEtl.runOnce(s, raw, refined, ckpt, "2024-01-31")
  }

  /** A lake refined by its backfill cycle, then one new day landed for
    * three of its six assets: the arrival's cycle is still to run. */
  private def arrival(s: SparkSession): Arrival = {
    val a = Arrival(lake(s), tmp("refined"), tmp("ckpt"))
    a.cycle(s)
    BatchPipeline.writeRaw(bars(s, Touched, 21 to 21), a.raw)
    a
  }

  test("refine over an IN-pinned raw frame launches no job") {
    val s = session()
    val pinned = BatchPipeline.readRaw(s, lake(s))
      .filter(col("ativo").isin(Touched: _*))
    assert(SparkJobs.count(s)(BatchPipeline.refine(pinned)) === 0)
    assert(s.conf.getOption(KeyedWindowRule.NdvHintsConf) === None)
  }

  test("refine over an unpinned or hint-only raw frame launches no job") {
    val raw = lake(TestSpark.spark)
    val s = session()
    val unpinned = BatchPipeline.readRaw(s, raw)
    assert(SparkJobs.count(s)(BatchPipeline.refine(unpinned)) === 0)
    assert(s.conf.getOption(KeyedWindowRule.NdvHintsConf) === None)
    val hinted = session(KeyedWindowRule.NdvHintsConf -> "ativo=6")
    val byHint = BatchPipeline.readRaw(hinted, raw)
    assert(SparkJobs.count(hinted)(BatchPipeline.refine(byHint)) === 0)
    assert(hinted.conf.get(KeyedWindowRule.NdvHintsConf) === "ativo=6")
  }

  test("one incremental arrival cycle launches at most 8 jobs") {
    val s = session()
    val a = arrival(s)
    val jobs = SparkJobs.count(s)(a.cycle(s))
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("an arrival cycle leaves the session ndv hints as it found them") {
    val s = session()
    val before = s.conf.getOption(KeyedWindowRule.NdvHintsConf)
    arrival(s).cycle(s)
    assert(s.conf.getOption(KeyedWindowRule.NdvHintsConf) === before)
  }

  test("the arrival's refined write plans KeyedBoundedAgg keyed on [ativo]") {
    val s = session()
    val a = arrival(s)
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      a.cycle(s)
      ListenerBusDrain.drain(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case other => NoKey.nodes(other)
    }
    val keys = plans.asScala.toSeq.flatMap(nodes).collect {
      case e: KeyedBoundedAggExec =>
        e.partKeys.map { case at: Attribute => at.name; case x => x.sql }
    }
    assert(keys.contains(Seq("ativo")), keys)
  }
}
