package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Hint registration is a read-merge-write of one session conf. Loaders
  * building DataFrames on the same session run it concurrently, and a
  * lost update would silently disable a collapse for the rest of the
  * session. Each test runs on its own child session.
  */
class HintRegistrationSpec extends AnyFunSuite {

  /** 8 threads × 50 calls of `register(thread, i)`, released together. */
  private def hammer(register: (Int, Int) => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val done = (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (0 until 50).foreach(register(t, _))
          }
        })
      }
      start.countDown()
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent ndv hints: all 400 survive") {
    val s = GraftSession.child(TestSpark.spark)
    hammer((t, i) => KeyedWindowRule.registerNdvHint(s, s"c${t}_$i", i + 1L))
    val hints =
      KeyedWindowRule.parseHints(s.conf.get(KeyedWindowRule.NdvHintsConf))
    assert(hints.size === 400)
    assert(hints("c7_49") === 50L)
  }

  test("concurrent uniqueness hints: all 400 survive") {
    val s = GraftSession.child(TestSpark.spark)
    hammer((t, i) =>
      RankJoinRule.registerUniqueHint(s, s"u${t}_$i", s"/data/t$t.parquet"))
    val entries =
      RankJoinRule.parseUniques(s.conf.get(RankJoinRule.UniqueHintsConf))
    assert(entries.size === 400)
  }

  test("withdrawing an absent entry writes nothing") {
    val s = GraftSession.child(TestSpark.spark)
    RankJoinRule.removeUniqueHint(s, "u", "/data/t.parquet")
    assert(s.conf.getOption(RankJoinRule.UniqueHintsConf).isEmpty)
  }
}
