package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Evidence registration runs concurrently: loaders building DataFrames
  * measure into the JVM-wide [[FileEvidence]] store, and a user's ndv
  * hint is a read-merge-write of one session conf. A lost update would
  * silently disable a heal or a collapse. Conf tests run on their own
  * child session.
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
    val at = FileEvidence.FileVersion(
      Set(s"/data/hammer-${System.nanoTime()}.parquet"), "v1")
    hammer((t, i) => FileEvidence.putUnique(at, Seq(s"u${t}_$i"), unique = true))
    for (t <- 0 until 8; i <- 0 until 50)
      assert(FileEvidence.uniqueOf(at, Seq(s"u${t}_$i")) === Some(true), s"u${t}_$i")
  }
}
