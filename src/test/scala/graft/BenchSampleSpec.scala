package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.sample` is the bench's one timed routine: every warm-up,
  * canary, measured and re-measured run goes through it, and its job
  * counts come from [[SparkJobs]]. */
class BenchSampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withCounter[A](body: SparkJobs.Counter => A): A = {
    val jobs = new SparkJobs.Counter(spark.sparkContext)
    try body(jobs) finally jobs.close()
  }

  test("a sample reports non-negative phase seconds and the jobs it ran") {
    val s = withCounter(jobs =>
      Bench.sample(spark, jobs)(SparkEntry.queries("q6_forecast_revenue")(spark, TestSpark.Sf0001)))
    assert(Seq(s.buildS, s.planS, s.execS).forall(_ >= 0.0), s)
    assert(s.buildJobs >= 0, s)
    assert(s.execJobs >= 1, s)
  }

  test("isolation empties the cache a GlobalRank query left behind") {
    val cache = spark.sharedState.cacheManager
    withCounter(jobs =>
      Bench.sample(spark, jobs)(SparkEntry.queries("x98_classifier_lift")(spark, TestSpark.Sf0001)))
    assert(!cache.isEmpty, "x98 persisted no GlobalRank frame, so the check below is vacuous")
    Bench.isolate(spark)
    assert(cache.isEmpty)
  }

  test("a malformed A/B setting is rejected with the expected form") {
    for (bad <- Seq("k=v", "kv|w", "", "=a|b", "k=a|", "k=|b", "k=a|b|c")) {
      val e = intercept[IllegalArgumentException](Bench.arms(spark, Some(bad)))
      assert(e.getMessage.contains("key=v1|v2"), bad)
    }
    val arms = Bench.arms(spark, Some(" spark.graft.x = a | b "))
    assert(arms.map { case (l, s) => l -> s.conf.get("spark.graft.x") } === Seq("#A" -> "a", "#B" -> "b"))
  }

  test("an A/B run leaves the bench session's conf unchanged") {
    val before = spark.conf.getAll
    val arms = Bench.arms(spark, Some(s"${plans.KeyedWindowRule.StockBytesConf}=0|134217728"))
    val (samples, errors) = withCounter(jobs =>
      Bench.laps(jobs, TestSpark.Sf0001, Seq("q6_forecast_revenue"), arms, runs = 2))
    assert(errors.isEmpty, errors)
    assert(samples.keySet === Set("q6_forecast_revenue#A", "q6_forecast_revenue#B"))
    assert(samples.values.forall(_.size == 2), samples)
    assert(spark.conf.getAll === before)
    assert(arms.map(_._2.conf.get(plans.KeyedWindowRule.StockBytesConf)) === Seq("0", "134217728"))
  }
}
