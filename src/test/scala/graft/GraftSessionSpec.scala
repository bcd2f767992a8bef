package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session the library starts comes from [[GraftSession]], so no
  * entry point can drift from the configuration the bench and the oracle
  * run under (a forked builder once ran without `GraftExtensions`).
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root; no $root")
    val forks = {
      val files = Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => root.relativize(p).toString).toList
      finally files.close()
    }
    assert(forks === List("graft/GraftSession.scala"))
  }

  private def sources(dir: Path, name: String): List[Path] = {
    val entries = Files.list(dir)
    try entries.iterator().asScala
      .filter(_.getFileName.toString.matches(name)).toList
    finally entries.close()
  }

  test("query builders and table loaders never write session conf") {
    // a build that sets a conf changes every concurrent build and plan on
    // the same session; a build that needs its own confs derives a
    // GraftSession.child
    val root = Paths.get("src/main/scala/graft")
    val builders = sources(root, "SparkEntry.*\\.scala")
    assert(builders.size > 2, s"run from the repo root; no builders under $root")
    val confWriters = (builders :+ root.resolve("tables/Tables.scala"))
      .filter(p => Files.readString(p).contains("conf.set"))
    // an ndv hint is a session conf too: only the table loaders, which
    // measure a column of the file they load, may register one
    val hintWriters = (builders ++ sources(root.resolve("etl"), ".*\\.scala"))
      .filter(p => Files.readString(p).contains("registerNdvHint"))
    assert((confWriters ++ hintWriters).map(p => root.relativize(p).toString) === Nil)
  }

  test("building the bar queries leaves no ativo ndv hint") {
    val s = GraftSession.child(TestSpark.spark)
    Seq("flagship_etl", "w2_daily_returns", "w4_running_total",
        "x120_rolling_mean_keyed", "w8_zscore_outliers").foreach { q =>
      SparkEntry.queries(q)(s, TestSpark.Sf0001)
      val hints = s.conf.getOption(graft.plans.KeyedWindowRule.NdvHintsConf)
        .map(graft.plans.KeyedWindowRule.parseHints).getOrElse(Map.empty)
      assert(!hints.contains("ativo"), s"$q registered $hints")
    }
  }

  test("the shared test session is a GraftSession") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
