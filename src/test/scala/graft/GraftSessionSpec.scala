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
    val loaders = root.resolve("tables/Tables.scala")
    val confWriters = (builders :+ loaders)
      .filter(p => Files.readString(p).contains("conf.set"))
    // a hint is a session conf too, and a measured fact belongs to its
    // file version (graft.plans.FileEvidence): none of these registers one
    val hintWriters = (builders ++ sources(root.resolve("etl"), ".*\\.scala") :+ loaders)
      .filter { p =>
        val src = Files.readString(p)
        src.contains("registerNdvHint") || src.contains("registerUniqueHint")
      }
    assert((confWriters ++ hintWriters).map(p => root.relativize(p).toString) === Nil)
  }

  test("under graft/plans only Lineage reads column evidence") {
    // one lookup per fact, in one order: a rule that reads file evidence
    // or catalog column stats itself forks that order
    val root = Paths.get("src/main/scala/graft/plans")
    assert(Files.isDirectory(root), s"run from the repo root; no $root")
    val readers = sources(root, ".*\\.scala").filter { p =>
      val src = Files.readString(p)
      Seq("FileEvidence.ndv(", "FileEvidence.uniqueSets(", "colStats").exists(src.contains)
    }
    assert(readers.map(_.getFileName.toString) === List("Lineage.scala"))
  }

  test("building every declared query leaves the session conf unchanged") {
    val s = GraftSession.child(TestSpark.spark)
    val before = s.conf.getAll
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size === 272)
    names.foreach { q =>
      SparkEntry.queries(q)(s, TestSpark.Sf0001)
      val after = s.conf.getAll
      val changed = (after.toSet diff before.toSet).map(_._1) ++
        (before.keySet diff after.keySet)
      assert(changed.isEmpty, s"building $q changed ${changed.mkString(", ")}")
    }
  }

  test("the shared test session is a GraftSession") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
