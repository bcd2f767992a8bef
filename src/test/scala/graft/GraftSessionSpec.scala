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

  test("query builders and table loaders never write session conf") {
    // a build that sets a conf changes every concurrent build and plan on
    // the same session; a build that needs its own confs derives a
    // GraftSession.child
    val root = Paths.get("src/main/scala/graft")
    val files = {
      val entries = Files.list(root)
      try entries.iterator().asScala
        .filter(_.getFileName.toString.matches("SparkEntry.*\\.scala"))
        .toList
      finally entries.close()
    } :+ root.resolve("tables/Tables.scala")
    assert(files.size > 2, s"run from the repo root; no builders under $root")
    val writers = files.filter(p => Files.readString(p).contains("conf.set"))
      .map(p => root.relativize(p).toString)
    assert(writers === Nil)
  }

  test("the shared test session is a GraftSession") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
