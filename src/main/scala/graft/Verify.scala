package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: extra args name a subset to dump (dev iteration; the
    // driver's 2-arg invocation dumps everything)
    val only = args.drop(2).toSet
    val spark = GraftSession.start(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // reclaim GlobalRank sort-frame caches between queries (ADVICE r9):
      // the consumed plans never need them again in this run — and (r16)
      // drop in-plan persists (Percentiles/nearDupPairs/x93 frames) the
      // same way the bench's isolation does, so 272 dumped queries can't
      // stack cached blocks
      stats.GlobalRank.releaseAll()
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${util.Json.str(k)}: ${util.Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
