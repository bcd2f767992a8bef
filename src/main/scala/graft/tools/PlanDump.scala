package graft.tools

import scala.util.control.NonFatal

/** Optimization-round plan dumper: write `.explain("formatted")` for named
  * SparkEntry queries to files, under the bench's session
  * ([[graft.GraftSession]]) so the dumped plan is the plan the bench
  * measures, every graft rewrite included. The formatted plan also shows
  * each scan's `PushedFilters` and `ReadSchema`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [query ...]
  *   e.g. runMain graft.tools.PlanDump plans/r16 before x93_basket_lift
  * With no query names, dumps every declared query.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.start(graft.GraftSession.envCores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val path = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      val text =
        try {
          val qe = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        } catch { case NonFatal(e) => s"EXPLAIN FAILED: ${e.getMessage}" }
      java.nio.file.Files.write(path, text.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $path")
    }
    spark.stop()
  }
}
