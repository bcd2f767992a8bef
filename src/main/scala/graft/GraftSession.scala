package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Bench, Verify, Smoke, PlanDump)
  * and the shared test session start here, so they all run the plan a
  * production session runs. `overrides` are applied last, on
  * top of the library's configuration.
  */
object GraftSession {

  /** Core count the mains run on: `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def start(cores: Int, overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      // library extension point: native SQL functions + the RangeJoin/
      // window auto-rewrites run exactly as a production session would
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) in older fixtures; see
      // Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local-FS harness: skip Hadoop CRC shadow files (halves file ops
      // on partitioned writes; checksums are a distributed-FS concern)
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      // bucketed-layout tables (j6) live in the warehouse — keep it in tmp
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      // The bench spaces a query's repeats ~270 queries apart, and the
      // default 100-entry codegen class cache evicts everything in
      // between — every sample then re-pays janino compilation. Measured
      // A/B on a 30-query subset: totals inflate ~50% with nothing
      // engine-side changing. Sizing the static cache past the suite's
      // working set keeps spaced samples compilation-warm.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    overrides.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of `s` for a build that needs confs of its own: it shares
    * the SparkContext, the extensions and the options `s` was started
    * with, and `overrides` are set on the child only, so `s` is never
    * written. */
  def child(s: SparkSession, overrides: (String, String)*): SparkSession = {
    val c = s.newSession()
    overrides.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
