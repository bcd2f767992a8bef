package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimization-round micro-profiler: split each named query's wall time
  * into BUILD (DataFrame construction — loaders, temp views, artifact
  * lookups), PLAN (analysis + optimization + physical planning, forced
  * via `executedPlan`) and EXEC (the bench's exact forced evaluation),
  * under the bench's session ([[graft.GraftSession]]). Three repeats
  * per query with the bench's isolation discipline, so the repeat floor
  * separates warm planning cost from execution cost — the number that
  * says whether a slow query needs a better plan or a cheaper planner.
  *
  * Usage: runMain graft.tools.ProfileQuery <query ...>
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {
  private def force(df: DataFrame): Unit = {
    val h = xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
    df.select(sum(h.cast("double"))).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.start(graft.GraftSession.envCores)
    // General A/B lever (r16): SPARK_GRAFT_PROF_CONF="k=v,k2=v2" sets
    // arbitrary session confs, e.g. disabling a graft rewrite to time
    // the stock plan against the healed one on the same binary
    sys.env.get("SPARK_GRAFT_PROF_CONF").foreach(_.split(',').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) spark.conf.set(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    // Paired A/B (r16): SPARK_GRAFT_PROF_AB="conf=v1|v2" runs each rep
    // TWICE back to back — arm A with conf=v1, arm B with conf=v2 — in
    // ONE session, so ambient drift and neighbor cache pressure hit
    // both arms identically (the batch-vs-batch comparisons this
    // replaced disagreed by ±0.9 s on provably unchanged plans).
    val ab: Option[(String, String, String)] =
      sys.env.get("SPARK_GRAFT_PROF_AB").flatMap { s =>
        val i = s.indexOf('=')
        val j = s.indexOf('|', i + 1)
        if (i > 0 && j > i) Some((s.take(i).trim,
          s.substring(i + 1, j).trim, s.drop(j + 1).trim))
        else None
      }
    val names = if (args.nonEmpty) args.toSeq else Seq("flagship_etl")
    // one warm pass (JIT/codegen/footers), as the bench does — under
    // A/B, one per arm so both plans are codegen-warm
    names.foreach { n =>
      def warm(): Unit =
        try force(graft.SparkEntry.queries(n)(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"[prof] warm $n FAILED: ${e.getMessage}") }
      ab match {
        case Some((k, v1, v2)) =>
          spark.conf.set(k, v1); warm()
          spark.conf.set(k, v2); warm()
        case None => warm()
      }
    }
    def one(n: String, label: String): Unit = {
      graft.stats.GlobalRank.releaseAll()
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      // the bench's force() wraps the query in hash+sum: plan THAT tree
      val h = xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
      val wrapped = df.select(sum(h.cast("double")))
      wrapped.queryExecution.executedPlan
      val t2 = System.nanoTime()
      wrapped.collect()
      val t3 = System.nanoTime()
      println(f"[prof] $n $label build ${(t1 - t0) / 1e9}%.3f plan ${(t2 - t1) / 1e9}%.3f exec ${(t3 - t2) / 1e9}%.3f total ${(t3 - t0) / 1e9}%.3f")
    }
    names.foreach { n =>
      (1 to 3).foreach { rep =>
        ab match {
          case Some((k, v1, v2)) =>
            spark.conf.set(k, v1); one(n, s"rep${rep}A")
            spark.conf.set(k, v2); one(n, s"rep${rep}B")
          case None => one(n, s"rep$rep")
        }
      }
    }
    spark.stop()
  }
}
