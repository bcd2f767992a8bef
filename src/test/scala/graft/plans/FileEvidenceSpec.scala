package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.tables.Tables

/** Measured evidence belongs to the file version it was measured on
  * ([[FileEvidence]]): a file rewritten in place starts with none, and a
  * same-named column of another file never inherits it. Each test runs on
  * its own child session.
  */
class FileEvidenceSpec extends AnyFunSuite {

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (r, a) => r -> a.length }

  private def execClasses(df: DataFrame): Seq[Class[_]] =
    df.queryExecution.sparkPlan.collect { case p => p.getClass }

  test("a file rewritten in place with repeated keys keeps its rank self-join") {
    val s: SparkSession = GraftSession.child(TestSpark.spark)
    import s.implicits._
    val path = Files.createTempDirectory("graft_evidence_stale").toString + "/t"
    (0 until 110).map(n => (n.toLong, n % 11, n % 7))
      .toDF("id", "k", "v").write.parquet(path)
    assert(RankJoinRule.measureAndRegister(s.read.parquet(path), "id"))
    // the same path, rewritten so that every id repeats five times
    (0 until 110).map(n => (n.toLong % 22, n % 11, n % 7))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(path)
    s.read.parquet(path).createOrReplaceTempView("fe_stale")
    val sql =
      """SELECT t.id, t.k, r.rn
        |FROM fe_stale t
        |JOIN (SELECT id, k, row_number() OVER (PARTITION BY k
        |        ORDER BY v, id) AS rn FROM fe_stale) r
        |ON t.id = r.id AND r.rn <= 2""".stripMargin
    val on = s.sql(sql)
    assert(on.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty,
      s"stale evidence collapsed the join:\n${on.queryExecution.optimizedPlan}")
    val got = multiset(on)
    s.conf.set(RankJoinRule.RewriteConf, "false")
    val want = multiset(s.sql(sql))
    assert(want.values.sum === 110)
    assert(got === want)
  }

  test("a measured column never proves a same-named column of another file") {
    val s: SparkSession = GraftSession.child(TestSpark.spark)
    import s.implicits._
    // the loader measures o_custkey HIGH on the fixture file
    val orders = Tables.orders(s, TestSpark.Sf0001)
    val own = orders.selectExpr("o_orderkey",
      "sum(o_totalprice) OVER (PARTITION BY o_custkey) AS s")
    assert(execClasses(own).contains(classOf[WindowExec]) &&
      !execClasses(own).contains(classOf[KeyedTotalAggExec]),
      s"the measured-high fixture column must refuse:\n${own.queryExecution.sparkPlan}")
    // another file whose o_custkey holds 3 values: the fixture's
    // measurement says nothing about it, so the optimistic heal fires
    val path = Files.createTempDirectory("graft_evidence_leak").toString + "/t"
    (0 until 300).map(n => (n % 3L, n.toLong, n % 17))
      .toDF("o_custkey", "t", "v").write.parquet(path)
    s.read.parquet(path).createOrReplaceTempView("fe_leak")
    val other = s.sql("SELECT t, sum(v) OVER (PARTITION BY o_custkey) AS s FROM fe_leak")
    assert(execClasses(other).contains(classOf[KeyedTotalAggExec]),
      s"the fixture's evidence leaked by name:\n${other.queryExecution.sparkPlan}")
    assert(other.collect().map(_.getLong(1)).toSet ===
      (0 until 300).groupBy(_ % 3).values.map(_.map(n => (n % 17).toLong).sum).toSet)
  }
}
