package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Remainder}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}

/** A leaf whose only evidence is its plan stats. */
private case class StatsLeaf(output: Seq[Attribute], ndv: Long) extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = 1,
    attributeStats = AttributeMap(output.map(_ -> ColumnStat(distinctCount = Some(BigInt(ndv))))))
}

/** Each contract [[Lineage]] serves, pinned on one trace over analysed
  * plans of a small parquet copy. Nothing here runs a Spark job: the scan
  * is read with a declared schema and no plan is executed. */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh copy of the sf0.001 nation file, read without a job. */
  private def nation(): DataFrame = {
    val dir = Files.createTempDirectory("lineage_")
    Files.copy(Paths.get(TestSpark.Sf0001, "nation.parquet"), dir.resolve("nation.parquet"))
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .parquet(dir.toString)
  }

  private lazy val view: Unit = nation().createOrReplaceTempView("lin_nation")

  /** The analysed plan of `sql` and its output column `name`. */
  private def analysed(sql: String, name: String): (LogicalPlan, Attribute) = {
    view
    val plan = spark.sql(sql).queryExecution.analyzed
    (plan, plan.output.find(_.name == name).get)
  }

  private def noJobs(body: => Unit): Unit =
    assert(SparkJobs.count(spark)(body) === 0, "a lineage trace launched a Spark job")

  test("a rename chain collects every name; multiplicity matches the leaf's own") {
    noJobs {
      val df = nation().select(col("n_nationkey").as("a")).select(col("a").as("b"))
      val plan = df.queryExecution.analyzed
      val t = Lineage.trace(plan.output.head, plan)
      assert(t.names === Set("b", "a", "n_nationkey"))
      t.end match {
        case Lineage.AtLeaf(_: LogicalRelation, at) => assert(at.name === "n_nationkey")
        case e => fail(s"expected a leaf end, got $e")
      }
      assert(Lineage.leafColumn(plan.output.head, plan, filters = true).map(_._2) ===
        Some("n_nationkey"))
    }
  }

  test("a top-level IN / = pin is recorded; one under NOT or OR is ignored") {
    noJobs {
      val (p1, r1) = analysed(
        "SELECT n_regionkey FROM lin_nation WHERE n_regionkey IN (1, 2, 3) AND n_name = 'x'",
        "n_regionkey")
      val t1 = Lineage.trace(r1, p1)
      assert(t1.pins === Seq(3L))
      assert(Lineage.ndvBound(r1, p1, Map.empty) === Some(3L))
      assert(Lineage.measuredNdv(r1, p1, Map("n_regionkey" -> 99L)) === None,
        "a pin refuses the measured floor")
      val (p2, r2) = analysed(
        "SELECT n_regionkey FROM lin_nation WHERE n_regionkey = 1", "n_regionkey")
      assert(Lineage.trace(r2, p2).pins === Seq(1L))
      for (where <- Seq("NOT (n_regionkey IN (1, 2))", "n_regionkey = 1 OR n_name = 'x'")) {
        val (p, r) = analysed(s"SELECT n_regionkey FROM lin_nation WHERE $where", "n_regionkey")
        assert(Lineage.trace(r, p).pins.isEmpty, where)
        assert(Lineage.ndvBound(r, p, Map.empty) === None, where)
      }
    }
  }

  test("View, SubqueryAlias and Repartition are crossed") {
    noJobs {
      nation().repartition(4).createOrReplaceTempView("lin_wrapped")
      val (plan, attr) = analysed("SELECT n_name FROM lin_wrapped", "n_name")
      val t = Lineage.trace(attr, plan)
      val crossed = t.steps.map(_.node)
      assert(crossed.exists(_.isInstanceOf[SubqueryAlias]), crossed)
      assert(crossed.exists(_.isInstanceOf[View]), crossed)
      assert(crossed.exists(_.isInstanceOf[RepartitionOperation]), crossed)
      assert(t.end.isInstanceOf[Lineage.AtLeaf])
      assert(Lineage.leafColumn(attr, plan, filters = false).map(_._2) === Some("n_name"))
      val wrapped = plan.collectFirst { case s: SubqueryAlias => s }.get
      assert(Lineage.strip(wrapped).isInstanceOf[LogicalRelation])
    }
  }

  test("a join is crossed by the ndv contract and refused by multiplicity") {
    noJobs {
      val (plan, attr) = analysed(
        """SELECT a.n_name, b.n_regionkey FROM lin_nation a
          |JOIN lin_nation b ON a.n_nationkey = b.n_nationkey""".stripMargin,
        "n_regionkey")
      val t = Lineage.trace(attr, plan)
      assert(t.steps.exists(_.node.isInstanceOf[Join]))
      assert(t.end.isInstanceOf[Lineage.AtLeaf])
      assert(Lineage.ndvBound(attr, plan, Map("n_regionkey" -> 5L)) === Some(5L))
      assert(Lineage.leafColumn(attr, plan, filters = true) === None)
    }
  }

  test("a computed alias ends the trace with its expression") {
    noJobs {
      val (plan, attr) = analysed("SELECT n_regionkey % 4 AS b FROM lin_nation", "b")
      Lineage.trace(attr, plan).end match {
        case Lineage.Computed(r: Remainder, below) =>
          assert(below.output.exists(_.name == "n_regionkey"), r)
        case e => fail(s"expected a computed end, got $e")
      }
      // 2k - 1 signed residues plus the null group of a nullable input
      assert(Lineage.ndvBound(attr, plan, Map.empty) === Some(8L))
      assert(Lineage.measuredNdv(attr, plan, Map("b" -> 3L)) === None)
      assert(Lineage.leafColumn(attr, plan, filters = true) === None)
    }
  }

  test("leaf evidence: hint, then FileEvidence, then catalog stats, then plan stats") {
    noJobs {
      def leafOf(df: DataFrame): (LogicalRelation, Attribute) = {
        val plan = df.queryExecution.analyzed
        val leaf = plan.collectFirst { case r: LogicalRelation => r }.get
        (leaf, leaf.output.find(_.name == "n_regionkey").get)
      }
      def catalogued(r: LogicalRelation, ndv: Long): LogicalRelation =
        r.copy(catalogTable = Some(CatalogTable(
          identifier = TableIdentifier("lin_catalogued"),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty,
          schema = r.schema,
          stats = Some(CatalogStatistics(sizeInBytes = 1, colStats = Map(
            "n_regionkey" -> CatalogColumnStat(distinctCount = Some(BigInt(ndv)))))))))
      val hints = Map("n_regionkey" -> 3L)
      val names = Set("n_regionkey")

      val (measured, a) = leafOf(nation())
      FileEvidence.putNdv(FileEvidence.versionOf(measured).get, "n_regionkey", 5L)
      val both = catalogued(measured, 7L)
      assert(Lineage.leafNdv(both, a, names, hints) === Some(3L))
      assert(Lineage.leafNdv(both, a, names, Map.empty) === Some(5L))

      val (unmeasured, b) = leafOf(nation())
      assert(Lineage.leafNdv(catalogued(unmeasured, 7L), b, names, Map.empty) === Some(7L))
      assert(Lineage.leafNdv(unmeasured, b, names, Map.empty) === None)

      val statsOnly = StatsLeaf(Seq(b), 9L)
      assert(Lineage.leafNdv(statsOnly, b, names, Map.empty) === Some(9L))
      assert(Lineage.leafNdv(statsOnly, b, names, hints) === Some(3L))
      // a hint under a name the column carried on the way down counts too
      assert(Lineage.leafNdv(statsOnly, b, names + "region", Map("region" -> 4L)) ===
        Some(4L))
    }
  }
}
