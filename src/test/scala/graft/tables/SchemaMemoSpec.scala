package graft.tables

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The loaders' schema memo ([[Tables.table]]) never serves a stale
  * schema: it is keyed on the file's version and on the confs that change
  * what Spark infers from a parquet footer. The files are written with
  * parquet's own writer, so no Spark schema rides in their footer and
  * inference reads the parquet types alone. [[Tables.stamp]], the key of
  * the durable artifacts built from a fixture, follows the same version.
  */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `rows` rows of `id`, an unannotated binary `payload` and, when the
    * schema declares it, `extra`; overwrites `path`. */
  private def write(path: String, schema: String, rows: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tpe = MessageTypeParser.parseMessageType(schema)
    val out = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(tpe).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(tpe)
    try (0 until rows).foreach { i =>
      val g = groups.newGroup()
        .append("id", i.toLong).append("payload", Binary.fromString(s"p$i"))
      if (tpe.containsField("extra")) g.append("extra", i * 10)
      out.write(g)
    } finally out.close()
  }

  private val V1 =
    "message t { required int64 id; optional binary payload; }"
  private val V2 = "message t { required int64 id; optional binary payload; " +
    "optional int32 extra; }"

  test("a file rewritten in place with a new column is inferred again") {
    val dir = Files.createTempDirectory("graft_schema_memo").toString
    write(s"$dir/t.parquet", V1, 3)
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq
      === Seq("id", "payload"))
    write(s"$dir/t.parquet", V2, 5)
    val t = Tables.table(spark, dir, "t")
    assert(t.schema.fieldNames.toSeq === Seq("id", "payload", "extra"))
    assert(t.selectExpr("sum(extra)").head().getLong(0) === 100L)
  }

  test("the stamp of a file: URI changes when the file is rewritten in place") {
    val dir = Files.createTempDirectory("graft_stamp").toString
    write(s"$dir/t.parquet", V1, 3)
    val before = Tables.stamp(spark, s"file:$dir", "t")
    assert(before === Tables.stamp(spark, dir, "t"))
    write(s"$dir/t.parquet", V2, 5)
    val after = Tables.stamp(spark, s"file:$dir", "t")
    assert(after !== before)
    assert(after === Tables.stamp(spark, dir, "t"))
  }

  test("the inferred type follows spark.sql.parquet.binaryAsString") {
    val dir = Files.createTempDirectory("graft_schema_memo").toString
    write(s"$dir/b.parquet", V1, 3)
    def payload = Tables.table(spark, dir, "b").schema("payload").dataType
    TestSpark.withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assert(payload === BinaryType)
    }
    TestSpark.withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(payload === StringType)
      assert(Tables.table(spark, dir, "b").selectExpr("max(payload)")
        .head().getString(0) === "p2")
    }
  }
}
