package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.stats.Drift
import graft.tables.Tables

case class DDoc(docId: Long, source: String, nChars: Long)

class StreamingDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def docRows() = {
    import spark.implicits._
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[(Long, String, Long)].collect()
      .map { case (id, s, n) => DDoc(id, s, n) }
  }

  private def baseline() =
    Drift.ensureBaseline(spark, Tables.documents(spark, sf),
      expr("n_chars div 50"),
      Seq(sf, Tables.stamp(spark, sf, "documents"), "n_chars_div50"))

  test("each micro-batch's report equals the batch kernel on that batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = docRows()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val out = Files.createTempDirectory("sdrift_out").toString
    val ckpt = Files.createTempDirectory("sdrift_ckpt").toString
    val input = MemoryStream[DDoc]
    val stream = input.toDF()
      .withColumnRenamed("docId", "doc_id")
      .withColumnRenamed("nChars", "n_chars")
    val q = StreamingDrift.start(stream, "source", "n_chars div 50",
      baseline(), 250L, out, ckpt)
    try {
      input.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
    assert(got.select("batch_id").distinct().count() === 2L)
    Seq((0L, b1), (1L, b2)).foreach { case (id, part) =>
      val batchDf = spark.createDataFrame(part.toIndexedSeq.asInstanceOf[Seq[DDoc]])
        .withColumnRenamed("docId", "doc_id")
        .withColumnRenamed("nChars", "n_chars")
      val want = StreamingDrift
        .scoreBatch(batchDf, "source", "n_chars div 50", baseline(), 250L)
        .collect().map(_.toSeq).toSet
      val have = got.where(col("batch_id") === id)
        .select("grp", "n_a", "n_b", "tv_permill", "verdict")
        .collect().map(_.toSeq).toSet
      assert(have === want, s"batch $id stream/batch reports differ")
    }
  }

  test("a planted off-distribution slice is quarantined, in-profile kept") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val inProfile = docRows().take(100)
      .map(d => DDoc(d.docId, "ok_slice", d.nChars))
    // all lengths piled far outside the corpus's profile
    val drifted = (1L to 100L).map(i => DDoc(10000 + i, "bad_slice", 9000 + i))
    val out = Files.createTempDirectory("sdrift_out2").toString
    val ckpt = Files.createTempDirectory("sdrift_ckpt2").toString
    val input = MemoryStream[DDoc]
    val stream = input.toDF()
      .withColumnRenamed("docId", "doc_id")
      .withColumnRenamed("nChars", "n_chars")
    val q = StreamingDrift.start(stream, "source", "n_chars div 50",
      baseline(), 250L, out, ckpt)
    try {
      input.addData((inProfile ++ drifted).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(out)
      .select("grp", "verdict").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(verdicts("bad_slice") === "quarantine")
    assert(verdicts("ok_slice") === "keep")
  }
}
