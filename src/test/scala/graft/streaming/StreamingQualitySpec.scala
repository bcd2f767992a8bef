package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ml.HashedLogit
import graft.tables.Tables
import graft.util.{ArtifactStore, SessionCache}

case class QDoc(docId: Long, text: String)

class StreamingQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("stream scores match the batch trained classifier bit-for-bit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val w = HashedLogit.ensureWeights(spark, docs, "doc_id", "text",
      1024, 60, 20, 20000L, 10L, Seq(sf, Tables.stamp(spark, sf, "documents")))
    val batch = graft.SparkEntry.queries("x36b_trained_classifier")(spark, sf)
      .select(col("doc_id"), col("score"))
      .as[(Long, Long)].collect().toMap

    val sample = docs.limit(50).as[(Long, String)].collect()
    val input = MemoryStream[QDoc]
    val out = StreamingQualityFilter.scored(input.toDF(), "text", w, 10L)
    val q = out.writeStream.format("memory").queryName("squality_out")
      .outputMode("append").start()
    try {
      input.addData(sample.map { case (id, t) => QDoc(id, t) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("squality_out")
        .select("docId", "score").as[(Long, Long)].collect().toMap
      assert(got.size === 50)
      got.foreach { case (id, s) =>
        assert(s === batch(id), s"doc $id: stream score $s != batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("a restarted stream serves the persisted model without refitting") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val key = Seq(sf, Tables.stamp(spark, sf, "documents"))
    // ensure the artifact exists, then simulate a fresh serving JVM
    HashedLogit.ensureWeights(spark, docs, "doc_id", "text",
      1024, 60, 20, 20000L, 10L, key)
    SessionCache.clear()
    val fitsBefore = ArtifactStore.fits
    val loadsBefore = ArtifactStore.loads
    val w = HashedLogit.ensureWeights(spark, docs, "doc_id", "text",
      1024, 60, 20, 20000L, 10L, key)
    assert(ArtifactStore.fits === fitsBefore, "stream start refit the model")
    assert(ArtifactStore.loads === loadsBefore + 1)

    // one corpus doc the batch classifier keeps, one it drops — the
    // stream must agree with the batch keep boundary exactly (the model
    // only carries signal for buckets it trained on, so the probes come
    // from the corpus, not from invented out-of-vocabulary text)
    val verdicts = graft.SparkEntry.queries("x36b_trained_classifier")(spark, sf)
      .select(col("doc_id"), col("keep"), col("score"))
      .as[(Long, Int, Long)].collect()
    val keptDoc = verdicts.filter(_._2 === 1).maxBy(_._3)._1
    val dropDoc = verdicts.filter(_._2 === 0).minBy(_._3)._1
    val texts = docs.filter(col("doc_id").isin(keptDoc, dropDoc))
      .as[(Long, String)].collect().toMap

    val input = MemoryStream[QDoc]
    val out = StreamingQualityFilter.keep(input.toDF(), "text", w, 10L)
    val q = out.writeStream.format("memory").queryName("squality_keep")
      .outputMode("append").start()
    try {
      input.addData(QDoc(keptDoc, texts(keptDoc)), QDoc(dropDoc, texts(dropDoc)))
      q.processAllAvailable()
      val got = spark.table("squality_keep").select("docId")
        .as[Long].collect().toSet
      assert(got.contains(keptDoc), s"batch-kept doc $keptDoc must pass the stream filter")
      assert(!got.contains(dropDoc), s"batch-dropped doc $dropDoc must be dropped")
    } finally q.stop()
  }

  test("the keep plan is stateless: no state store operator, no exchange") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val w = Array.fill(17)(1L)
    val input = MemoryStream[QDoc]
    val out = StreamingQualityFilter.keep(input.toDF(), "text", w, 1L)
    val q = out.writeStream.format("memory").queryName("squality_plan")
      .outputMode("append").start()
    try {
      input.addData(QDoc(1L, "a b c"))
      q.processAllAvailable()
      val p = q.lastProgress
      assert(p.stateOperators.isEmpty,
        s"stateless filter acquired state operators: ${p.stateOperators.mkString}")
    } finally q.stop()
  }
}
