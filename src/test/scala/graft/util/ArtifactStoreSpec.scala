package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Durable-artifact lifecycle (VERDICT r4 #1): fitted index structures and
  * table stats must survive the session — `SessionCache.clear()` simulates
  * a fresh JVM (the disk artifact is all that remains), and the store must
  * then LOAD, not refit. The `fits` counter is the no-fit-job-ran probe.
  */
class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("load-or-fit: fits once, then serves from memory and from disk") {
    val key = Seq("spec", "roundtrip", System.nanoTime().toString)
    ArtifactStore.invalidate(spark, "spec_longs", key)
    var computed = 0
    def call() = ArtifactStore.getOrCompute(spark, "spec_longs", key,
      ArtifactStore.LongsCodec) { computed += 1; Seq(7L, -1L, 42L) }

    assert(call() === Seq(7L, -1L, 42L))
    assert(computed === 1)
    assert(call() === Seq(7L, -1L, 42L)) // memory hit
    assert(computed === 1)

    SessionCache.clear() // "fresh JVM": only the parquet artifact remains
    val loadsBefore = ArtifactStore.loads
    assert(call() === Seq(7L, -1L, 42L))
    assert(computed === 1, "post-restart call refit instead of loading")
    assert(ArtifactStore.loads === loadsBefore + 1)

    ArtifactStore.invalidate(spark, "spec_longs", key)
    SessionCache.clear()
    assert(call() === Seq(7L, -1L, 42L))
    assert(computed === 2, "invalidate must force a refit")
  }

  test("centroid matrices round-trip the parquet artifact exactly") {
    val key = Seq("spec", "cents", System.nanoTime().toString)
    val cents: Seq[Seq[Double]] =
      Seq(Seq(1.5, -2.25, 0.0), Seq(Double.MinPositiveValue, 3.14, -0.5))
    ArtifactStore.getOrCompute(spark, "spec_cents", key,
      ArtifactStore.CentroidsCodec)(cents)
    SessionCache.clear()
    val loaded = ArtifactStore.getOrCompute(spark, "spec_cents", key,
      ArtifactStore.CentroidsCodec) {
      fail("should have loaded from disk"): Seq[Seq[Double]]
    }
    assert(loaded === cents) // bit-exact doubles, order restored by idx
    ArtifactStore.invalidate(spark, "spec_cents", key)
  }

  test("x4_ivf_topk serves from its persisted artifact in a fresh session") {
    // warm: fit whatever this JVM hasn't fitted yet, then simulate restart
    val ivfWarm = SparkEntry.queries("x4_ivf_topk")(spark, sf).collect()
    SessionCache.clear()

    val fitsBefore = ArtifactStore.fits
    val ivfCold = SparkEntry.queries("x4_ivf_topk")(spark, sf).collect()
    assert(ArtifactStore.fits === fitsBefore,
      "post-restart query re-fitted instead of loading the index artifact")
    assert(ivfCold.toSeq === ivfWarm.toSeq,
      "artifact-served IVF ranking differs from the fitted one")
  }
}
