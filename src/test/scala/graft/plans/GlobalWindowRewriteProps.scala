package graft.plans

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.TestSpark

/** ScalaCheck over the WHOLE rewrite family: on arbitrary null-salted
  * inputs at arbitrary input AND shuffle partition counts (1–32 range
  * partitions, AQE coalescing off, so the one empty key of the no-key
  * execs straddles every seam — partitions shorter than a frame or an
  * offset reach included), a battery covering every rewritten shape —
  * ranks, cume_dist, running aggregates in all three frames,
  * whole-frame totals, lag/lead — must return EXACTLY what the
  * single-partition `WindowExec` returns (rule toggled off). The
  * deterministic specs pin plan shapes; this pins the value identity on
  * inputs nobody hand-picked. Orders always carry the unique id so
  * position-dependent outputs are well-defined in either plan.
  */
object GlobalWindowRewriteProps extends Properties("GlobalWindowRewrite") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  // small value domain → heavy ties; None → null v
  private val rows = Gen.listOf(Gen.option(Gen.choose(0L, 6L)))
  private val parts = Gen.choose(1, 8)
  private val shuffleParts = Gen.choose(1, 32)

  private val battery =
    """SELECT id,
      |  row_number()  OVER (ORDER BY v, id) AS rn,
      |  rank()        OVER (ORDER BY v) AS rk,
      |  dense_rank()  OVER (ORDER BY v) AS drk,
      |  ntile(3)      OVER (ORDER BY v, id) AS nt,
      |  percent_rank() OVER (ORDER BY v) AS pr,
      |  cume_dist()   OVER (ORDER BY v) AS cd,
      |  sum(v)   OVER (ORDER BY v) AS cs_range,
      |  sum(v)   OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs_rows,
      |  sum(v)   OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cs_excl,
      |  count(v) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
      |  min(v)   OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn,
      |  max(concat('s', CAST(v AS STRING))) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mxs,
      |  max(concat('t', CAST(v AS STRING))) OVER () AS tots,
      |  avg(v)   OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av,
      |  first_value(v) OVER (ORDER BY v, id) AS fv,
      |  first_value(v) IGNORE NULLS OVER (ORDER BY v, id) AS fvn,
      |  last_value(v)  OVER (ORDER BY v) AS lv_range,
      |  first_value(v) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS gfv,
      |  last_value(v)  OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS glv,
      |  sum(v)   OVER () AS tot,
      |  max(id)  OVER () AS mxid,
      |  lag(v)   OVER (ORDER BY v, id) AS pv,
      |  lag(v, 3, -1) OVER (ORDER BY v, id) AS pv3,
      |  lead(v, 2)    OVER (ORDER BY v, id) AS nv2,
      |  lag(v) IGNORE NULLS OVER (ORDER BY v, id) AS pvn,
      |  lag(v, 1, -7) IGNORE NULLS OVER (ORDER BY v, id) AS pvnd,
      |  avg(v)   OVER (ORDER BY v, id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS bav,
      |  sum(v)   OVER (ORDER BY v, id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS bsx,
      |  min(v)   OVER (ORDER BY v, id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bmn,
      |  max(concat('b', CAST(v AS STRING))) OVER (ORDER BY v, id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS bmxs,
      |  last_value(v) OVER (ORDER BY v, id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS blv,
      |  avg(v)   OVER (ORDER BY v, id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS cav,
      |  sum(v)   OVER (ORDER BY v, id ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fsum,
      |  sum(v)   OVER (ORDER BY v, id ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS csum0,
      |  min(v)   OVER (ORDER BY v, id ROWS BETWEEN 1 FOLLOWING AND 4 FOLLOWING) AS fmn,
      |  stddev_samp(v) OVER (ORDER BY v, id ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING) AS bsd,
      |  nth_value(v, 3) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n3r,
      |  nth_value(v, 3) OVER (ORDER BY v, id) AS n3df,
      |  nth_value(v, 2) IGNORE NULLS OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2in,
      |  nth_value(v, 2) OVER (ORDER BY v, id ROWS BETWEEN 4 PRECEDING AND 1 FOLLOWING) AS bn2,
      |  nth_value(v, 2) IGNORE NULLS OVER (ORDER BY v, id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS bn2in,
      |  lag(v, 2) IGNORE NULLS OVER (ORDER BY v, id) AS pvn2,
      |  lag(v, 3, -9) IGNORE NULLS OVER (ORDER BY v, id) AS pvn3d,
      |  nth_value(v, 3) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n3tot,
      |  nth_value(v, 2) IGNORE NULLS OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n2totin,
      |  sum(v) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND 3 PRECEDING) AS rsh3,
      |  count(*) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) AS rlk2
      |FROM gwr_t""".stripMargin

  // RANGE value-distance frames (r11 #1, two-sided since r12) at
  // GENERATED signed (lo, up): the frame set is value-determined, so
  // only tie-insensitive outputs (and first/last of the order column
  // itself) are well-defined under the tie-heavy single-key order —
  // exactly the RangeAggExec contract
  private def rangeSpell(x: Long): String =
    if (x < 0) s"${-x} PRECEDING"
    else if (x == 0) "CURRENT ROW"
    else s"$x FOLLOWING"

  // None = the half-unbounded arm (r12 #3): UNBOUNDED PRECEDING as a
  // lower bound / UNBOUNDED FOLLOWING as an upper bound; both-None is
  // excluded (that is the whole-frame total, a different rewrite).
  // INWARD arms (r13 — the partner bound cuts into the seeded side)
  // are commutative-fold-only, so first/last drop out of their battery
  private def rangeBattery(lo: Option[Long], up: Option[Long]) = {
    val inward = (lo.isEmpty && up.exists(_ < 0L)) ||
      (up.isEmpty && lo.exists(_ > 0L))
    val firstLast =
      if (inward) ""
      else """|  first_value(v) OVER w AS rfv,
              |  last_value(v)  OVER w AS rlv,""".stripMargin + "\n"
    s"""SELECT id,
       |$firstLast  sum(v)   OVER w AS rs,
       |  count(v) OVER w AS rc,
       |  count(*) OVER w AS rcs,
       |  min(id)  OVER w AS rmn,
       |  max(id)  OVER w AS rmx,
       |  avg(v)   OVER w AS rav
       |FROM gwr_rt
       |WINDOW w AS (ORDER BY v
       |  RANGE BETWEEN ${lo.map(rangeSpell).getOrElse("UNBOUNDED PRECEDING")}
       |    AND ${up.map(rangeSpell).getOrElse("UNBOUNDED FOLLOWING")})
       |""".stripMargin
  }

  // unbounded arms since r13 take ANY partner bound: outward partners
  // ride the all-covering seeds, inward partners (up < 0 with an
  // unbounded lower / lo > 0 with an unbounded upper) the band-split
  // seeds
  private val rangeBounds: Gen[(Option[Long], Option[Long])] = for {
    lo <- Gen.frequency(3 -> Gen.choose(-8L, 8L).map(Some(_): Option[Long]),
      1 -> Gen.const(None: Option[Long]))
    up <- lo match {
      case Some(l) =>
        Gen.frequency(3 -> Gen.choose(l, 8L).map(Some(_): Option[Long]),
          1 -> Gen.const(None: Option[Long]))
      case None => Gen.choose(-8L, 8L).map(Some(_): Option[Long])
    }
  } yield (lo, up)

  property("RANGE value-distance frames are bit-identical at arbitrary signed bounds") =
    forAllNoShrink(rows, parts, shuffleParts, rangeBounds) {
        (vs, np, sp, bounds) =>
      val (lo, up) = bounds
      import spark.implicits._
      val df = spark.createDataset(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })(
        org.apache.spark.sql.Encoders.product[(Long, Option[Long])])
        .toDF("id", "v")
        .repartition(np)
      df.createOrReplaceTempView("gwr_rt")
      TestSpark.withConf(TestSpark.seams(sp) :+
          (KeyedWindowRule.SmallFrameConf -> "0"): _*) {
        val on = spark.sql(rangeBattery(lo, up))
        val onRows = on.collect().map(_.toString).sorted.toSeq
        val planned = vs.nonEmpty // empty input may fold the exec away
        // UNBOUNDED PRECEDING AND CURRENT ROW is the running shape,
        // captured by the (cheaper) running arm upstream of the range arm
        val planStr = on.queryExecution.executedPlan.toString
        val hasExec = planStr.contains("RangeAgg") ||
          (lo.isEmpty && up.contains(0L) && planStr.contains("RunningAgg"))
        spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
        val off =
          try spark.sql(rangeBattery(lo, up)).collect()
            .map(_.toString).sorted.toSeq
          finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
        (!planned || hasExec) && onRows == off
      }
    }

  property("the full battery is bit-identical to WindowExec on arbitrary input") =
    forAllNoShrink(rows, parts, shuffleParts) { (vs, np, sp) =>
      import spark.implicits._
      val df = spark.createDataset(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })(
        org.apache.spark.sql.Encoders.product[(Long, Option[Long])])
        .toDF("id", "v")
        .repartition(np)
      df.createOrReplaceTempView("gwr_t")
      // fixtures here are tiny; without this the cost guard keeps them
      // on the window and the property is vacuous (restored per draw —
      // the shared session serves other suites after this one)
      TestSpark.withConf(TestSpark.seams(sp) :+
          (KeyedWindowRule.SmallFrameConf -> "0"): _*) {
        val on = spark.sql(battery).collect().map(_.toString).sorted.toSeq
        spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "false")
        val off =
          try spark.sql(battery).collect().map(_.toString).sorted.toSeq
          finally spark.conf.set(KeyedWindowRule.GlobalRewriteConf, "true")
        on == off
      }
    }
}
