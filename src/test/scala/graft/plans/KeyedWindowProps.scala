package graft.plans

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.TestSpark

/** ScalaCheck over the KEYED rewrite family: on arbitrary null-salted
  * inputs at arbitrary partition counts and key moduli, a battery of
  * per-key running aggregates (all three frames), offsets, and the
  * ignore-nulls lag must return EXACTLY what Spark's hash-clustered
  * `WindowExec` returns (rule toggled off). Keys straddle range
  * partitions freely here (1–32 drawn shuffle partitions, AQE coalescing
  * off, over ≤ a few hundred rows and ≤ 4 keys), so the boundary
  * stitching — seeds, rings, pending drains, key resets — is exercised
  * on inputs nobody hand-picked.
  */
object KeyedWindowProps extends Properties("KeyedWindowRewrite") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val rows = Gen.listOf(Gen.option(Gen.choose(0L, 6L)))
  private val parts = Gen.choose(1, 8)
  private val shuffleParts = Gen.choose(1, 32)
  private val modulus = Gen.choose(1, 4)

  private def battery(k: Int) =
    s"""SELECT id,
       |  row_number()   OVER wo AS rn,
       |  rank()         OVER (PARTITION BY pmod(id, $k) ORDER BY v) AS rk,
       |  dense_rank()   OVER (PARTITION BY pmod(id, $k) ORDER BY v) AS drk,
       |  ntile(3)       OVER wo AS nt,
       |  percent_rank() OVER (PARTITION BY pmod(id, $k) ORDER BY v) AS pr,
       |  cume_dist()    OVER (PARTITION BY pmod(id, $k) ORDER BY v) AS cd,
       |  sum(v)   OVER (PARTITION BY pmod(id, $k) ORDER BY v) AS cs_range,
       |  sum(v)   OVER w AS cs,
       |  count(v) OVER w AS cn,
       |  min(v)   OVER w AS mn,
       |  max(concat('s', CAST(v AS STRING))) OVER w AS mxs,
       |  avg(v)   OVER w AS av,
       |  first_value(v) OVER w AS fv,
       |  last_value(v)  OVER w AS lv,
       |  sum(v)   OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cs_excl,
       |  lag(v)        OVER wo AS pv,
       |  lag(v, 3, -1) OVER wo AS pv3,
       |  lead(v, 2)    OVER wo AS nv2,
       |  lag(v) IGNORE NULLS OVER wo AS pvn,
       |  lag(v, 1, -7) IGNORE NULLS OVER wo AS pvnd,
       |  avg(v) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS bav,
       |  sum(v) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS bsx,
       |  sum(v) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS bs0,
       |  max(concat('b', CAST(v AS STRING))) OVER (PARTITION BY pmod(id, $k)
       |    ORDER BY v, id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS bmxs,
       |  stddev_samp(v) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bsd,
       |  sum(v) OVER (PARTITION BY pmod(id, $k)) AS ktot,
       |  first_value(v) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ofv,
       |  last_value(v)  OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS olv,
       |  nth_value(v, 3) OVER w AS n3r,
       |  nth_value(v, 3) OVER wo AS n3df,
       |  nth_value(v, 2) IGNORE NULLS OVER w AS n2in,
       |  nth_value(v, 2) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS bn2,
       |  lag(v, 2) IGNORE NULLS OVER wo AS pvn2,
       |  lag(v, 3, -9) IGNORE NULLS OVER wo AS pvn3d,
       |  nth_value(v, 3) OVER (PARTITION BY pmod(id, $k) ORDER BY v, id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n3tot
       |FROM kwp_t
       |WINDOW w AS (PARTITION BY pmod(id, $k) ORDER BY v, id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |       wo AS (PARTITION BY pmod(id, $k) ORDER BY v, id)
       |""".stripMargin

  // keyed RANGE value-distance frames (r11 #1; SIGNED two-sided forms
  // since r12 — the keyed forward stitch chains key-scoped): per-key
  // value windows with key resets across range-partition seams;
  // tie-insensitive outputs only (the frame SET is value-determined,
  // member order isn't)
  // None = the half-unbounded arm (r12 #3): key-scoped prefix/suffix
  // seeds across range-partition seams; both-None excluded (whole-frame
  // total, a different rewrite)
  private def rangeBattery(k: Int, lo: Option[Long], up: Option[Long]) = {
    def spell(x: Long) =
      if (x < 0) s"${-x} PRECEDING"
      else if (x == 0) "CURRENT ROW"
      else s"$x FOLLOWING"
    // INWARD arms (r13) are commutative-fold-only: first/last drop out
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
       |FROM kwp_rt
       |WINDOW w AS (PARTITION BY pmod(id, $k) ORDER BY v
       |  RANGE BETWEEN ${lo.map(spell).getOrElse("UNBOUNDED PRECEDING")}
       |    AND ${up.map(spell).getOrElse("UNBOUNDED FOLLOWING")})
       |""".stripMargin
  }

  // unbounded arms since r13 take ANY partner bound: outward partners
  // ride the all-covering key-scoped seeds, inward partners the
  // band-split seeds
  private val keyedRangeBounds: Gen[(Option[Long], Option[Long])] = for {
    lo <- Gen.frequency(3 -> Gen.choose(-8L, 8L).map(Some(_): Option[Long]),
      1 -> Gen.const(None: Option[Long]))
    up <- lo match {
      case Some(l) =>
        Gen.frequency(3 -> Gen.choose(l, 8L).map(Some(_): Option[Long]),
          1 -> Gen.const(None: Option[Long]))
      case None => Gen.choose(-8L, 8L).map(Some(_): Option[Long])
    }
  } yield (lo, up)

  property("keyed RANGE value-distance frames are bit-identical at arbitrary distances") =
    forAllNoShrink(rows, parts, shuffleParts, modulus, keyedRangeBounds) {
        (vs, np, sp, k, bounds) =>
      val (lo, up) = bounds
      import spark.implicits._
      val df = spark.createDataset(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })(
        org.apache.spark.sql.Encoders.product[(Long, Option[Long])])
        .toDF("id", "v")
        .repartition(np)
      df.createOrReplaceTempView("kwp_rt")
      TestSpark.withConf(TestSpark.seams(sp) :+
          (KeyedWindowRule.SmallFrameConf -> "0"): _*) {
        val on = spark.sql(rangeBattery(k, lo, up))
        val onRows = on.collect().map(_.toString).sorted.toSeq
        val planned = vs.nonEmpty
        // UNBOUNDED PRECEDING AND CURRENT ROW is the running shape,
        // captured by the (cheaper) running arm upstream of the range arm
        val planStr = on.queryExecution.executedPlan.toString
        val hasExec = planStr.contains("RangeAgg") ||
          (lo.isEmpty && up.contains(0L) && planStr.contains("RunningAgg"))
        spark.conf.set(KeyedWindowRule.RewriteConf, "false")
        val off =
          try spark.sql(rangeBattery(k, lo, up)).collect().map(_.toString).sorted.toSeq
          finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
        (!planned || hasExec) && onRows == off
      }
    }

  property("the keyed battery is bit-identical to WindowExec on arbitrary input") =
    forAllNoShrink(rows, parts, shuffleParts, modulus) { (vs, np, sp, k) =>
      import spark.implicits._
      val df = spark.createDataset(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })(
        org.apache.spark.sql.Encoders.product[(Long, Option[Long])])
        .toDF("id", "v")
        .repartition(np)
      df.createOrReplaceTempView("kwp_t")
      TestSpark.withConf(TestSpark.seams(sp) :+
          (KeyedWindowRule.SmallFrameConf -> "0"): _*) {
        val on = spark.sql(battery(k)).collect().map(_.toString).sorted.toSeq
        spark.conf.set(KeyedWindowRule.RewriteConf, "false")
        val off =
          try spark.sql(battery(k)).collect().map(_.toString).sorted.toSeq
          finally spark.conf.set(KeyedWindowRule.RewriteConf, "true")
        on == off
      }
    }
}
