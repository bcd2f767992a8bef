package graft.etl

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.TestSpark

/** ScalaCheck invariants for the core transform (SURVEY §5.3). */
object MarketEtlProps extends Properties("MarketEtl") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val barsGen = for {
    nA <- Gen.choose(0, 12)
    nB <- Gen.choose(0, 12)
    closes <- Gen.listOfN(nA + nB, Gen.choose(1.0, 1000.0))
  } yield {
    val (a, b) = closes.splitAt(nA)
    a.zipWithIndex.map { case (c, i) => ("A", i, c) } ++
      b.zipWithIndex.map { case (c, i) => ("B", i, c) }
  }

  /** Shrinking can produce duplicate (ativo, d) keys the generator never
    * emits; re-index per asset so window order stays total and positions
    * stay 0-based contiguous. */
  private def reindex(rows: Seq[(String, Int, Double)]): Seq[(String, Int, Double)] =
    rows.groupBy(_._1).toSeq.flatMap { case (a, rs) =>
      rs.map(_._3).zipWithIndex.map { case (c, i) => (a, i, c) }
    }

  property("mm_7d is null iff fewer than n rows precede in the partition") =
    forAll(barsGen, Gen.choose(2, 7)) { (rows0, n) =>
      val rows = reindex(rows0)
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("ativo", "d", "close")
        val out = MarketEtl.rollingMean(df, Seq("ativo"), Seq(col("d")), "close", n, "mm")
          .select("ativo", "d", "mm").collect()
        out.forall { r =>
          val pos = r.getInt(1) // 0-based position within asset
          val isNull = r.isNullAt(2)
          isNull == (pos < n - 1)
        }
      }
    }

  property("rolling mean value equals the mean of the trailing n closes") =
    forAll(barsGen) { rows0 =>
      val rows = reindex(rows0)
      if (rows.isEmpty) true
      else {
        val n = 3
        val df = rows.toDF("ativo", "d", "close")
        val out = MarketEtl.rollingMean(df, Seq("ativo"), Seq(col("d")), "close", n, "mm")
          .select("ativo", "d", "mm").filter(col("mm").isNotNull).collect()
        val byAsset = rows.groupBy(_._1)
        out.forall { r =>
          val series = byAsset(r.getString(0)).sortBy(_._2).map(_._3)
          val pos = r.getInt(1)
          val expect = series.slice(pos - n + 1, pos + 1).sum / n
          math.abs(r.getDouble(2) - expect) < 1e-9
        }
      }
    }

  /** Random (asset, month, rows-per-month) shapes: sparse months (1-row
    * groups), dense months, 1-3 assets — keys shorter than the frame,
    * keys spanning many range partitions, and partition seams inside a
    * key's first n-1 rows.
    */
  private val monthDataGen: Gen[List[(String, java.sql.Timestamp, Double)]] = {
    val assetGen = for {
      months <- Gen.someOf(0 until 12)
      counts <- Gen.listOfN(months.size, Gen.choose(1, 9))
      closes <- Gen.listOfN(math.max(counts.sum, 0), Gen.choose(1.0, 100.0))
    } yield (months.toList.sorted, counts, closes)
    for {
      nA <- Gen.choose(1, 3)
      perAsset <- Gen.listOfN(nA, assetGen)
    } yield perAsset.zipWithIndex.flatMap { case ((months, counts, closes), ai) =>
      var idx = 0
      months.zip(counts).flatMap { case (m, c) =>
        (1 to c).map { day =>
          val t = java.sql.Timestamp.valueOf(f"2024-${m + 1}%02d-$day%02d 00:00:00")
          val v = closes(idx); idx += 1
          (s"A$ai", t, v)
        }
      }
    }
  }

  property("rollingMean is bit-identical with the keyed rewrite on and off") =
    // NoShrink: shrinking can mint duplicate (asset, ts) keys, making the
    // window order non-total and the comparison meaningless
    org.scalacheck.Prop.forAllNoShrink(monthDataGen, Gen.choose(2, 5),
        Gen.choose(1, 8)) { (rows, n, shuffleParts) =>
      rows.isEmpty || {
        val df = rows.toDF("ativo", "ts", "close")
        def run(rewrite: Boolean) = TestSpark.withConf(
            TestSpark.seams(shuffleParts) ++ Seq(
              graft.plans.KeyedWindowRule.RewriteConf -> rewrite.toString,
              // the frames are tiny: without this the small-frame guard
              // keeps Spark's plan and both sides would be the same plan
              graft.plans.KeyedWindowRule.SmallFrameConf -> "0"): _*) {
          val out = MarketEtl.rollingMean(
            df, Seq("ativo"), Seq(col("ts")), "close", n, "mm")
          val keyed = graft.plans.NoKey.nodes(out.queryExecution.executedPlan)
            .exists(_.isInstanceOf[graft.plans.KeyedBoundedAggExec])
          val canon = out.select("ativo", "ts", "mm").collect()
            .map(r => (r.getString(0), r.getTimestamp(1).getTime,
              if (r.isNullAt(2)) None
              else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))
            .sortBy(x => (x._1, x._2)).toSeq
          (keyed, canon)
        }
        val (healed, on) = run(rewrite = true)
        val (stock, off) = run(rewrite = false)
        healed && !stock && on == off
      }
    }

  property("packSequences: every bin total <= budget + max doc, bins ordered by id") =
    // bin INDICES may skip (a doc larger than the budget advances the
    // prefix past whole bins) — the documented guarantees are the total
    // bound and that bin assignment is monotone in id within a shard
    org.scalacheck.Prop.forAllNoShrink(
      Gen.listOf(Gen.choose(1L, 200L)), Gen.choose(64L, 256L)) { (toks, budget) =>
      toks.isEmpty || {
        val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "n_tok")
        val out = graft.text.TextOps
          .packSequences(df, "doc_id", "n_tok", budget, shards = 4)
          .select("doc_id", "__shard", "__bin", "n_tok").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val maxDoc = toks.max
        val binTotals = out.groupBy(x => (x._2, x._3)).map(_._2.map(_._4).sum)
        val monotone = out.groupBy(_._2).values.forall { rows =>
          val byId = rows.sortBy(_._1).map(_._3).toSeq
          byId == byId.sorted
        }
        binTotals.forall(_ <= budget + maxDoc) && monotone
      }
    }

  property("union-by-name column set is the union of the inputs'") =
    forAll(Gen.someOf("a", "b", "c"), Gen.someOf("b", "c", "d")) { (l, r) =>
      l.isEmpty || r.isEmpty || {
        def frame(cols: Seq[String]) =
          Seq(1).toDF("x").select(cols.map(c => lit(1).as(c)): _*)
        val u = frame(l.toSeq).unionByName(frame(r.toSeq), allowMissingColumns = true)
        u.columns.toSet == (l.toSet ++ r.toSet)
      }
    }
}
