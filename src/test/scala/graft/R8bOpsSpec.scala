package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stats.Drift

/** Semantic invariants for the round-8 pipeline-health diagnostics
  * (x60 KS drift, x61 TV drift, x62 skew report, x63 volume anomaly) —
  * properties the DuckDB oracle proves by agreement but cannot NAME.
  */
class R8bOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---- Drift kernels: metric axioms on constructed distributions ----

  test("drift: identical distributions measure zero, shifted measure large") {
    import spark.implicits._
    // 'same' duplicates the baseline exactly; 'shift' is disjoint support.
    val base = (1 to 200).map(i => ("base", i % 10))
    val same = base.map { case (_, v) => ("same", v) }
    val shift = base.map { case (_, v) => ("shift", v + 100) }
    val df = (base ++ same ++ shift).toDF("grp", "v")
    val ks = Drift.ksDrift(df, "grp", col("v").cast("long"), "base")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ks("same") === 0L)
    assert(ks("shift") === 1000L, "disjoint support = maximal ECDF gap")
    val tv = Drift.tvDrift(df, "grp", col("v").cast("long"), "base")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(tv("same") === 0L)
    assert(tv("shift") === 1000L, "disjoint support = maximal TV distance")
  }

  test("drift: per-mill statistics stay within [0, 1000] on the fixture") {
    val ks = q("x60_ks_drift").collect()
    assert(ks.nonEmpty)
    ks.foreach { r =>
      val v = r.getLong(3)
      assert(v >= 0 && v <= 1000, s"ks_permill $v out of range in $r")
    }
    val tv = q("x61_tv_drift").collect()
    assert(tv.nonEmpty)
    tv.foreach { r =>
      val v = r.getLong(3)
      assert(v >= 0 && v <= 1000, s"tv_permill $v out of range in $r")
    }
  }

  test("x60: one row per non-baseline event_type, baseline excluded") {
    val rows = q("x60_ks_drift").collect()
    val types = rows.map(_.getString(0)).toSet
    assert(!types.contains("view"), "baseline must not compare to itself")
    val all = graft.tables.Tables.events(spark, sf)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types === all - "view")
  }

  // ---- X62 skew report ----

  test("x62: ranked by count desc, salt >= 1, uniform key ~ 1000 permill") {
    val rows = q("x62_skew_report").orderBy("rank").collect()
    assert(rows.map(_.getInt(0)).toSeq === (1 to rows.length))
    val cnts = rows.map(_.getLong(2))
    assert(cnts.sameElements(cnts.sorted(Ordering[Long].reverse)),
      "top keys must be in descending count order")
    rows.foreach { r =>
      assert(r.getLong(7 - 1) >= 1L, s"rec_salt must be >= 1 in $r")
      // skew_permill = cnt / avg in per-mill: >= 1000 for the heaviest
      // keys of any distribution (the max is never below the mean)
      assert(r.getLong(5) >= 1000L, s"heaviest keys sit at/above the mean: $r")
    }
    // recommended salt levels the heaviest key: cnt / salt <= avg
    val r0 = rows.head
    val avg = r0.getLong(3) / r0.getLong(4)
    assert(r0.getLong(2) <= r0.getLong(6) * avg,
      "salt factor must level the heaviest key to at most the uniform share")
  }

  // ---- X63 volume anomaly ----

  test("x63: one row per day; flags agree with the stated MAD rule") {
    val rows = q("x63_volume_anomaly").collect()
    val days = rows.map(_.getLong(0))
    assert(days.distinct.length === days.length)
    assert(rows.map(_.getLong(2)).distinct.length === 1, "med is global")
    assert(rows.map(_.getLong(3)).distinct.length === 1, "mad is global")
    rows.foreach { r =>
      val (cnt, med, mad, flag) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
      val expected = if (math.abs(cnt - med) * 10 > mad * 35) 1 else 0
      assert(flag === expected, s"flag mismatch in $r")
    }
    // a planted 10x day would flag: verify rule sensitivity on a copy
    val med = rows.head.getLong(2); val mad = rows.head.getLong(3)
    assert(math.abs(med * 10 - med) * 10 > mad * 35,
      "a 10x-volume day must trip the rule on this fixture")
  }

  // ---- X64 drift gate ----

  test("x64: verdict agrees with the threshold; baseline is durable") {
    val rows = q("x64_drift_gate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = if (r.getLong(3) <= 250) "keep" else "quarantine"
      assert(r.getString(4) === expected, s"verdict mismatch in $r")
    }
    // the baseline histogram must persist as an artifact (the gate must
    // not recompute the corpus histogram per run)
    val dir = graft.util.ArtifactStore.artifactDir(spark, "drift_baseline",
      Seq(sf, graft.tables.Tables.stamp(spark, sf, "documents"), "n_chars_div50"))
    assert(new java.io.File(dir, "_SUCCESS").exists(), s"missing $dir")
    val before = dir.lastModified()
    q("x64_drift_gate").collect()
    assert(dir.lastModified() === before, "re-run must reuse, not rebuild")
  }

  test("x64b: absorb == full rebuild bit-for-bit; versions are durable") {
    import graft.stats.Drift
    import org.apache.spark.sql.functions.expr
    val full = Drift.ensureBaseline(spark,
      graft.tables.Tables.documents(spark, sf), expr("n_chars div 50"),
      Seq(sf, graft.tables.Tables.stamp(spark, sf, "documents"), "n_chars_div50"))
      .collect().map(_.toSeq).toSet
    val absorbed = q("x64b_baseline_absorb").collect().map(_.toSeq).toSet
    assert(absorbed === full, "absorbed baseline must equal the rebuild")
    // both versions coexist on disk (consumers roll keys, never lose one)
    Seq("absorb_even", "absorb_full").foreach { v =>
      val dir = graft.util.ArtifactStore.artifactDir(spark, "drift_baseline",
        Seq(sf, graft.tables.Tables.stamp(spark, sf, "documents"), v))
      assert(new java.io.File(dir, "_SUCCESS").exists(), s"missing $v")
    }
  }

  test("x72: funnel counts are monotone and consistent with the stages") {
    val rows = q("x72_release_pipeline").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, dd, rel) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(raw >= dd && dd >= rel, s"funnel must be monotone: $r")
      assert(rel >= 0)
    }
    // ~80% admission overall (salted draw < 800), wide noise floor
    val dd = rows.map(_.getLong(2)).sum
    val rel = rows.map(_.getLong(3)).sum
    assert(rel * 1000 >= dd * 650 && rel * 1000 <= dd * 950,
      s"released $rel of $dd deduped is far from the 80% draw")
  }

  // ---- X73 / X74 market analytics ----

  test("x73: VWAP lies within each month's price range; volumes positive") {
    val rows = q("x73_vwap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vwap = r.getLong(4)
      // fixture closes are 100.0..199.7 -> cents in [9900, 20100]
      assert(vwap >= 9900 && vwap <= 20100, s"VWAP outside price band: $r")
      assert(r.getLong(3) > 0)
    }
  }

  test("x74: candle invariants hold (low <= open,close <= high)") {
    val rows = q("x74_ohlc_resample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(l <= h, s"low above high: $r")
      // fixture construction: High = Low + 200 cents, Close between
      assert(c <= h && c >= l, s"close outside candle: $r")
      assert(o >= 9900 && o <= 20100, s"open outside price band: $r")
    }
    // weekly resample of 120 daily bars per asset: 17-19 weeks each
    val byAsset = rows.groupBy(_.getString(0)).map(_._2.length)
    byAsset.foreach(n => assert(n >= 17 && n <= 19, s"week count $n"))
  }

  test("x75: drawdown in [0, 1000); x76 moments satisfy Cauchy-Schwarz") {
    val dd = q("x75_max_drawdown").collect()
    assert(dd.nonEmpty)
    dd.foreach { r =>
      val v = r.getLong(1)
      assert(v >= 0 && v < 1000, s"drawdown out of range: $r")
    }
    val rs = q("x76_return_stats").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val (n, s1, s2, mn, mx) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(n === 119L, "120 bars -> 119 returns per asset")
      assert(mn <= mx)
      // E[x]^2 <= E[x^2] in integer moments: s1*s1 <= n*s2
      assert(s1 * s1 <= n * s2, s"moment inequality violated: $r")
    }
  }

  test("x77: components yield |corr| <= 1 and agree with x76's moments") {
    val rows = q("x77_pair_correlation").collect()
    assert(rows.nonEmpty)
    val x76 = q("x76_return_stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    rows.foreach { r =>
      val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
      val (sa, sb, sab, saa, sbb) = (r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
      // the pairwise marginals must equal the per-asset x76 moments
      assert((n, sa, saa) === x76(a), s"marginals of $a drifted: $r")
      assert((n, sb, sbb) === x76(b), s"marginals of $b drifted: $r")
      val cov = n.toDouble * sab - sa.toDouble * sb
      val va = n.toDouble * saa - sa.toDouble * sa
      val vb = n.toDouble * sbb - sb.toDouble * sb
      val corr = cov / math.sqrt(va * vb)
      assert(corr >= -1.0001 && corr <= 1.0001, s"corr $corr out of range")
    }
  }

  // ---- X66 k-anonymity ----

  test("x66: risk flags agree with the k/l rule; QI partition is complete") {
    val rows = q("x66_k_anonymity").collect()
    rows.foreach { r =>
      val expected =
        if (r.getLong(2) < 5 || r.getLong(3) < 2) 1 else 0
      assert(r.getInt(4) === expected, s"risk flag mismatch in $r")
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total === graft.tables.Tables.customer(spark, sf).count(),
      "QI groups must partition the table")
  }

  // ---- X68 / X69 cross-source duplication ----

  test("x68: every source pairs with the planted re-crawl; ordering strict") {
    val rows = q("x68_source_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getString(0) < r.getString(1),
      s"pair must be strictly ordered: $r"))
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    // the %5 slice hits SOME sources at any fixture size; every matrix
    // row must involve a planted re-crawl (the raw fixture shares nothing)
    assert(pairs.count(p => p._1.startsWith("recrawl") ||
      p._2.startsWith("recrawl")) === pairs.size,
      s"raw fixture sources must not pair with each other: $pairs")
    assert(pairs.exists(p => p._2 == "recrawl_a" || p._1 == "recrawl_a"))
    assert(pairs.contains(("recrawl_a", "recrawl_b")),
      "nested re-crawls must share their intersection")
  }

  test("x69: cluster sizes partition the planted corpus; sizes are {1,2,3}") {
    val rows = q("x69_dup_cluster_profile").collect()
    val profile = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(profile.keySet === Set(1L, 2L, 3L),
      s"plant yields exactly singletons, pairs, triples: $profile")
    val total = profile.map { case (sz, n) => sz * n }.sum
    val base = graft.tables.Tables.documents(spark, sf).count()
    val expected = base + base / 5 + base / 10 // plant slices (ids 0-based)
    assert(math.abs(total - expected) <= 2,
      s"cluster mass $total must equal planted corpus size ~$expected")
  }

  // ---- X60b sketch KS twin ----

  test("x60b: sketch KS tracks exact KS within the rank-error tolerance") {
    val exact = q("x60_ks_drift").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = q("x60b_ks_drift_sketch").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (t, ks) =>
      // KLL k=200: ±1.65% rank error per side, plus x60's 2permill
      // binning; 60permill is a comfortable envelope at any redraw
      assert(math.abs(ks - exact(t)) <= 60,
        s"sketch KS $ks vs exact ${exact(t)} for $t")
    }
  }

  // ---- X70 embedding drift ----

  test("x70: one row per label; cosine bounded; centroids near-global here") {
    val rows = q("x70_embedding_drift").collect()
    val labels = graft.tables.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(rows.length.toLong === labels)
    rows.foreach { r =>
      val c = r.getLong(2)
      assert(c >= -1000 && c <= 1000, s"cosine out of range: $r")
    }
    assert(rows.map(_.getLong(1)).sum ===
      graft.tables.Tables.embeddings(spark, sf).count())
  }

  // ---- plan shape: the corpus-scale stage is ONE partial aggregation ----

  test("x60/x61: corpus scan feeds a partial-agg count, windows are binned") {
    val p = q("x60_ks_drift").queryExecution.executedPlan.toString
    // partial-then-final hash aggregation on the scan side
    assert(p.contains("HashAggregate"), p.take(2000))
    // the grid cross join must be broadcast, never a shuffle product
    assert(!p.contains("CartesianProduct"),
      "grid expansion must broadcast the tiny sides")
  }
}
