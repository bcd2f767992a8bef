package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{CosineSimilarity, MinHashBandKeys, RepetitionStats, RollingHash31, SignLshKeys, SimHash31, WordShingles}

/** `SparkSessionExtensions` hook exposing the native expressions as SQL
  * functions, so `spark.sql("SELECT graft_cosine_similarity(a, b) …")`
  * works from any SQL surface. Enable with:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or programmatically via `ColumnBridge.registerFunctions` on an already
  * running session — extensions only apply at session build time).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // opt-in interval-join rewrite (spark.graft.rangeJoin.bucketWidth > 0)
    ext.injectOptimizerRule(session => graft.plans.RangeJoinRule(session))
    // ON-by-default greatest-n-per-group self-join elimination: the
    // `t JOIN (SELECT k, max(v) FROM t GROUP BY k)` anti-pattern becomes a
    // one-scan windowed filter, which the window-rewrite family below then
    // heals further; opt out with spark.graft.argmaxJoin.rewrite=false
    ext.injectOptimizerRule(session => graft.plans.ArgMaxJoinRule(session))
    // ON-by-default top-n-per-group correlated-count collapse: the
    // `WHERE (SELECT count(*) … WHERE k=k AND v>v) < n` spelling becomes a
    // one-scan rank-window filter BEFORE Catalyst's quadratic domain-join
    // decorrelation can fire; opt out with spark.graft.topn.rewrite=false
    ext.injectPlanNormalizationRule(session => graft.plans.TopNSubqueryRule(session))
    // ON-by-default rank-subquery JOIN collapse (the third top-n-per-group
    // spelling): `t JOIN (SELECT …, row_number() OVER … rn FROM t) ON
    // t.uid = r.uid AND rn <= n` becomes the one-scan windowed filter,
    // gated on MEASURED uniqueness of a paired column; opt out with
    // spark.graft.rankJoin.rewrite=false
    ext.injectPlanNormalizationRule(session => graft.plans.RankJoinRule(session))
    // ON-by-default rewrite of unpartitioned windows (VERDICT r9 #1) and
    // low-ndv PARTITION BY windows (VERDICT r10 #3) into the keyed
    // range-partitioned plans; opt out per arm with
    // spark.graft.globalRank.rewrite=false / spark.graft.keyedWindow.rewrite=false
    ext.injectOptimizerRule(session => graft.plans.KeyedWindowRule(session))
    ext.injectPlannerStrategy(_ => graft.plans.KeyedWindowStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int, args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")
    args
  }

  /** (name, info, builder) for every SQL-exposed native function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine_similarity",
      info("graft_cosine_similarity",
        "_FUNC_(a, b) - cosine similarity of two array<double> vectors"),
      (args: Seq[Expression]) => {
        val a = arity("graft_cosine_similarity", 2, args)
        CosineSimilarity(a(0), a(1))
      }),
    ("graft_rolling_hash31",
      info("graft_rolling_hash31",
        "_FUNC_(str) - portable 31-bit polynomial rolling hash"),
      (args: Seq[Expression]) => {
        val a = arity("graft_rolling_hash31", 1, args)
        RollingHash31(a(0))
      }),
    ("graft_simhash31",
      info("graft_simhash31",
        "_FUNC_(shingles) - 31-bit SimHash of an array<string> shingle set"),
      (args: Seq[Expression]) => {
        val a = arity("graft_simhash31", 1, args)
        SimHash31(a(0))
      }),
    ("graft_word_shingles",
      info("graft_word_shingles",
        "_FUNC_(text, n) - distinct word n-gram shingles of text"),
      (args: Seq[Expression]) => {
        val a = arity("graft_word_shingles", 2, args)
        WordShingles(a(0), intLit(a(1), "n"))
      }),
    ("graft_topk",
      info("graft_topk",
        "_FUNC_(score, id, k) - aggregate: top-k (score,id) pairs, score desc, id tiebreak"),
      (args: Seq[Expression]) => {
        val a = arity("graft_topk", 3, args)
        // implicit numeric casts (ADVICE r2): float/decimal scores and int
        // ids are valid SQL inputs — align them to the aggregate's
        // (DOUBLE, BIGINT) contract; non-numeric types still fail the
        // expression's analysis-time check
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}
        def castIf(e: Expression, to: org.apache.spark.sql.types.DataType) =
          if (e.dataType != to && e.dataType.isInstanceOf[NumericType]) Cast(e, to)
          else e
        graft.expressions.TopKByScore(
          castIf(a(0), DoubleType), castIf(a(1), LongType), intLit(a(2), "k"))
      }),
    ("graft_minhash_band_keys",
      info("graft_minhash_band_keys",
        "_FUNC_(shingles, numHashes, bands, rowsPerBand) - banded MinHash-LSH keys"),
      (args: Seq[Expression]) => {
        val a = arity("graft_minhash_band_keys", 4, args)
        MinHashBandKeys(a(0), intLit(a(1), "numHashes"),
          intLit(a(2), "bands"), intLit(a(3), "rowsPerBand"))
      }),
    ("graft_repetition_stats",
      info("graft_repetition_stats",
        "_FUNC_(tokens) - struct(dup_frac, top_bigram_frac) repetition metrics"),
      (args: Seq[Expression]) => {
        val a = arity("graft_repetition_stats", 1, args)
        RepetitionStats(a(0))
      }),
    ("graft_freq_agg",
      info("graft_freq_agg",
        "_FUNC_(item, maxMapSize) - aggregate: mergeable frequent-items sketch (binary)"),
      (args: Seq[Expression]) => {
        val a = arity("graft_freq_agg", 2, args)
        graft.expressions.FreqItemsAgg(a(0), intLit(a(1), "maxMapSize"))
      }),
    ("graft_freq_union",
      info("graft_freq_union",
        "_FUNC_(sketch, maxMapSize) - aggregate: union of frequent-items sketches"),
      (args: Seq[Expression]) => {
        val a = arity("graft_freq_union", 2, args)
        graft.expressions.FreqItemsUnionAgg(a(0), intLit(a(1), "maxMapSize"))
      }),
    ("graft_freq_topk",
      info("graft_freq_topk",
        "_FUNC_(sketch, k) - top-k items with estimate and error bounds"),
      (args: Seq[Expression]) => {
        val a = arity("graft_freq_topk", 2, args)
        graft.expressions.FreqItemsTopK(a(0), a(1))
      }),
    ("graft_theta_agg",
      info("graft_theta_agg",
        "_FUNC_(value, lgK) - aggregate: mergeable theta distinct-set sketch (binary)"),
      (args: Seq[Expression]) => {
        val a = arity("graft_theta_agg", 2, args)
        graft.expressions.ThetaSketchAgg(a(0), intLit(a(1), "lgK"))
      }),
    ("graft_theta_union",
      info("graft_theta_union",
        "_FUNC_(sketch, lgK) - aggregate: union of theta sketches"),
      (args: Seq[Expression]) => {
        val a = arity("graft_theta_union", 2, args)
        graft.expressions.ThetaUnionAgg(a(0), intLit(a(1), "lgK"))
      }),
    ("graft_theta_count",
      info("graft_theta_count",
        "_FUNC_(sketch) - rounded distinct estimate of a theta sketch"),
      (args: Seq[Expression]) => {
        val a = arity("graft_theta_count", 1, args)
        graft.expressions.ThetaCount(a(0))
      }),
    ("graft_theta_intersect_count",
      info("graft_theta_intersect_count",
        "_FUNC_(a, b) - rounded distinct estimate of the intersection of two theta sketches"),
      (args: Seq[Expression]) => {
        val a = arity("graft_theta_intersect_count", 2, args)
        graft.expressions.ThetaIntersectCount(a(0), a(1))
      }),
    ("graft_kll_agg",
      info("graft_kll_agg",
        "_FUNC_(value, k) - aggregate: mergeable KLL quantile sketch (binary)"),
      (args: Seq[Expression]) => {
        val a = arity("graft_kll_agg", 2, args)
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{DoubleType, NumericType}
        val v = if (a(0).dataType != DoubleType &&
          a(0).dataType.isInstanceOf[NumericType]) Cast(a(0), DoubleType) else a(0)
        graft.expressions.KllSketchAgg(v, intLit(a(1), "k"))
      }),
    ("graft_kll_union",
      info("graft_kll_union",
        "_FUNC_(sketch) - aggregate: union of serialized KLL sketches"),
      (args: Seq[Expression]) => {
        val a = arity("graft_kll_union", 1, args)
        graft.expressions.KllUnionAgg(a(0))
      }),
    ("graft_hashed_bag_score",
      info("graft_hashed_bag_score",
        "_FUNC_(tokens, buckets) - hashed bag-of-words integer linear score"),
      (args: Seq[Expression]) => {
        val a = arity("graft_hashed_bag_score", 2, args)
        graft.expressions.HashedBagScore(a(0), intLit(a(1), "buckets"))
      }),
    ("graft_bloom_agg",
      info("graft_bloom_agg",
        "_FUNC_(key, expectedItems, fpp) - aggregate: mergeable Bloom membership sketch (binary)"),
      (args: Seq[Expression]) => {
        val a = arity("graft_bloom_agg", 3, args)
        graft.expressions.BloomFilterAgg(a(0), longLit(a(1), "expectedItems"),
          doubleLit(a(2), "fpp"))
      }),
    ("graft_bloom_union",
      info("graft_bloom_union",
        "_FUNC_(sketch) - aggregate: OR-union of serialized Bloom sketches"),
      (args: Seq[Expression]) => {
        val a = arity("graft_bloom_union", 1, args)
        graft.expressions.BloomUnionAgg(a(0))
      }),
    ("graft_bloom_contains",
      info("graft_bloom_contains",
        "_FUNC_(sketch, key) - false = PROVEN absent; true = possibly present"),
      (args: Seq[Expression]) => {
        val a = arity("graft_bloom_contains", 2, args)
        graft.expressions.BloomMightContain(a(0), a(1))
      }),
    ("graft_kll_quantile",
      info("graft_kll_quantile",
        "_FUNC_(sketch, rank) - quantile at rank in [0,1] from a KLL sketch"),
      (args: Seq[Expression]) => {
        val a = arity("graft_kll_quantile", 2, args)
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{DoubleType, NumericType}
        val r = if (a(1).dataType != DoubleType &&
          a(1).dataType.isInstanceOf[NumericType]) Cast(a(1), DoubleType) else a(1)
        graft.expressions.KllQuantile(a(0), r)
      })
  )

  private def intLit(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def longLit(e: Expression, name: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, name: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: java.math.BigDecimal, _) =>
      v.doubleValue()
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
      if v.isInstanceOf[org.apache.spark.sql.types.Decimal] =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case other => throw new IllegalArgumentException(
      s"$name must be a numeric literal, got $other")
  }
}
