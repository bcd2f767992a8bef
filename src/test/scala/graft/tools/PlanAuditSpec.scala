package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.plans.NoKey

/** Plan-shape regression guards: the scale-relevant physical-plan
  * properties the README's 100 TB story claims, pinned as tests so a
  * refactor can't silently trade them away. Asserted on the pre-execution
  * plan string (AQE may re-plan at runtime, but these properties are
  * decided statically).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def physical(q: String): SparkPlan =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan

  private def plan(q: String): String = physical(q).toString

  // keyed and no-key window execs share a node name in the plan string,
  // so pins on them match plan nodes instead
  import NoKey.nodes

  test("o2_topk plans a true top-k (TakeOrderedAndProject), not a full sort") {
    assert(plan("o2_topk").contains("TakeOrderedAndProject"))
  }

  test("j1 enrichment: proven-ndv keys-only attach eliminates the join; broadcast otherwise") {
    // r14: the enrichment joins bars against an aggregate of the SAME
    // lineage. With the asset key's ndv PROVEN (a registerNdvHint
    // handoff — 3 here, truthfully), ArgMaxJoinRule's
    // keys-only arm collapses the join to a zero-join single-scan
    // KeyedTotalAgg attach; without the proof (or with the rule off)
    // the plan keeps the broadcast join — never a shuffle join.
    val spark = graft.TestSpark.spark
    val prior = spark.conf.getOption(graft.plans.KeyedWindowRule.NdvHintsConf)
    graft.plans.KeyedWindowRule.registerNdvHint(spark, "ativo", 3L)
    try {
      val exec = physical("j1_left_join_enrich")
      val p = exec.toString
      assert(!p.contains("Join") && nodes(exec).exists(NoKey.keyed(_, "KeyedTotalAgg")),
        s"j1: expected the zero-join keys-only attach:\n${p.take(1200)}")
      spark.conf.set(graft.plans.ArgMaxJoinRule.RewriteConf, "false")
      try assert(plan("j1_left_join_enrich").contains("BroadcastHashJoin"))
      finally spark.conf.set(graft.plans.ArgMaxJoinRule.RewriteConf, "true")
    } finally prior match {
      case Some(v) => spark.conf.set(graft.plans.KeyedWindowRule.NdvHintsConf, v)
      case None => spark.conf.unset(graft.plans.KeyedWindowRule.NdvHintsConf)
    }
  }

  test("p9 projection prunes the parquet read schema to the selected columns") {
    val p = plan("p9_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey"))
    assert(!readSchema.contains("o_custkey") && !readSchema.contains("o_orderpriority"),
      s"unpruned scan: $readSchema")
  }

  test("p8 partition filter is pushed down to the scan") {
    assert(plan("p8_partition_filter").contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"))
  }

  test("j3 range join never plans a nested-loop product") {
    val p = plan("j3_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("flagship window rides the keyed exec (range exchange); asset-only exchanges are post-agg") {
    // VERDICT r2 #2 evolved (r13): the headline window must never
    // serialize into #assets sort tasks. The flagship emits the PLAIN
    // window, which KeyedWindowRule re-plans as KeyedBoundedAggExec
    // over a range exchange on (ativo, order) — parallelism bounded by
    // data, no bucket-correction machinery. Every exchange keyed on
    // ativo alone may carry only aggregated (tiny) frames (the partial
    // per-asset aggregate).
    val exec = physical("flagship_etl")
    val p = exec.toString
    assert(nodes(exec).exists(NoKey.keyed(_, "KeyedBoundedAgg")),
      s"flagship rolling mean did not plan the keyed exec:\n${p.take(1500)}")
    assert(!p.contains("Window ["),
      s"flagship still plans a hash-clustered window:\n${p.take(1500)}")
    val lines = p.linesIterator.toSeq
    val shuffles = lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
    shuffles.foreach { case (line, i) =>
      val below = lines.drop(i + 1).take(2).mkString
      assert(below.contains("Aggregate"),
        s"asset-only exchange carries unaggregated data: $line\n$below")
    }
  }

  test("ANN/near-dup embedding re-attachment never forces a corpus broadcast") {
    // VERDICT r2 #1: the re-attachment joins must not hint broadcast() of a
    // frame that grows with the corpus. With size-based auto-broadcast off
    // (isolated child session — own SQLConf, shared context), any remaining
    // BroadcastExchange in these plans could only come from a forced hint.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Seq("x4_ann_topk", "x4_cosine_neardup").foreach { q =>
      val p = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
        s"$q forces a broadcast of a corpus-derived frame:\n$p")
    }
  }

  test("j6 bucketed join is exchange-free on both join sides") {
    // bucketBy(8, key) on both tables: the scans satisfy the join's
    // distribution requirement, so the ONLY hash exchange left is the tiny
    // post-partial-aggregate one. Broadcast disabled in a child session so
    // the small fixture can't sidestep the bucketing path.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = SparkEntry.queries("j6_bucketed_join")(s2, sf)
      .queryExecution.executedPlan.toString.linesIterator.toSeq
    assert(p.exists(_.contains("SortMergeJoin")), "bucketed join should sort-merge")
    val exchanges = p.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
    assert(exchanges.size == 1,
      s"expected only the aggregate exchange, saw:\n${exchanges.map(_._1).mkString("\n")}")
    val below = p.drop(exchanges.head._2 + 1).take(2).mkString
    assert(below.contains("HashAggregate"), s"lone exchange is not post-agg: $below")
  }

  test("j7 salted join shuffles on (key, salt), never a single hot-key task") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = SparkEntry.queries("j7_salted_join")(s2, sf)
      .queryExecution.executedPlan.toString
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString
    assert(ex.contains("__salt"), s"join exchange not salted: $ex")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q5/q9 multi-join: every join survives as a shuffled equi-join with broadcast off") {
    // VERDICT r3 #6, regime 1 — the 100 TB degradation check: with the
    // broadcast escape hatch removed (at scale NO side may fit), every one
    // of the 5-6 joins must still plan as a keyed shuffle join. A missing
    // equi-conjunct (the c_nationkey = s_nationkey leg is the easy wrong
    // turn) would surface here as a nested-loop/cartesian product.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Seq("q5_local_supplier", "q9_product_profit").foreach { q =>
      val p = SparkEntry.queries(q)(s2, sf).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degrades to a product join without broadcast:\n$p")
      val joins = "SortMergeJoin".r.findAllIn(p).size +
        "ShuffledHashJoin".r.findAllIn(p).size
      val expected = if (q == "q5_local_supplier") 5 else 4
      assert(joins == expected, s"$q: expected $expected shuffled joins, got $joins:\n$p")
    }
  }

  test("q8 seven-join dim tree: all joins survive as shuffled equi-joins with broadcast off") {
    // the deepest dimension tree in the suite (part, orders, customer,
    // nation x2, region, supplier around one fact scan) — regime 1: with
    // broadcast off every join must stay a keyed shuffle join; a missing
    // equi-conjunct in the doubly-aliased nation legs would surface as a
    // product here.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = SparkEntry.queries("q8_market_share")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q8 degrades to a product join without broadcast:\n$p")
    val joins = "SortMergeJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size
    assert(joins == 7, s"q8: expected 7 shuffled joins, got $joins:\n$p")
  }

  test("q5/q9 multi-join: dims broadcast under size-based planning; filters pushed") {
    // regime 2 — with size estimates available the planner must pick
    // broadcast joins for the bounded dims (at sf0.001 every dim
    // qualifies), and q9's part filter must reach the parquet scan.
    val p5 = plan("q5_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 3,
      s"q5 dims not broadcast:\n$p5")
    val p9 = plan("q9_product_profit")
    assert("BroadcastHashJoin".r.findAllIn(p9).size >= 3,
      s"q9 dims not broadcast:\n$p9")
    val pushed = p9.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("StringContains(p_name,red)"),
      s"part filter not pushed down: $pushed")
  }

  test("q9 accepts a runtime bloom filter on the fact side (semi-join pushdown)") {
    // At 100 TB the part-name filter's selectivity should reach the
    // lineitem scan as a runtime bloom filter on l_partkey (row-level
    // semi-join pushdown), so non-matching fact rows die at the scan
    // instead of riding the shuffle. Thresholds are lowered because the
    // injection rule gates on scan-size estimates sized for clusters.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    val p = SparkEntry.queries("q9_product_profit")(s2, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter") || p.contains("might_contain"),
      s"no runtime bloom filter injected on the fact scan:\n$p")
  }

  test("AQE splits a skewed shuffle join at runtime (the planner-side skew path)") {
    // Complements j7's explicit salting: when the engine plans the join
    // (AQE on, thresholds scaled to the fixture), a hot key must be
    // handled by runtime skew-split — the final adaptive plan marks the
    // sort-merge join skew=true. At 100 TB the same mechanism engages at
    // the default 256 MB thresholds.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    // 98% of rows on one key: the unsalted join's hot partition dwarfs
    // the median, the unambiguous skew shape
    import org.apache.spark.sql.functions.{col, concat, lit, when, pmod}
    val b = s2.range(200000).select(
      when(pmod(col("id"), lit(100)) < 98, lit("HOT"))
        .otherwise(concat(lit("c"), pmod(col("id"), lit(100)))).as("ativo"),
      col("id").cast("double").as("close_price"))
    // dim built WITHOUT aggregation: the skew rule only matches
    // SMJ(Sort(shuffle), Sort(shuffle)) — an agg between sort and
    // shuffle stage (as in a groupBy dim) makes the join ineligible,
    // which is itself worth knowing: aggregate dims go the salted or
    // broadcast route (j7/j1), raw-relation joins get AQE skew-split
    val dim = s2.range(100)
      .select(concat(lit("c"), col("id")).as("ativo"), col("id").as("meta"))
      .unionByName(s2.range(1).select(lit("HOT").as("ativo"), lit(-1L).as("meta")))
    val joined = b.join(dim, Seq("ativo"))
    // materialize THIS query execution (count() would plan a different
    // one and leave joined's adaptive plan unfinalized)
    joined.collect()
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not mark the hot-key join skewed:\n$finalPlan")
  }

  test("x9 per-source cap plans a bounded-heap aggregate, not a per-source sort") {
    // VERDICT r4 #2: keep<=K per source must never full-sort a source's
    // rows in one task (hot-crawl-source skew). The plan must carry the
    // graft_topk TypedImperativeAggregate with a PARTIAL stage (map-side
    // O(K) state) and contain no Window and no Sort node at all.
    val p = plan("x9_per_source_cap")
    assert(!p.contains("Window"), s"cap still plans a window:\n$p")
    assert(!p.linesIterator.exists(_.matches(""".*[+*(\-:\s]Sort \[.*""")),
      s"cap still plans a sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded-heap aggregate missing from the plan:\n$p")
    assert(p.contains("partial_topkbyscore") || p.contains("partial_TopKByScore"),
      s"no map-side partial aggregation:\n$p")
  }

  test("x12 sketch profile plans one scan with no Expand; exact twin keeps it") {
    // VERDICT r4 #3: multiple countDistincts replicate every scan row per
    // distinct aggregate via Expand and shuffle whole distinct sets — the
    // sketch profile must instead plan plain aggregates (fixed-size HLL
    // partials) over a single un-replicated scan.
    val sketch = plan("x12_profile_sketch")
    assert(!sketch.contains("Expand"),
      s"sketch profile still replicates rows via Expand:\n$sketch")
    assert(sketch.contains("hll_sketch_agg") || sketch.contains("HllSketchAgg"),
      s"no HLL aggregate in the sketch profile plan:\n$sketch")
    // the exact twin legitimately pays Expand at fixture scale — it is the
    // oracle fixture, not the scale path; if this ever changes, revisit
    // the pair's comments
    assert(plan("x12_profile").contains("Expand"))
  }

  test("q10 top-20 customers plans a true top-k over the aggregate, not a full sort") {
    // At 100 TB the customer ranking must never materialize: each
    // partition of the grouped aggregate keeps 20 rows
    // (TakeOrderedAndProject), the driver merges P×20.
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"))
  }

  test("q18 HAVING prunes the fact aggregate before the dimension joins") {
    // the lineitem groupBy-HAVING must sit BELOW the joins: the filter on
    // sum(l_quantity) applies to the aggregate output, so only qualifying
    // orders (few) ride into the orders/customer joins
    val p = plan("q18_large_orders").linesIterator.toSeq
    val aggIdx = p.indexWhere(l => l.contains("HashAggregate") &&
      l.contains("sum(l_quantity"))
    val joinIdx = p.indexWhere(l => l.contains("Join"))
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"fact aggregate not below the joins:\n${p.mkString("\n")}")
    // the HAVING filter (on the aggregate's tot alias) sits between the
    // joins and the final aggregate — qualifying orders only ride upward
    val filtIdx = p.indexWhere(l => l.contains("Filter") && l.contains("tot#"))
    assert(filtIdx >= 0 && filtIdx < aggIdx,
      s"HAVING filter not above the fact aggregate:\n${p.mkString("\n")}")
  }

  test("x14 chunking is shuffle-free (pure per-row explode)") {
    val p = plan("x14_chunk_docs")
    assert(!p.contains("Exchange"), s"chunking plans a shuffle:\n$p")
    assert(p.contains("Generate"), "explode generator missing")
  }

  test("x16 temperature mix broadcasts thresholds; corpus is scanned, never shuffled") {
    // the corpus-side rows must meet the per-source thresholds via a
    // broadcast join — every hash exchange in the plan may carry only
    // the tiny per-source aggregates, never corpus rows
    val p = plan("x16_temperature_mix").linesIterator.toSeq
    assert(p.exists(_.contains("BroadcastHashJoin")),
      "threshold join is not broadcast")
    p.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
      .foreach { case (line, i) =>
        val below = p.drop(i + 1).take(2).mkString
        assert(below.contains("Aggregate"),
          s"corpus-carrying exchange found: $line\n$below")
      }
  }

  test("x17 curation pipeline: heap cap, no product joins, hash-led dedup shuffle") {
    // the five-stage composition must keep each stage's scale shape: the
    // per-source cap stays a bounded-heap partial aggregate (no full
    // per-source sort re-introduced by the composition), no join degrades
    // to a product, and the dedup exchange is keyed on the text hash
    val p = plan("x17_curation_pipeline")
    assert(p.contains("partial_topkbyscore") || p.contains("partial_TopKByScore"),
      s"cap stage lost its map-side bounded heap:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("xxhash64"), "dedup shuffle not hash-led")
  }

  test("x1 exact dedup shuffles on a fixed-width hash, not the raw text") {
    val p = plan("x1_dedup_exact")
    // the hash is pre-projected as a window partition key (_w0 =
    // xxhash64(text)) and the exchange partitions on it
    assert(p.contains("xxhash64"), "no xxhash64 bucketing in the dedup plan")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString
    assert(ex.contains("_w0"), s"dedup exchange not keyed on the hash projection: $ex")
  }

  test("a9 winsorize: bounds broadcast back; the clip path never sorts per group") {
    // percentile bounds come from the rank-selection machinery (its own
    // range-partitioned sort); the CLIP must be a map-side broadcast join
    // over the scan — re-introducing a per-group window/sort here is the
    // x9c skew class all over again
    val p = plan("a9_winsorize")
    assert(p.contains("BroadcastHashJoin"), "bounds not broadcast")
    assert(!p.contains("Window"), s"clip path plans a window:\n$p")
  }

  test("w10 gap fill: the calendar grid is a row-local explode, never a product") {
    val p = plan("w10_gap_fill")
    assert(p.contains("Generate"), "no explode in the grid build")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "grid built via a product against a calendar table")
  }

  test("x32 funnel: one user-keyed data exchange feeds both windows and the fold") {
    // stacked running-min windows + the per-user fold all share the
    // user_id partitioning: exactly ONE hash exchange carries event rows
    // (the final roll-up exchange is a single-partition fold of 3 longs
    // per task)
    val p = plan("x32_funnel").linesIterator.toSeq
    val hashEx = p.filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.size == 1, s"expected one hash exchange, got:\n${hashEx.mkString("\n")}")
    assert(hashEx.head.contains("user_id"))
  }

  test("x34 bloom dedup: the sketch table broadcasts; probe is map-side") {
    val p = plan("x34_bloom_dedup")
    assert(p.contains("BroadcastHashJoin"), "bloom sketch table not broadcast")
  }

  test("x34 bloom dedup: the exact verify anti-joins the PERSISTED membership index") {
    // the might-contain sliver must verify against the member_index
    // artifact table — if the anti-join's right side is the corpus
    // itself, every batch re-shuffles the full corpus text and the
    // Bloom prune bought nothing (VERDICT r6 #3; mirror of the x37 pin)
    val p = plan("x34_bloom_dedup")
    assert(p.contains("member_index"), s"no persisted-index scan in the plan:\n$p")
    // only the BATCH construction reads the documents parquet (2 scans:
    // new docs + planted recrawl), duplicated across the two union
    // branches pre-AQE → 4; the bloom sketches and the exact verify
    // both come from persisted artifacts, so a 5th scan means the
    // corpus leaked back into the per-batch path
    val docScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans <= 4, s"verify path re-scans the corpus ($docScans doc scans):\n$p")
  }

  test("x35 clustered semdedup assigns buckets row-locally (no window exchange)") {
    // multi-probe top-nProbe is computed from the per-row scores array —
    // a row_number window here would shuffle the whole corpus to rank
    // k<=64 numbers
    val p = plan("x35_semdedup_cluster")
    assert(!p.contains("Window"), s"assignment plans a window:\n$p")
  }

  test("j8 interval-overlap joins on the bucket equi-key; only the 1-row scalar attaches loosely") {
    // the interval x interval join must be a hash equi-join on the bucket
    // (a naive overlap predicate has no equi-key and plans a product over
    // both interval sets); the only loose join allowed is the bounded
    // 1-row min-date broadcast attach
    val p = plan("j8_interval_overlap")
    assert(!p.contains("CartesianProduct"))
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"unexpected loose joins ($bnlj):\n$p")
    assert(p.contains("__lb"), "overlap join lost its bucket equi-key")
  }

  test("j8 interval-overlap emits each pair in its OWNER bucket — no post-join dedup") {
    // multi-bucket matches used to collapse via a full-row
    // dropDuplicates — an extra shuffle of the whole join output
    // (VERDICT r6 #5); owner-bucket emission makes each pair survive in
    // exactly one bucket, so the plan between the overlap join and the
    // caller's aggregate must contain no dedup aggregate at all
    val p = plan("j8_interval_overlap")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    // legitimate: the caller's groupBy(promo_id).count() pair and the
    // 1-row min-date scalar's pair (partial + final each) = 4; the old
    // full-row dropDuplicates added its own dedup aggregate pair on the
    // whole join output
    assert(aggs <= 4, s"unexpected aggregate (dedup pass?) in overlap plan ($aggs):\n$p")
    assert(!p.contains("dropDuplicates"), "post-join dedup reappeared")
  }

  test("x44 pair counts: top-k via TakeOrdered, never a full sort") {
    val p = plan("x44_bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 plans a full sort:\n$p")
  }

  test("x11 decontamination probes the PERSISTED eval-shingle index") {
    // VERDICT r8 #6: the eval suite must be shingled ONCE into the
    // decontam_index artifact; per-run plans probe that tiny parquet —
    // if the plan re-shingles the eval docs, the O(batch) incremental
    // claim is broken (the x37/x34 pin, applied to decontamination)
    val p = plan("x11_decontaminate")
    assert(p.contains("decontam_index"),
      s"no persisted-index scan in the plan:\n${p.take(2000)}")
  }

  test("x105 NFC dedup: no Expand — the corpus is never replicated per distinct") {
    // two count_distincts in one agg would Expand every row x3 with the
    // full text through the wire (the x12 anti-pattern); the nested
    // hash-led formulation must plan plain two-phase aggregates
    val p = plan("x105_nfc_dedup")
    assert(!p.contains("Expand"),
      s"x105 replicates the corpus via Expand:\n${p.take(1500)}")
    assert(p.contains("xxhash64"), "NFC group shuffle not hash-led")
  }

  test("x106 intra-doc dedup: row-local strip, the corpus never hash-shuffles") {
    // the only exchange allowed is the final orderBy's range partition;
    // any hashpartitioning exchange would mean the corpus reassembled
    // through a shuffle — the hazard the row-local formulation removes
    val p = plan("x106_intradoc_dedup")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled in the intra-doc strip:\n${p.take(2000)}")
    assert(p.contains("graft_word_shingles") || p.contains("array_distinct"),
      s"strip kernel missing:\n${p.take(1000)}")
  }

  test("x108 composed ExactSubstr: both halves row-local; the corpus never shuffles") {
    // intra half is a pure projection and the cross half's persisted
    // hot set rides the plan as the compiled StripSegments kernel (the
    // x48 keyed shape) — so between scan and the final sort there must
    // be NO join and NO hash exchange at all; any would mean the corpus
    // reassembled through a shuffle between the two halves
    val p = plan("x108_exactsubstr_release")
    assert(p.contains("graft_strip_segments"),
      s"keyed strip lost its compiled kernel:\n${p.take(1500)}")
    // r16: x108 opts into the scan-parallelism heal, whose explicit
    // repartition prints as a REPARTITION_BY_NUM exchange directly
    // above the scan — the pin forbids PLANNER-inserted
    // (ENSURE_REQUIREMENTS) hash exchanges, i.e. any shuffle the
    // operators themselves would need between the two strip halves
    assert(!p.split("\n").exists(l =>
        l.contains("Exchange hashpartitioning") &&
          l.contains("ENSURE_REQUIREMENTS")),
      s"corpus shuffled between the strip halves:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("x109 deep page: no window, no single-partition sort; rank via the pruned pass") {
    val p = plan("x109_deep_page")
    assert(!p.contains("Window ["),
      s"deep pagination planned as a global window:\n${p.take(1500)}")
    assert(p.contains("MapPartitions"),
      s"rank-range pick pass missing:\n${p.take(1500)}")
  }

  test("x37 incremental near-dup probes the PERSISTED index, not a re-derived one") {
    // the corpus-side band keys must come from the lsh_index artifact
    // table on disk — if the plan re-shingles the corpus for candidates,
    // the O(batch) incremental claim is broken
    val p = plan("x37_incremental_neardup")
    assert(p.contains("lsh_index"), s"no persisted-index scan in the plan:\n$p")
  }

  test("x128 incremental media dedup probes the PERSISTED hash index") {
    // the corpus-side hashes must come from the media_hash_index
    // artifact table on disk — if the plan re-decodes the corpus
    // binaries for candidates, the O(batch) incremental claim is broken
    val p = plan("x128_incremental_media_dedup")
    assert(p.contains("media_hash_index"),
      s"no persisted-index scan in the plan:\n$p")
  }

  test("x48 boilerplate strip: row-local strip; the corpus never shuffles") {
    // the keyed entry compiles the persisted hot set into the
    // graft_strip_segments kernel, so the whole plan is scan -> project:
    // ANY exchange (a SortAggregate/HashAggregate keyed on doc_id, a
    // hash-partitioning shuffle between the corpus scan and the project)
    // would mean the corpus is reassembled through a shuffle — the exact
    // failure mode stripBoilerplate is designed out of.
    val p = plan("x48_boilerplate_strip")
    assert(p.contains("graft_strip_segments"),
      s"keyed strip lost its compiled kernel:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled before the strip:\n$p")
    // the unkeyed declarative twin keeps the broadcast shape: hot set as
    // one BroadcastExchange row, corpus side shuffle-free before it
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val up = graft.text.TextOps.stripBoilerplate(docs, "doc_id", "text",
      segTokens = 3, minDocs = 8).queryExecution.executedPlan.toString
    // named failure, not a StringIndexOutOfBounds, if the broadcast node
    // disappears (e.g. a BNLJ plan without a literal BroadcastExchange)
    val idx = up.indexOf("BroadcastExchange")
    assert(idx >= 0, s"unkeyed hot set not broadcast:\n$up")
    val corpusSide = up.substring(0, idx)
    assert(!corpusSide.contains("Exchange hashpartitioning"),
      s"unkeyed corpus shuffled before the strip:\n$up")
  }

  test("x51 budget select: the only per-doc window is partitioned by the boundary level") {
    // the global-budget cutoff must come from the tiny LEVEL frame; if a
    // corpus-wide unpartitioned running sum sneaks in, one task owns the
    // corpus. The level window is unpartitioned BUT runs post-aggregate
    // (over <= 1001 rows); the per-doc prefix window must carry the
    // partition on q.
    val p = plan("x51_token_budget_select")
    assert(p.contains("windowspecdefinition(q"),
      s"boundary prefix window lost its level partition:\n$p")
    // the unpartitioned window must consume an aggregate, not a scan:
    // every Window node over raw doc rows would mention the id column
    val unpartitioned = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
      .filterNot(_.contains("windowspecdefinition(q"))
    assert(unpartitioned.forall(!_.contains("doc_id")),
      s"corpus-wide unpartitioned window:\n$p")
  }

  test("x50 training shuffle: ONE data exchange feeds the per-shard positions") {
    // since the keyed-rank rewrite (r11): the per-shard row_number plans
    // as KeyedRankExec over ONE range exchange on (shard, order) — a
    // shard's rows are contiguous for the file writer but no longer
    // bound to a single task
    val exec = physical("x50_training_shuffle")
    val p = exec.toString
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly one shard exchange, got $exchanges:\n$p")
    assert(nodes(exec).exists(NoKey.keyed(_, "KeyedRank")),
      s"per-shard positions must come from the keyed rank exec:\n$p")
    assert(!p.contains("Window ["), s"no hash-clustered window expected:\n$p")
  }

  // ---- round-8 diagnostics: corpus touches bounded, grids broadcast ----

  test("x60/x61/x64 drift: partial-agg counts, broadcast grids, no products") {
    Seq("x60_ks_drift", "x61_tv_drift", "x64_drift_gate").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: grid expansion must broadcast, not product:\n${p.take(1500)}")
      // the corpus aggregation must be two-phase (map-side partials)
      assert(p.contains("partial_count") || p.contains("HashAggregate"),
        s"$q: missing partial aggregation")
    }
  }

  test("x62 skew report: top-k is TakeOrderedAndProject, never a global window") {
    val p = plan("x62_skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"per-key top-5 must be a distributed top-k:\n${p.take(1500)}")
  }

  test("x70 embedding drift: dims join is broadcast; one corpus exchange") {
    val p = plan("x70_embedding_drift")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"labels x dims frames must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("x67 unigram serving stays row-local after the word-table aggregation") {
    val p = plan("x67_unigram_segment")
    assert(p.contains("graft_unigram_comb_cost"),
      s"serving must use the compiled DP expression:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "serving must not join the corpus - the vocab rides the plan")
  }

  test("x78 market beta: the per-date index frame attaches by broadcast") {
    val p = plan("x78_market_beta")
    assert(p.contains("BroadcastHashJoin"),
      s"index join must broadcast the |dates| frame:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the return panel must never shuffle for the index join")
  }

  test("x81 referential audit: every edge is an anti-join, no products") {
    val p = plan("x81_ref_integrity")
    assert("LeftAnti".r.findAllIn(p).length >= 4,
      s"four FK edges must each plan an anti-join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "orphan detection must stay an equi-anti-join")
  }

  test("x84 churn: activity sets meet in ONE equi-join, no products") {
    val p = plan("x84_churn_matrix")
    assert(p.contains("FullOuter"),
      s"day-boundary alignment must be a full-outer equi-join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // The event log is reduced by a partial-aggregable distinct BEFORE
    // any join: HashAggregate pairs appear below the join in the plan.
    assert(p.contains("HashAggregate"))
  }

  test("x90 risk report: windows fuse, index broadcasts, no products") {
    val p = plan("x90_risk_report")
    // lag and running-max share the (ativo, dt) window spec, so Catalyst
    // must FUSE them into single Window nodes — one per plan branch (the
    // report branch and the index-derivation branch re-plan the same
    // panel, the x78 shape), never one node per function.
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.length <= 2,
      s"window functions did not fuse (${windows.length} Window nodes):\n${p.take(2000)}")
    windows.foreach(l => assert(l.contains("lag("), s"windowless lag?\n$l"))
    // the report branch fuses lag+runmax into ONE node; the index branch
    // must have PRUNED the unused runmax, not recompute it
    assert(windows.count(_.contains("max(")) === 1,
      s"column pruning should drop runmax from the index branch:\n${windows.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"),
      "the per-date index frame must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("x93 basket lift: equi-joins only; marginal strategy is size-derived, not hint-forced") {
    // VERDICT r8 #2: the part-frequency marginals are |parts|-cardinality,
    // so their join strategy must come from SIZE-BASED planning. Two
    // halves: (a) at fixture scale the planner still picks broadcast —
    // the plan is unchanged vs the hinted r8 form; (b) with the
    // size-based escape hatch removed, the SAME query degrades to keyed
    // shuffle joins — which a forced broadcast() hint would prevent.
    val p = plan("x93_basket_lift")
    assert(!p.contains("CartesianProduct"),
      "pair generation must stay an order-keyed equi-join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"size-based planning should still broadcast the small marginals:\n${p.take(1500)}")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p2 = SparkEntry.queries("x93_basket_lift")(s2, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p2).isEmpty,
      s"a marginal join is hint-forced to broadcast:\n${p2.take(2000)}")
    val shuffled = "SortMergeJoin".r.findAllIn(p2).length +
      "ShuffledHashJoin".r.findAllIn(p2).length
    // r16: the pair self-join is GONE (pairs explode row-locally from
    // the sorted basket set — one scan), so only the two marginal
    // attaches remain to degrade to keyed shuffle joins
    assert(shuffled === 2,
      s"expected the two marginal joins as keyed shuffle joins, got $shuffled:\n${p2.take(2000)}")
    assert(!p2.contains("CartesianProduct"))
  }

  test("x97 quantile normalization: mapping broadcasts, no corpus merge-join") {
    val p = plan("x97_quantile_normalize")
    assert(p.contains("BroadcastHashJoin"),
      "the (source, level) mapping must attach by broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for the mapping join")
  }

  test("x100 capstone: broadcast attaches only; bounded window count") {
    val p = plan("x100_calibrated_release")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"every bounded frame must attach by broadcast:\n${p.take(1500)}")
    // windows: branch re-planning repeats the x97 CDF pair, the
    // budget-cutoff cumulative, and the boundary prefix — all legal,
    // but EVERY window spec must run over a bounded level frame
    // (source-partitioned, norm-level-ordered, or norm-partitioned);
    // a window specced on raw corpus order would be a scale-killer
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty)
    windows.foreach { l =>
      assert(l.contains("source#") || l.contains("norm#"),
        s"window over a non-level frame:\n$l")
    }
  }

  test("x86/x94/x98: global ranks come from the range-partitioned pass, never a window") {
    // VERDICT r8 #1: these three ranked an unpartitioned row_number over
    // a corpus-proportional frame — a one-task sort at 100 TB. Rewritten
    // on GlobalRank (range partition + per-partition offsets), their
    // plans must contain NO Window node at all; the rank arrives through
    // the mapPartitions pass.
    // x86/x98 call the GlobalRank DataFrame helper (MapPartitions offset
    // pass) — no Window anywhere.
    Seq("x86_stage_latency", "x98_classifier_lift")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Window ["),
          s"$q: rank still planned as a window:\n${p.take(1500)}")
        assert(p.contains("MapPartitions") || p.contains("GlobalRank"),
          s"$q: GlobalRank's offset pass missing from the plan:\n${p.take(1500)}")
      }
    // x94 (round 10): the quartile boundaries are picked eagerly via
    // rowsAtRanks (outside the returned plan), so the RETURNED plan is
    // one row-local comparison scan + the 64-cell aggregate — no
    // window, no join, no rank materialization at all.
    locally {
      val p = plan("x94_rfm_segments")
      assert(!p.contains("Window ["),
        s"x94: rank planned as a window:\n${p.take(1500)}")
      // the only join anywhere (inside the cached rfm build) is the
      // 1-row anchor attach; the quartile assignment itself must not
      // join ranked frames the way the r9 form did
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
        !p.contains("BroadcastHashJoin"),
        s"x94: boundary-broadcast form must not join ranked frames:\n${p.take(1500)}")
      assert(p.contains("HashAggregate"),
        s"x94: expected the 64-cell hash aggregate:\n${p.take(1500)}")
    }
  }

  test("x116 cumulative share: prefix sum via the rewrite, never a window; total broadcasts") {
    // The plain-SQL running sum must plan as the no-key
    // KeyedRunningAggExec (range exchange + partial buffers + seeded
    // fold) with NO Window node; the corpus total arrives as a scalar
    // subquery, not sum() OVER ().
    val exec = physical("x116_cum_corpus_share")
    val p = exec.toString
    assert(!p.contains("Window ["),
      s"x116: running sum still planned as a window:\n${p.take(1500)}")
    assert(nodes(exec).exists(NoKey.running),
      s"x116: expected the prefix-sum exec:\n${p.take(1500)}")
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"x116: corpus total should attach as a scalar subquery:\n${p.take(1500)}")
  }

  test("x117 window profile: offsets, cume and total all arrive window-free") {
    val exec = physical("x117_doc_window_profile")
    val p = exec.toString
    assert(!p.contains("Window ["),
      s"x117: a window survived the rewrite family:\n${p.take(1500)}")
    val n = nodes(exec)
    assert(n.exists(NoKey.offset) && n.exists(NoKey.rank) && n.exists(NoKey.total),
      s"x117: expected the offset+rank+total execs:\n${p.take(1500)}")
  }

  test("x118 rolling profile: bounded frames and the ignore-nulls lag arrive window-free") {
    // The r10 verdict's #1 ask end-to-end: plain-SQL bounded ROWS frames
    // plan as the no-key KeyedBoundedAggExec, the ignore-nulls lag(1) as
    // the no-key KeyedRunningAggExec's Last exclusive prefix — one shared
    // range exchange, NO Window node.
    val exec = physical("x118_rolling_corpus_profile")
    val p = exec.toString
    assert(!p.contains("Window ["),
      s"x118: a window survived the rewrite family:\n${p.take(1500)}")
    assert(nodes(exec).exists(NoKey.bounded) && nodes(exec).exists(NoKey.running),
      s"x118: expected the bounded + running execs:\n${p.take(1500)}")
    // x122: TWO-SIDED frames (centered + lookahead) — same exec, forward
    // context engaged
    val exec122 = physical("x122_centered_smooth")
    val p122 = exec122.toString
    assert(!p122.contains("Window ["),
      s"x122: a window survived the rewrite family:\n${p122.take(1500)}")
    assert(nodes(exec122).exists(NoKey.bounded),
      s"x122: expected the no-key KeyedBoundedAggExec:\n${p122.take(1500)}")
  }

  test("x124 trailing time windows: RANGE value-distance frames arrive window-free") {
    // VERDICT r11 #1 end-to-end: the trailing-2-day shape written as
    // plain global AND keyed SQL — both arms plan through RangeAggExec
    // (value-capped boundary harvest + driver stitch + per-run re-fold),
    // NO Window node in either
    val p = plan("x124_trailing_time_window")
    assert(!p.contains("Window ["),
      s"x124: a window survived the rewrite family:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"),
      s"x124: expected RangeAggExec (both arms):\n${p.take(1500)}")
  }

  test("x127 two-sided value frames arrive window-free") {
    // r12 generalization: centered / strictly-preceding / pure-following
    // value-distance frames (global) + keyed strictly-preceding — all on
    // RangeAggExec, NO Window node
    val p = plan("x127_value_frames")
    assert(!p.contains("Window ["),
      s"x127: a window survived the rewrite family:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"),
      s"x127: expected RangeAggExec:\n${p.take(1500)}")
  }

  test("x129 monthly trailing: calendar-month value frames arrive window-free") {
    // r12: month edges are evaluated per peer run with Spark's own
    // DateAddYMInterval arithmetic inside RangeAggExec — global and
    // keyed arms, NO Window node; the only corpus-scale move is the
    // daily partial-agg shuffle
    val p = plan("x129_monthly_trailing")
    assert(!p.contains("Window ["),
      s"x129: a window survived the rewrite family:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"),
      s"x129: expected RangeAggExec:\n${p.take(1500)}")
  }

  test("x131 half-unbounded value frames arrive window-free") {
    // r13 (VERDICT r12 #3): cumulative-with-lookahead (prefix seeds) and
    // remaining-mass (suffix seeds), global AND keyed, all planning
    // RangeAggExec — NO Window node, no one-task sort
    val p = plan("x131_half_unbounded")
    assert(!p.contains("Window ["),
      s"x131: a window survived the rewrite family:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"),
      s"x131: expected RangeAggExec:\n${p.take(1500)}")
  }

  test("x134 inward half-unbounded value frames arrive window-free") {
    // r13 (§7.4.11 lifted): strict-history and strict-future frames,
    // global AND keyed, all planning RangeAggExec via band-split seeds —
    // NO Window node, no one-task sort
    val p = plan("x134_range_lattice")
    assert(!p.contains("Window ["),
      s"x134: a window survived the rewrite family:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"),
      s"x134: expected RangeAggExec:\n${p.take(1500)}")
  }

  test("x135/x136: distinct-window attach broadcasts; group mode plans no window") {
    // r13: the count(DISTINCT) OVER workaround must attach the |langs|-
    // row frame by BROADCAST (never shuffle the corpus for the join),
    // and the deterministic mode must be partial-agg argmax — no
    // per-group sort, no window over the corpus
    val p135 = plan("x135_distinct_window")
    assert(p135.contains("BroadcastHashJoin"),
      s"x135: expected the broadcast attach:\n${p135.take(1200)}")
    assert(!p135.contains("Window ["), s"x135: no window expected:\n${p135.take(1200)}")
    val p136 = plan("x136_group_mode")
    assert(!p136.contains("Window [") && !p136.contains("WindowExec"),
      s"x136: no window expected:\n${p136.take(1200)}")
    assert(p136.contains("min_by") || p136.contains("minby") ||
      p136.contains("HashAggregate"),
      s"x136: expected the partial-agg argmax:\n${p136.take(1200)}")
  }

  test("x143 capstone: two orders scans, keyed rank + hash window, broadcast flag join") {
    // r14 composition, r15 exec choice (VERDICT r14 #1): the
    // computed-key argmax join still collapses to one scan, but the
    // measured-high o_custkey floor (ndv(custkey, month) >=
    // ndv(custkey) > maxNdv) keeps Spark's hash-clustered Window for
    // the total attach — the plan that stays parallel AND finishes at
    // 100x keys. The correlated top-2 still collapses to a second scan
    // — its rank window also keys on proven-HIGH o_custkey, so it too
    // stays Spark's hash-clustered window — and the flag join
    // broadcasts the tiny top-2 set — stock Spark pays FIVE orders
    // scans for the same SQL (two for the self-join, three for the
    // correlated domain join).
    val exec = physical("x143_monthly_top_panel")
    val p = exec.toString
    assert(p.linesIterator.count(_.contains("orders.parquet")) === 2,
      s"x143: orders must be scanned exactly twice:\n${p.take(2000)}")
    assert(p.contains("Window [") && !nodes(exec).exists(NoKey.keyed(_, "KeyedTotalAgg")),
      s"x143: expected the hash-clustered Window attach (proven-HIGH key):\n${p.take(2000)}")
    assert(!nodes(exec).exists(NoKey.keyed(_, "KeyedRank")),
      s"x143: the top-2 rank also keys on proven-HIGH o_custkey — " +
        s"expected Spark's rank window:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"x143: the flag join must broadcast:\n${p.take(2000)}")
  }

  test("x147 capstone: two scans, both self-joins eliminated, broadcast enrich") {
    // r15 composition: the keys-only group-stats join collapses to a
    // lineitem window attach (IN-pinned 3-key proof), the OUTER
    // rank-flag self-join collapses to one windowed orders scan
    // (measured o_orderkey uniqueness), and the cross-table enrich
    // broadcasts — stock Spark pays four scans + two join shuffles
    val p = plan("x147_flagged_lineitem_panel")
    assert(p.linesIterator.count(_.contains("orders.parquet")) === 1,
      s"x147: orders must be scanned exactly once:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) === 1,
      s"x147: lineitem must be scanned exactly once:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"x147: the enrich must broadcast:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Join")) === 1,
      s"x147: only the cross-table enrich may join:\n${p.take(2000)}")
  }

  test("x139 capstone: one orders scan, no self-join, hash argmax window, broadcast attaches") {
    // r13 composition: the argmax self-join is eliminated (orders read
    // ONCE), the strict-history inward frame plans RangeAggExec (no
    // Window node), and both dimension attaches broadcast
    val exec = physical("x139_latest_order_panel")
    val p = exec.toString
    assert(p.linesIterator.count(_.contains("orders.parquet")) === 1,
      s"x139: orders must be scanned exactly once:\n${p.take(1500)}")
    // r15: the argmax attach keys on o_custkey alone — now MEASURED
    // high, so the elimination keeps the one-scan shape but the attach
    // is Spark's hash-clustered window, not the zero-exchange heal
    assert(p.contains("Window [") && !nodes(exec).exists(NoKey.keyed(_, "KeyedTotalAgg")),
      s"x139: expected the hash-clustered argmax window:\n${p.take(1500)}")
    assert(p.contains("RangeAgg"), s"x139: expected the inward frame exec:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), s"x139: expected broadcast attaches:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), s"x139: no shuffle join expected:\n${p.take(1500)}")
  }

  test("x132 argmax self-join is eliminated: no join, exactly one scan") {
    // r13: the greatest-n-per-group anti-pattern (two scans + aggregate
    // exchange + join exchange as written) collapses to ONE scan through
    // ArgMaxJoinRule — at 100 TB that is one corpus read instead of two
    // plus a join shuffle
    val p = plan("x132_argmax_join")
    assert(!p.contains("Join"), s"x132: the self-join survived:\n${p.take(1500)}")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"x132: expected exactly one scan, got $scans:\n${p.take(1500)}")
  }

  test("x125 nth/ignore-nulls-lag: the value-ring arms arrive window-free") {
    // VERDICT r11 #6 end-to-end: nth_value(n>1) (respect + ignore nulls,
    // running + bounded) and ignore-nulls lag(n>1), global AND keyed —
    // all ride the ring aggregates on the family's execs, NO Window node
    val exec = physical("x125_nth_ignlag")
    val p = exec.toString
    assert(!p.contains("Window ["),
      s"x125: a window survived the rewrite family:\n${p.take(1500)}")
    assert(nodes(exec).exists(NoKey.running) &&
      nodes(exec).exists(NoKey.keyed(_, "KeyedRunningAgg")),
      s"x125: expected the running execs (global + keyed):\n${p.take(1500)}")
  }

  test("w2/w4: the low-ndv keyed windows plan through the keyed execs, window-free") {
    // VERDICT r10 #3 end-to-end: w2/w4 are written as the PLAIN windows
    // a user would write; KeyedWindowRule re-plans them on its
    // optimistic arm (ativo's ndv is unproven) — range exchange on
    // (ativo, order), parallelism bounded by data, never by the 3
    // return flags.
    val exec2 = physical("w2_daily_returns")
    val p2 = exec2.toString
    assert(!p2.contains("Window ["),
      s"w2: the keyed lag still plans as a hash-clustered window:\n${p2.take(1500)}")
    assert(nodes(exec2).exists(NoKey.keyed(_, "KeyedOffset")),
      s"w2: expected KeyedOffsetExec:\n${p2.take(1500)}")
    val exec4 = physical("w4_running_total")
    val p4 = exec4.toString
    assert(!p4.contains("Window ["),
      s"w4: the keyed running sum still plans as a hash-clustered window:\n${p4.take(1500)}")
    assert(nodes(exec4).exists(NoKey.keyed(_, "KeyedRunningAgg")),
      s"w4: expected KeyedRunningAggExec:\n${p4.take(1500)}")
    // x120: the W1 flagship shape in plain SQL — the keyed BOUNDED arm
    val exec120 = physical("x120_rolling_mean_keyed")
    val p120 = exec120.toString
    assert(!p120.contains("Window ["),
      s"x120: the keyed rolling mean still plans as a hash-clustered window:\n${p120.take(1500)}")
    assert(nodes(exec120).exists(NoKey.keyed(_, "KeyedBoundedAgg")),
      s"x120: expected KeyedBoundedAggExec:\n${p120.take(1500)}")
    // x123: keyed ranks — all six kinds through KeyedRankExec
    val exec123 = physical("x123_lang_length_rank")
    val p123 = exec123.toString
    assert(!p123.contains("Window ["),
      s"x123: keyed ranks still plan as a hash-clustered window:\n${p123.take(1500)}")
    assert(nodes(exec123).exists(NoKey.keyed(_, "KeyedRank")),
      s"x123: expected KeyedRankExec:\n${p123.take(1500)}")
    // x121: the keyed whole-frame total — zero exchange, zero sort
    val exec121 = physical("x121_lang_share")
    val p121 = exec121.toString
    assert(!p121.contains("Window ["),
      s"x121: the keyed total still plans as a hash-clustered window:\n${p121.take(1500)}")
    assert(nodes(exec121).exists(NoKey.keyed(_, "KeyedTotalAgg")),
      s"x121: expected KeyedTotalAggExec:\n${p121.take(1500)}")
    assert(!p121.contains("Exchange hashpartitioning"),
      s"x121: the keyed total must not exchange:\n${p121.take(1500)}")
  }

  test("no query leaves a provably-low-ndv keyed window unhealed (VERDICT r10 #3)") {
    // The low-cardinality PARTITION BY hazard, swept automatically: any
    // surviving logical Window that KeyedWindowRule PROVES it would
    // rewrite (supported shapes + provable small ndv + no small-frame
    // proof) is an offender — the rule is on, so a hit means gate or
    // classify drift. Shapes the rule does not cover (ranks, bounded
    // keyed frames) and unprovable ndv are invisible here by design;
    // the literal-modulus sweep below catches their pmod subset.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, pmod, sum, lit}
    val rule = graft.plans.KeyedWindowRule(spark)
    def unhealed(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        // a Window sitting on a WindowGroupLimit is the top-k carve-out
        // (rnk <= k): Spark's map-side prune is the intended plan there,
        // exactly what the rule's keep-set preserves — not an offender
        case w: LWindow if rule.wouldRewrite(w) &&
            !w.child.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit] =>
          s"keyed Window over ${w.child.nodeName} (partition ${w.partitionSpec.mkString(",")})"
      }
    // detector self-check: with the rewrite off, a planted low-ndv keyed
    // running window MUST be seen — else the sweep is vacuously green
    def probe() = spark.range(100000).withColumn("cs",
      sum("id").over(Window.partitionBy(pmod(col("id"), lit(3)))
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spark.conf.set(graft.plans.KeyedWindowRule.RewriteConf, "false")
    val seen =
      try unhealed(probe())
      finally spark.conf.set(graft.plans.KeyedWindowRule.RewriteConf, "true")
    assert(seen.nonEmpty, "sweep detector failed to see a known low-ndv keyed window")
    assert(unhealed(probe()).isEmpty,
      "KeyedWindowRule should heal the planted keyed window")
    // the keyed BOUNDED arm (round 11): the W1 shape heals too
    import org.apache.spark.sql.functions.avg
    val boundedProbe = spark.range(100000).withColumn("m7",
      avg("id").over(Window.partitionBy(pmod(col("id"), lit(3)))
        .orderBy("id").rowsBetween(-6, 0)))
    assert(unhealed(boundedProbe).isEmpty,
      "KeyedWindowRule should heal the planted keyed bounded window")
    assert(nodes(boundedProbe.queryExecution.executedPlan)
      .exists(NoKey.keyed(_, "KeyedBoundedAgg")),
      s"keyed bounded probe should plan the exec:\n${boundedProbe.queryExecution.executedPlan}")
    val hits = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val u = unhealed(SparkEntry.queries(q)(spark, sf))
      if (u.nonEmpty) Some(s"$q -> ${u.mkString(", ")}") else None
    }
    assert(hits.isEmpty,
      s"provably-low-ndv keyed windows left unhealed:\n${hits.mkString("\n")}")
  }

  test("no query plans an unpartitioned window over a corpus-derived frame") {
    // VERDICT r8 #1 (the recurrence guard): an empty partition spec means
    // Spark sorts the whole frame in ONE task. Allowed only where the
    // windowed frame is already reduced to a bounded aggregate — the
    // level/day/source frames, each pinned in its entry's comment.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // EMPTY since round 10: every entry that used to need a NAME-based
    // allowance either auto-heals through the rewrite family (w11/x63/
    // x82 running aggregates over day/source frames, x62's rank under
    // its top-5 filter) or is exempt by a PLAN-PROVABLE bound (x51/x100:
    // per-mill level frames carrying exact LIMIT markers → maxRows ≤ the
    // cost-guard threshold, where the one-task sort is optimal). The
    // staleness check below forces removals, so an allowance can never
    // outlive its reason.
    val allowed = Set.empty[String]
    // No exclusions: every entry is swept. The pipeline round-trips'
    // landing writes are JVM-memoized (round 9) and x103's observed
    // action is one sf0.001 count, so even the eager-build entries are
    // cheap enough to audit universally.
    val skip = Set.empty[String]
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // a window is exempt only with a PLAN-PROVABLE small bound: maxRows
    // (from the exact LIMIT markers library code puts on bounded level
    // frames) at or under the rewrite's cost-guard threshold — a one-
    // task sort of that many rows is optimal, so it is not a hazard.
    // Everything else (calendars, sources, raw scans: no maxRows) must
    // have been healed by the rewrite family or is an offender.
    val smallBound = 4096L
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def unpartitionedBig(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            !w.child.maxRows.exists(_ <= smallBound) =>
          s"Window over ${w.child.nodeName}(maxRows=${w.child.maxRows})"
      }
    // detector self-check: a hand-built unpartitioned window MUST be
    // seen, or the sweep below is vacuously green. The no-key window
    // rewrite (round 10) would heal the probe before the detector looks,
    // so it is disabled FOR THE PROBE ONLY — and further probes pin that
    // with the rule active each family shape is in fact healed (probes
    // are 100k rows: above the small-frame cost guard).
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      def probe() = spark.range(100000)
        .withColumn("rn", row_number().over(Window.orderBy("id")))
      spark.conf.set(graft.plans.KeyedWindowRule.GlobalRewriteConf, "false")
      val seen =
        try unpartitionedBig(probe())
        finally spark.conf.set(graft.plans.KeyedWindowRule.GlobalRewriteConf, "true")
      assert(seen.nonEmpty,
        "sweep detector failed to see a known unpartitioned window")
      assert(unpartitionedBig(probe()).isEmpty &&
        unwrap(probe().queryExecution.executedPlan)
          .collect { case g if NoKey.rank(g) => g }.nonEmpty,
        "KeyedWindowRule should heal the probe's unpartitioned window")
      // the other family members must heal too — a running sum, a lag,
      // and a whole-frame total each planted and checked; and a
      // LIMIT-bounded frame is exempt by proof, not by rewrite
      import org.apache.spark.sql.functions.{col, lag, sum}
      val cumsum = spark.range(100000).withColumn("cs",
        sum("id").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val lagged = spark.range(100000).withColumn("pv",
        lag(col("id"), 1).over(Window.orderBy("id")))
      val total = spark.range(100000).withColumn("t",
        sum("id").over(Window.partitionBy()))
      // round 11 healers: a bounded ROWS frame (KeyedBoundedAggExec)
      // and the ignore-nulls gap-fill lag(1) (Last exclusive prefix)
      import org.apache.spark.sql.functions.{avg, when}
      val boundedFrame = spark.range(100000).withColumn("m7",
        avg("id").over(Window.orderBy("id").rowsBetween(-6, 0)))
      val ignLag = spark.range(100000)
        .withColumn("v", when(col("id") % 3 === 0, col("id")))
        .withColumn("pv", lag(col("v"), 1, null, ignoreNulls = true)
          .over(Window.orderBy("id")))
      // round 12 healer: a VALUE-DISTANCE (RANGE) trailing frame
      val rangeFrame = spark.range(100000).withColumn("rs",
        sum("id").over(Window.orderBy("id").rangeBetween(-100, 0)))
      Seq("running sum" -> cumsum, "lag" -> lagged, "total" -> total,
          "bounded frame" -> boundedFrame, "ignore-nulls lag(1)" -> ignLag,
          "RANGE value frame" -> rangeFrame)
        .foreach { case (name, df) =>
          assert(unpartitionedBig(df).isEmpty,
            s"rewrite family should heal the planted $name window:\n" +
              df.queryExecution.optimizedPlan)
        }
      val bounded = spark.range(100000).limit(1001).withColumn("rn",
        row_number().over(Window.orderBy("id")))
      assert(unpartitionedBig(bounded).isEmpty,
        "a LIMIT-bounded level frame is exempt by its maxRows proof")
      val overThreshold = spark.range(100000).limit(50000).withColumn("rn",
        row_number().over(Window.orderBy("id")))
      assert(unpartitionedBig(overThreshold).isEmpty,
        "an over-threshold LIMIT still rewrites (not exempt, healed)")
    }
    val hits = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip).flatMap { q =>
        val unpart = unpartitionedBig(SparkEntry.queries(q)(spark, sf))
        if (unpart.nonEmpty) Some(q -> unpart.mkString(", ")) else None
      }.toMap
    val offenders = (hits.keySet -- allowed).toSeq.sorted
      .map(q => s"$q -> ${hits(q)}")
    assert(offenders.isEmpty,
      s"unpartitioned windows over corpus-derived frames:\n${offenders.mkString("\n")}")
    // staleness (the pmod-sweep discipline): an allowance whose query no
    // longer plans an unpartitioned window hides future regressions
    val stale = allowed.filterNot(hits.contains).toSeq.sorted
    assert(stale.isEmpty,
      s"allow-list stale — these entries no longer plan unpartitioned windows, remove them: ${stale.mkString(", ")}")
  }

  test("no query partitions a window by a small literal modulus (VERDICT r9 #4)") {
    // The low-cardinality cousin of the empty-partition-spec hazard: a
    // window PARTITION BY pmod(col, k) with a small literal k caps the
    // window's parallelism at k tasks whatever the cluster size — the
    // empty-spec sweep above cannot see it. Flag every window whose
    // partition spec resolves (through project aliases) to a pmod by a
    // literal ≤ 64; the justified shard writers are allow-listed below
    // with their arguments.
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, Pmod}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    def smallLit(e: Expression): Boolean = e match {
      case Literal(k: Int, _) => k <= 64
      case Literal(k: Long, _) => k <= 64L
      case _ => false
    }
    def offendingSpecs(plan: LogicalPlan): Seq[String] = {
      val aliases: Map[Long, Expression] = plan.collect { case p =>
        p.expressions.flatMap(_.collect { case a: Alias => a.exprId.id -> a.child })
      }.flatten.toMap
      def hasSmallPmod(e: Expression, depth: Int): Boolean =
        if (depth > 8) false
        else e.collectFirst { case p: Pmod if smallLit(p.right) => p }.nonEmpty ||
          e.collect { case ar: AttributeReference => ar }
            .exists(ar => aliases.get(ar.exprId.id).exists(hasSmallPmod(_, depth + 1)))
      // the hazard is a spec whose TOTAL cardinality is literal-bounded:
      // every component must be small-modulus-derived. A small pmod
      // BESIDE an unbounded key (the salted top-k shape — partition by
      // (q_id, pmod(hash, k))) ADDS parallelism and must not flag.
      plan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(hasSmallPmod(_, 0)) =>
          w.partitionSpec.mkString(", ").take(160)
      }
    }
    // detector self-check: a planted pmod-8 partition spec MUST be seen,
    // both written inline and through a project alias
    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, lit, pmod, row_number}
      val aliased = spark.range(1000)
        .withColumn("s", pmod(col("id"), lit(8)))
        .withColumn("rn", row_number().over(Window.partitionBy("s").orderBy("id")))
      assert(offendingSpecs(aliased.queryExecution.optimizedPlan).nonEmpty,
        "sweep detector failed to see a planted aliased pmod-8 window")
      val inline = spark.range(1000)
        .withColumn("rn", row_number().over(
          Window.partitionBy(pmod(col("id"), lit(8L))).orderBy("id")))
      assert(offendingSpecs(inline.queryExecution.optimizedPlan).nonEmpty,
        "sweep detector failed to see a planted inline pmod-8 window")
    }
    // Allow-listed shard writers — each pins its shard count to an
    // EMPTY since round 11: every pmod-sharded window (x10/x111's
    // running prefixes, x50's per-shard row_number) now auto-heals
    // through KeyedWindowRule's keyed execs — pmod ndv is expression-
    // provable, so no pmod-partitioned Window survives in any plan.
    // The staleness check below keeps this list honest.
    val allowed = Set.empty[String]
    val flagged = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val specs = offendingSpecs(
        SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan)
      if (specs.nonEmpty) Some(q -> specs.mkString(" | ")) else None
    }.toMap
    val offenders = (flagged.keySet -- allowed).toSeq.sorted
      .map(q => s"$q -> ${flagged(q)}")
    assert(offenders.isEmpty,
      s"small-literal-modulus window partitions:\n${offenders.mkString("\n")}")
    // and the allow-list must stay honest: every entry on it really does
    // partition by a literal modulus (drop stale entries)
    val stale = allowed -- flagged.keySet
    assert(stale.isEmpty, s"allow-listed but not flagged (stale): $stale")
  }
}
