package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Scale-trap linter: the library's own plan-audit discipline
  * (`PlanAuditSpec`'s watchlist — cartesian products, one-task windows,
  * unpushed scan filters) exposed as a USER-facing operator, so a
  * pipeline author can gate a 100 TB submission on `lint(df)` the way
  * this repo's CI gates its own queries.
  *
  * Every check reads the PRE-execution physical plan (under AQE, the
  * initial plan — the shape the cluster would start executing), costs
  * zero jobs, and reports deterministic, exprId-free rows so the output
  * is stable across runs and engines:
  *
  *  - `cartesian-product` (error): `CartesianProductExec` — every pair of
  *    partitions pairs; O(|L|×|R|) at any scale.
  *  - `nested-loop-join` (warn): `BroadcastNestedLoopJoinExec` — a whole
  *    side broadcast + per-row loop; legitimate only for provably tiny
  *    sides (this library's own 1-row scalar attaches), a scale trap
  *    everywhere else.
  *  - `unpartitioned-window` (error): `WindowExec` with no PARTITION BY —
  *    one task sorts and folds the entire input (the shape
  *    `KeyedWindowRule` heals when the extensions are active).
  *  - `keyed-window` (info): any surviving `WindowExec` — parallelism is
  *    capped at ndv(keys); in a session with the graft extensions active
  *    a surviving window means the rewrite family REFUSED (high/unproven
  *    ndv or an unsupported frame), which deserves a look at scale.
  *  - `unpushed-scan-filter` (warn): a parquet scan carrying data filters
  *    the source could not translate (`PushedFilters` misses them) — the
  *    predicate runs post-materialization on every row read.
  *  - `self-join-aggregate` (info): a join whose two sides scan the same
  *    relation with an aggregate on one side — the greatest-n-per-group /
  *    top-n anti-pattern; in a stock session the fix is registering the
  *    graft extensions (`ArgMaxJoinRule` / `TopNSubqueryRule` collapse it
  *    to one windowed scan), in a session WITH them a surviving instance
  *    means the rules refused the exact shape.
  *  - `shuffle-census` (info): total shuffle-exchange count — the number
  *    a reviewer sanity-checks against the query's minimum.
  *
  * Refusal-free by design: the linter only ever REPORTS (an empty frame
  * is a clean bill), and the findings frame is tiny driver-side metadata
  * — never derived from the data itself.
  */
object PlanLint {

  /** One finding; `node` is the physical operator's class-simple name and
    * `detail` is deterministic (no expression ids, no object hashes).
    */
  case class Finding(rule: String, severity: String, node: String, detail: String)

  /** The pre-execution plan: under AQE, the initial plan (exchanges
    * ensured, no runtime re-planning yet); otherwise the executed plan.
    */
  private def planOf(df: Dataset[_]): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Data filters the source could NOT translate into pushed-down source
    * filters — computed with the same `translateFilter` the scan's own
    * `pushedDownFilters` uses, instead of string-parsing the
    * `PushedFilters` metadata (ADVICE r13: filter values containing
    * parens/commas miscounted there).
    */
  private def unpushedCount(scan: FileSourceScanExec): Int =
    math.max(0, org.apache.spark.sql.graft.ColumnBridge.unpushedScanFilters(scan))

  def findings(df: Dataset[_]): Seq[Finding] = {
    val plan = planOf(df)
    val out = Seq.newBuilder[Finding]
    var shuffles = 0
    plan.foreach {
      case _: CartesianProductExec =>
        out += Finding("cartesian-product", "error", "CartesianProduct",
          "every pair of partitions pairs: O(|left| x |right|) at any scale")
      case j: BroadcastNestedLoopJoinExec =>
        out += Finding("nested-loop-join", "warn", "BroadcastNestedLoopJoin",
          s"${j.joinType.toString.toLowerCase} join with no equi-key; " +
            "whole side broadcast + per-row loop")
      case w: WindowExec if w.partitionSpec.isEmpty =>
        out += Finding("unpartitioned-window", "error", "Window",
          "no PARTITION BY: one task sorts and folds the entire input")
      case w: WindowExec =>
        out += Finding("keyed-window", "info", "Window",
          s"partition keys: ${w.partitionSpec.size}; parallelism capped " +
            "at ndv(keys) and the rewrite family refused this shape")
      case s: FileSourceScanExec =>
        val unpushed = unpushedCount(s)
        if (unpushed > 0)
          out += Finding("unpushed-scan-filter", "warn", "Scan",
            s"$unpushed of ${s.dataFilters.size} scan filter(s) not pushed " +
              "down: predicate runs post-materialization on every row read")
      case _: ShuffleExchangeExec =>
        shuffles += 1
      case j: BaseJoinExec =>
        // self-join against an aggregate of the SAME relation (r14): the
        // greatest-n-per-group / top-n anti-pattern a stock session (no
        // graft extensions) pays as two scans + join; with the
        // extensions on, a SURVIVING instance means the rewrite rules
        // refused (the keyed-window precedent) — worth a look either way
        // compare the relations' actual root paths, NOT the 'Location'
        // metadata string — Spark truncates that to
        // spark.sql.maxMetadataStringLength (default 100), so two
        // distinct tables under a long shared prefix would compare
        // equal and plant a false positive (ADVICE r14)
        def scanLocs(p: SparkPlan): Set[String] = p.collect {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.toString).toSet
        }.flatten.filter(_.nonEmpty).toSet
        def hasAgg(p: SparkPlan): Boolean =
          p.exists { case _: BaseAggregateExec => true; case _ => false }
        def hasWindow(p: SparkPlan): Boolean =
          p.exists { case _: WindowExec => true; case _ => false }
        val sameRel = scanLocs(j.left).intersect(scanLocs(j.right)).nonEmpty
        if (sameRel && (hasAgg(j.left) || hasAgg(j.right)))
          out += Finding("self-join-aggregate", "info", j.nodeName,
            "both join sides scan the same relation and one aggregates " +
              "it; a greatest-n-per-group or top-n spelling collapses to " +
              "one windowed scan (ArgMaxJoinRule / TopNSubqueryRule, " +
              "spark.graft.argmaxJoin.rewrite / spark.graft.topn.rewrite)")
        else if (sameRel && (hasWindow(j.left) || hasWindow(j.right)))
          // the rank-subquery JOIN spelling (r15): same relation on
          // both sides, one windowed — collapses to one scan when a
          // paired column's uniqueness is measured evidence
          out += Finding("self-join-window", "info", j.nodeName,
            "both join sides scan the same relation and one windows " +
              "it; the rank-subquery top-n spelling collapses to one " +
              "windowed scan under measured key uniqueness - one call: " +
              "RankJoinRule.measureAndRegister(spark.read.parquet(path), " +
              "keyCols...) measures exact distinctness and records it " +
              "for that file version (spark.graft.rankJoin.rewrite)")
      case _ =>
    }
    out += Finding("shuffle-census", "info", "plan",
      s"$shuffles shuffle exchange(s)")
    out.result().sortBy(f => (f.rule, f.node, f.detail))
  }

  /** Findings as a DataFrame (columns `rule, severity, node, detail`). */
  def lint(df: Dataset[_])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    findings(df).toDF()
  }

  /** CI-gate form: throw (listing the findings) when any finding at one
    * of the `failOn` severities survives; return the full findings
    * otherwise. `BatchPipeline.run` gates its refined plan on this
    * before writing (opt out with `spark.graft.planLint.gate=false`) —
    * the engine holds its own submissions to the standard its test
    * suite holds the query library to.
    */
  def gate(df: Dataset[_],
           failOn: Set[String] = Set("error")): Seq[Finding] = {
    val fs = findings(df)
    val bad = fs.filter(f => failOn.contains(f.severity))
    if (bad.nonEmpty) throw new org.apache.spark.SparkException(
      "PlanLint gate: the plan contains scale traps:\n" +
        bad.map(f => s"  [${f.severity}] ${f.rule} (${f.node}): ${f.detail}")
          .mkString("\n") +
        "\nFix the plan, or disable the gate with spark.graft.planLint.gate=false.")
    fs
  }

  /** Conf key for the pipeline's pre-write gate. */
  val GateConf = "spark.graft.planLint.gate"
}
