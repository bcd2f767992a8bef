package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, DeclarativeAggregate, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.IntegerType

/** The window-expression shapes the rewrite family executes — shared by
  * [[KeyedWindowRule]]'s no-key and keyed arms and the self-join
  * collapse rules: one source of truth, so the arms can never drift on
  * what "a running aggregate" means.
  */
private[plans] object WindowShapes {

  /** Whitelisted running aggregates: `DeclarativeAggregate`s whose
    * init/update/merge/evaluate expressions the prefix-sum execs replay
    * verbatim, so semantics (null handling, Decimal widening, ANSI
    * overflow) are inherited, not reimplemented. DISTINCT and FILTER
    * forms are excluded (neither is a prefix-mergeable fold).
    */
  def supportedAgg(f: AggregateFunction): Boolean = f match {
    case _: Sum | _: Min | _: Max | _: Count | _: Average | _: First | _: Last =>
      f.isInstanceOf[DeclarativeAggregate]
    case _ => false
  }

  /** Additional aggregates sound for BOUNDED frames only: the bounded
    * execs re-fold each frame's rows SEQUENTIALLY — the exact operation
    * order `WindowExec`'s sliding frame uses — so float-order-sensitive
    * moments (stddev/variance, correlation, covariance) stay
    * bit-identical. The running/total paths merge per-partition
    * PARTIALS instead, a different float operation order, so these
    * never ride those. */
  def boundedOnlyAgg(f: AggregateFunction): Boolean = f match {
    case _: org.apache.spark.sql.catalyst.expressions.aggregate.CentralMomentAgg |
         _: org.apache.spark.sql.catalyst.expressions.aggregate.Corr |
         _: org.apache.spark.sql.catalyst.expressions.aggregate.Covariance =>
      f.isInstanceOf[DeclarativeAggregate]
    case _ => false
  }

  /** No nondeterministic expression anywhere in the tree (subquery
    * markers excepted: `PlanExpression` wrappers report themselves
    * nondeterministic, but their inner plans are validated by their
    * own rewrites). ONE definition shared by the whole self-join
    * elimination family (`ArgMaxJoinRule`/`TopNSubqueryRule`/
    * `RankJoinRule`) so the determinism contract can never drift
    * between rules. The exemption holds in the optimizer too, where
    * `ArgMaxJoinRule` runs: ArgMaxJoinSpec collapses a self-join whose
    * shared base filter holds a `rand()` scalar subquery with parity. */
  def deterministicTree(p: LogicalPlan): Boolean =
    p.find(n => n.expressions.exists(e =>
      !e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]]))).isEmpty

  /** The ranking functions the rank execs compute — pure functions of
    * position, tie run, and frame total. */
  def rankKindOf(fn: Expression): Option[RankKind] = fn match {
    case _: RowNumber => Some(RankKind.RowNumber)
    case _: Rank => Some(RankKind.Rank)
    case _: DenseRank => Some(RankKind.DenseRank)
    case NTile(Literal(k: Int, _)) if k > 0 => Some(RankKind.Ntile(k))
    case _: PercentRank => Some(RankKind.PercentRank)
    case _: CumeDist => Some(RankKind.CumeDist)
    case _ => None
  }

  /** `nth_value(x, 1[, ignoreNulls])` — Spark's `OptimizeWindowFunctions`
    * spelling of `first_value` for ROWS frames starting at UNBOUNDED
    * PRECEDING — as the equivalent `First` aggregate. */
  def nthFirstOf(fn: Expression): Option[AggregateExpression] = fn match {
    case NthValue(in, Literal(1, IntegerType), ignoreNulls) if in.deterministic =>
      Some(First(in, ignoreNulls).toAggregateExpression())
    case _ => None
  }

  /** `nth_value(x, n[, ignoreNulls])` for 2 ≤ n ≤ [[RingAggs.MaxSlots]]
    * → the [[NthFirstRing]] aggregate: first-n value slots + count, so
    * the nth-in-frame pick is a buffer read. Mergeable (running frames,
    * partition-partial prefix merges) AND sequential-fold exact
    * (bounded/range frames) — see [[RingAggs]]. n = 1 stays on `First`
    * via [[nthFirstOf]]; larger n keeps Spark's plan. */
  def nthRingOf(fn: Expression): Option[AggregateExpression] = fn match {
    case NthValue(in, Literal(n: Int, IntegerType), ignoreNulls)
        if n > 1 && n <= RingAggs.MaxSlots && in.deterministic =>
      Some(NthFirstRing(in, n, ignoreNulls).toAggregateExpression())
    case _ => None
  }

  /** Any rewritable `nth_value` spelling → its aggregate. */
  def nthAggOf(fn: Expression): Option[AggregateExpression] =
    nthFirstOf(fn).orElse(nthRingOf(fn))

  /** `agg(x) OVER (… [ROWS|RANGE] UNBOUNDED PRECEDING → CURRENT ROW)`
    * (or the exclusive `… AND 1 PRECEDING`) → (aggregate, frame). */
  def runningAggOf(fn: Expression,
                   spec: WindowSpecDefinition): Option[(AggregateExpression, RunFrame)] =
    (fn, spec.frameSpecification) match {
      case (ae @ AggregateExpression(f, Complete, false, None, _),
            SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))
          if supportedAgg(f) =>
        Some((ae,
          if (ft == RowFrame) RunFrame.RowsCurrent else RunFrame.RangeCurrent))
      case (ae @ AggregateExpression(f, Complete, false, None, _),
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
              Literal(-1, IntegerType)))
          if supportedAgg(f) =>
        Some((ae, RunFrame.RowsExclusive))
      case (nth, SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow)) =>
        nthAggOf(nth).map((_,
          if (ft == RowFrame) RunFrame.RowsCurrent else RunFrame.RangeCurrent))
      case (nth, SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
              Literal(-1, IntegerType))) =>
        nthAggOf(nth).map((_, RunFrame.RowsExclusive))
      case _ => None
    }

  /** `agg(x) OVER (… ROWS BETWEEN <lo> AND <up>)` with BOTH ends
    * bounded — k PRECEDING / CURRENT ROW / k FOLLOWING in any valid
    * combination: trailing (the reference's W1 rolling mean), centered
    * smoothing (`a PRECEDING AND b FOLLOWING`), strictly-preceding and
    * pure-following frames → (aggregate, signed lower, signed upper),
    * frame rows = [t+lower, t+upper]. Capped at `maxReach` rows of
    * reach either side: the rewrites ship that many boundary tuples per
    * partition as driver metadata, so a pathological million-row frame
    * stays on Spark's plan. `first_value` over a bounded frame reaches
    * here in its aggregate spelling (the optimizer's `nth_value(x, 1)`
    * rewrite fires only for UNBOUNDED PRECEDING frames), but nth
    * handling is kept for DataFrame-API `nth_value(…, 1)` calls.
    */
  def boundedAggOf(fn: Expression, spec: WindowSpecDefinition,
                   maxReach: Int): Option[(AggregateExpression, Int, Int)] = {
    def boundOf(e: Expression): Option[Int] = e match {
      case CurrentRow => Some(0)
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
    def bounds: Option[(Int, Int)] = spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, loE, upE) =>
        for {
          lo <- boundOf(loE)
          up <- boundOf(upE)
          if lo <= up && -lo <= maxReach && up <= maxReach
        } yield (lo, up)
      case _ => None
    }
    fn match {
      case ae @ AggregateExpression(f, Complete, false, None, _)
          if supportedAgg(f) || boundedOnlyAgg(f) =>
        bounds.map { case (lo, up) => (ae, lo, up) }
      case _ =>
        nthAggOf(fn).flatMap(ae => bounds.map { case (lo, up) => (ae, lo, up) })
    }
  }

  /** `agg(x) OVER (… ORDER BY t RANGE BETWEEN <lo> AND <up>)` with
    * literal VALUE-DISTANCE bounds — trailing (`Δ PRECEDING AND CURRENT
    * ROW`, the trailing-2-days shape), strictly-preceding, CENTERED
    * (`a PRECEDING AND b FOLLOWING`) and pure-following → (aggregate,
    * signed lo, signed up) in order units. One ascending NULLS FIRST
    * order key of an integer-backed type; the bounded-only float moments
    * are allowed because [[RangeAggExec]] re-folds each frame
    * sequentially in `WindowExec`'s own order. */
  def rangeAggOf(fn: Expression, spec: WindowSpecDefinition)
      : Option[(AggregateExpression, RangeFrames.RBound, RangeFrames.RBound)] =
    spec.orderSpec match {
      case Seq(SortOrder(oe, Ascending, NullsFirst, _))
          if RangeFrames.supportedOrderType(oe.dataType) && oe.deterministic =>
        spec.frameSpecification match {
          case SpecifiedWindowFrame(RangeFrame, loE, upE) =>
            // HALF-unbounded sides (r12 verdict #3) ride prefix/suffix
            // seeds — merge-safe aggregates only (the seeds are driver-
            // merged partials; the float moments' sequential-fold
            // guarantee cannot survive an unbounded frame). Both-
            // unbounded is the whole-frame total (TotK / the global
            // total plan), and `UNBOUNDED PRECEDING AND CURRENT ROW`
            // was already taken by the running arm upstream.
            //
            // A partner bound that CUTS INTO the seeded side (r13, the
            // last two cells of the RANGE bound lattice): `UNBOUNDED
            // PRECEDING AND k PRECEDING` excludes the previous chain's
            // trailing k-band from the prefix seed, and `k FOLLOWING AND
            // UNBOUNDED FOLLOWING` excludes the following chain's head
            // band from the suffix seed. These now heal via BAND-SPLIT
            // seeds: pass 1 cuts each partition's segment total at its
            // harvest boundary, the driver folds rows leaving the
            // context retention into the seed accumulators (FIFO, below
            // every later consumer's frame edge by the retention
            // invariant), and the band rows travel as the SAME boundary
            // context tuples the bounded frames already ship, admitted
            // per run by the staging gate / slider eviction. Because
            // band rows reach the seed through eviction paths whose
            // stream order the suffix mirror cannot always keep, the
            // inward shapes are restricted to COMMUTATIVE-fold
            // aggregates (sum/count/min/max/avg); First/Last and the
            // nth rings keep Spark's plan there.
            def nonNegative(b: RangeFrames.RBound): Boolean = b match {
              case RangeFrames.RFixed(d) => d >= 0L
              case RangeFrames.RMonths(m) => m >= 0
              case RangeFrames.RUnbounded => false
            }
            def nonPositive(b: RangeFrames.RBound): Boolean = b match {
              case RangeFrames.RFixed(d) => d <= 0L
              case RangeFrames.RMonths(m) => m <= 0
              case RangeFrames.RUnbounded => false
            }
            def commutativeAgg(f: AggregateFunction): Boolean = f match {
              case _: Sum | _: Min | _: Max | _: Count | _: Average =>
                f.isInstanceOf[DeclarativeAggregate]
              case _ => false
            }
            val loOpt = loE match {
              case UnboundedPreceding => Some(RangeFrames.RUnbounded)
              case e => RangeFrames.signedBound(e, oe.dataType)
            }
            val upOpt = upE match {
              case UnboundedFollowing => Some(RangeFrames.RUnbounded)
              case e => RangeFrames.signedBound(e, oe.dataType)
            }
            for {
              lo <- loOpt
              up <- upOpt
              if !(lo == RangeFrames.RUnbounded && up == RangeFrames.RUnbounded)
              if RangeFrames.boundsOrdered(lo, up)
              anyUnb = lo == RangeFrames.RUnbounded || up == RangeFrames.RUnbounded
              inward = (lo == RangeFrames.RUnbounded && !nonNegative(up)) ||
                (up == RangeFrames.RUnbounded && !nonPositive(lo))
              ae <- (fn match {
                case ae @ AggregateExpression(f, Complete, false, None, _)
                    if (if (inward) commutativeAgg(f)
                        else supportedAgg(f) || (boundedOnlyAgg(f) && !anyUnb)) =>
                  Some(ae)
                case _ if !inward => nthAggOf(fn)
                case _ => None
              })
            } yield (ae, lo, up)
          case _ => None
        }
      case _ => None
    }

  /** `agg(x) OVER (… ROWS BETWEEN UNBOUNDED PRECEDING AND k PRECEDING/
    * FOLLOWING)` with |k| beyond the running arms (k ≤ −2 or k ≥ 1) —
    * the ROWS cells of the half-unbounded lattice (r13). Served by
    * COMPOSITION, not a new exec: the frame is a row-shifted prefix, so
    * `lag(running, k, empty-frame value)` / `lead(running, k, total)`
    * reproduce it exactly (lead's default fires precisely when the
    * shifted frame clamps to the whole partition), and both pieces are
    * shapes the family already heals over one exchange. */
  def rowsShiftOf(fn: Expression, spec: WindowSpecDefinition)
      : Option[(AggregateExpression, Int)] =
    (fn, spec.frameSpecification) match {
      case (ae @ AggregateExpression(f, Complete, false, None, _),
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
              Literal(k: Int, IntegerType)))
          if supportedAgg(f) && (k <= -2 || k >= 1) =>
        Some((ae, k))
      case _ => None
    }

  /** The aggregate's value over an EMPTY frame (count → 0, sum/min/max/
    * avg → null, …): `evaluateExpression` folded over `initialValues`.
    * None when the fold cannot be evaluated constant (refuse then). */
  def emptyFrameValue(ae: AggregateExpression): Option[Literal] = {
    val f = ae.aggregateFunction.asInstanceOf[DeclarativeAggregate]
    val byAttr = f.aggBufferAttributes.map(_.exprId).zip(f.initialValues).toMap
    val folded = f.evaluateExpression.transform {
      case a: AttributeReference if byAttr.contains(a.exprId) => byAttr(a.exprId)
    }
    scala.util.Try(Literal.create(folded.eval(InternalRow.empty), f.dataType))
      .toOption
  }

  /** Literal-offset respect-nulls lag/lead → (input, SIGNED offset,
    * default). */
  def offsetOf(fn: Expression): Option[(Expression, Int, Expression)] =
    fn match {
      case Lag(in, Literal(n: Int, _), default, false)
          if in.deterministic && default.deterministic =>
        Some((in, -n, default))
      case Lead(in, Literal(n: Int, _), default, false)
          if in.deterministic && default.deterministic =>
        Some((in, n, default))
      case _ => None
    }

  /** ignore-nulls `lag(e, n[, default])` → (input, n, default): exactly
    * `last_value(e, ignoreNulls)` (n = 1) or the last-n [[NthLastRing]]
    * (n > 1, the nth-non-null-back pick) over the EXCLUSIVE prefix, with
    * the default grafted back by a coalesce projection (the lag returns
    * its default exactly when fewer than n preceding non-null values
    * exist). ignore-nulls `lead` stays on `WindowExec`: the n-th FUTURE
    * non-null may sit arbitrarily far ahead (an all-null stretch), so a
    * streaming rewrite would need an unbounded pending queue — the exact
    * state class this family exists to avoid. */
  def ignLagOf(fn: Expression): Option[(Expression, Int, Expression)] =
    fn match {
      case Lag(in, Literal(n: Int, IntegerType), default, true)
          if n >= 1 && n <= RingAggs.MaxSlots &&
            in.deterministic && default.deterministic =>
        Some((in, n, default))
      case _ => None
    }
}

/** Optimizer rule re-planning the window shapes Spark runs at too little
  * parallelism onto the `Keyed*` exec family. One rule, one strategy
  * ([[KeyedWindowStrategy]]), two arms that differ only in their keys:
  *
  *   - NO KEYS — `f() OVER (ORDER BY ...)` or `agg() OVER ()`, an EMPTY
  *     partition spec (VERDICT r9 #1; the automatic counterpart of
  *     `stats/GlobalRank`, following the [[RangeJoinRule]] auto-rewrite
  *     precedent). Spark plans it as a single-partition `WindowExec`
  *     sort. A global window is a keyed window with no keys: every row
  *     projects to the same empty key, which straddles every partition
  *     seam, so the same execs compute the global answer unchanged, over
  *     a range-partitioned boundary-stitch plan. Opt out with
  *     `spark.graft.globalRank.rewrite=false`.
  *   - KEYS — the LOW-CARDINALITY `PARTITION BY` hazard (VERDICT r10 #3):
  *     `agg(x) OVER (PARTITION BY c ORDER BY t [frame])` hash-clusters on
  *     c, so with ndv(c) = 3 (the reference's `l_returnflag` bars) the
  *     whole corpus rides through THREE tasks at any cluster size. The
  *     rule re-plans through one range exchange on (c, t) — parallelism
  *     bounded by the data — with per-key boundary stitching, results
  *     bit-identical. Opt out with `spark.graft.keyedWindow.rewrite=false`.
  *
  * Both confs are read at optimization time, so toggling affects the next
  * plan.
  *
  * Scope — a Window node is rewritten only when EVERY window expression
  * is one of:
  *   - a ranking function — row_number / rank / dense_rank / ntile(k)
  *     / percent_rank / cume_dist, all pure functions of the position,
  *     tie run and row count ([[KeyedRankPlan]]'s two-pass count);
  *   - a running aggregate — sum/count/min/max/avg/first_value/
  *     last_value (ignore-nulls included; `first_value` also in its
  *     optimizer-rewritten `nth_value(x, 1)` spelling) over an
  *     UNBOUNDED PRECEDING → CURRENT ROW frame, ROWS or RANGE — the
  *     distributed prefix sum of [[KeyedRunningAggPlan]];
  *   - a whole-frame total (`agg() OVER ([PARTITION BY c])`,
  *     [[KeyedTotalAggPlan]]: zero exchange);
  *   - a literal-offset respect-nulls lag/lead ([[KeyedOffsetPlan]]:
  *     boundary values cross partitions as metadata);
  *   - a BOUNDED sliding aggregate — a both-ends-bounded ROWS frame with
  *     reach ≤ maxBoundedFrame each side ([[KeyedBoundedAggPlan]]:
  *     boundary tuples per partition, row-local re-fold). With no keys
  *     the frame may reach FOLLOWING rows (centered, pure-following);
  *   - a RANGE VALUE-DISTANCE frame over an int-backed ascending order
  *     ([[KeyedRangeAggPlan]]: value-capped boundary harvest);
  *   - `nth_value(n>1)` and ignore-nulls `lag(e, n>1)`, riding as
  *     [[NthFirstRing]]/[[NthLastRing]] value rings.
  * Anything else — ignore-nulls lead (needs an unbounded pending queue),
  * n beyond [[RingAggs.MaxSlots]], non-literal or calendar RANGE
  * distances — keeps the whole Window node untouched: a mixed node must
  * stay one node to compute consistently. A mix stacks the plans over
  * ONE range exchange (each preserves the child's partitioning and
  * order, so the outer's requirement is already satisfied). A PURE-rank
  * node directly under a rank-limit filter (`rn <= k`, and rank-RANGE
  * predicates like `rn > 100 AND rn <= 120`, which contain a limit-like
  * conjunct) is left to Spark's `InferWindowGroupLimit` top-k path,
  * which prunes to k rows per key per map partition BEFORE the final
  * sort — better than ranking everything.
  *
  * The decision ([[heals]]) keeps Spark's plan when the frame is
  * provably tiny (`maxRows`, [[KeyedWindowRule.SmallFrameConf]]), then
  * splits by arm:
  *   - no keys: the input-size stock gate
  *     ([[KeyedWindowRule.StockBytesConf]]) keeps Spark's one-task window
  *     for linear shapes under 128 MB, except on windows the collapse
  *     rules marked with [[KeyedWindowRule.HealExpectedTag]];
  *   - keys: the keys' ndv must be provably small, or unprovable (the
  *     optimistic arm, below).
  *
  * "Provably small" (≤ `spark.graft.keyedWindow.maxNdv`, default 64,
  * [[Lineage.provenKeyNdv]]):
  *   - the EXPRESSION bounds its own domain: boolean (≤3 with null),
  *     `pmod(x, k)`/`x % k` with a literal k, a literal, a CASE WHEN
  *     whose outputs are all literals, a cast of any of these (a cast
  *     never increases ndv);
  *   - else the column's [[Lineage]] trace bounds it: CBO stats at each
  *     step, an upstream `c IN (…)`/`c = lit` filter pin, then at the
  *     leaf a session NDV HINT (`spark.graft.keyedWindow.ndvHints`,
  *     [[KeyedWindowRule.registerNdvHint]], a fact a user vouches for),
  *     the MEASURED ndv of the file version it scans ([[FileEvidence]],
  *     filled by the fixture loaders), its CatalogTable stats (`ANALYZE
  *     TABLE … FOR COLUMNS`, no CBO flag needed; `BatchPipeline.
  *     registerRefined` auto-ANALYZEs small tables, so `PARTITION BY
  *     n_name` proves with zero setup), its plan stats. Nothing in the
  *     library registers a hint (GraftSessionSpec guards this): the bar
  *     queries' `PARTITION BY ativo` fires on the optimistic arm below,
  *     and the streaming arrival's touched-asset `IN` pin proves its key
  *     count from the plan itself.
  *
  * A PROVABLY-high ndv leaves the plan with Spark: hash clustering at
  * high ndv is already parallel, and the rewrite's range sampling job +
  * boundary metadata would be pure overhead. A COMPOSITE key is
  * proven-high by a single MEASURED-high component (r15, VERDICT r14
  * #1): `ndv(k₁…kₙ) ≥ max ndv(kᵢ)`, applied only to the ndv-SENSITIVE
  * shapes (whole-frame totals and ntile/percent_rank/cume_dist, whose
  * heal broadcasts an O(ndv) model) and only on measured evidence —
  * a domain UPPER bound caps ndv but cannot floor it. An UNPROVABLE
  * ndv — the stats-less ad-hoc `spark.read.parquet` lineage, no bound,
  * pin, stats, or hint — fires OPTIMISTICALLY by default (VERDICT r12
  * #1, `spark.graft.keyedWindow.optimistic`). Since r15 the runtime
  * `spark.graft.keyedWindow.maxRuns` budget guards only the shapes
  * with inherent O(ndv) state: running aggregates and plain
  * row_number/rank/dense_rank stitch on O(partitions) BOUNDARY
  * metadata and complete at any key count; whole-frame totals enforce
  * the budget inside pass 1 and a trip PIVOTS to the shuffled attach
  * where the node promised no ordering/partitioning, aborting loudly
  * (typed, remedy-bearing) only for order-sensitive totals, where no
  * sound fallback exists.
  *
  * Identity: the rewrite is exact — same values, same types, same
  * exprIds — for ANY input, including non-total orders (ties get an
  * arbitrary-but-valid row_number either way; rank/dense_rank are
  * deterministic under ties by construction). Idempotent: the rewrite
  * produces no Window node, so it cannot match twice.
  */
case class KeyedWindowRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import KeyedWindowRule._

  private sealed trait Kind
  private case class RankK(k: RankKind) extends Kind
  private case class RunK(ae: AggregateExpression, frame: RunFrame) extends Kind
  private case class OffK(in: Expression, off: Int, default: Expression) extends Kind
  private case class IgnK(in: Expression, n: Int, default: Expression) extends Kind
  private case class BndK(ae: AggregateExpression, lower: Int, upper: Int) extends Kind
  private case class RngK(ae: AggregateExpression, lo: RangeFrames.RBound, up: RangeFrames.RBound) extends Kind
  private case class TotK(ae: AggregateExpression, orderSensitive: Boolean) extends Kind

  private def classify(ne: NamedExpression, keyed: Boolean): Option[Kind] = {
    val maxReach = session.conf.get(MaxBoundedFrameConf, "1024").toInt
    ne match {
      case Alias(WindowExpression(fn, spec), _) =>
        WindowShapes.rankKindOf(fn).map(RankK.apply)
          .orElse(
            WindowShapes.runningAggOf(fn, spec).map { case (ae, fr) => RunK(ae, fr) })
          .orElse(WindowShapes.offsetOf(fn).map { case (in, o, d) => OffK(in, o, d) })
          .orElse(WindowShapes.ignLagOf(fn).map { case (in, n, d) => IgnK(in, n, d) })
          // a FOLLOWING end only with no keys: KeyedBoundedAggExec's
          // forward context (the next partition's first tuples) and
          // pending queue are not key-scoped, so the exec requires
          // `partKeys.isEmpty || uppers.forall(_ <= 0)`
          .orElse(WindowShapes.boundedAggOf(fn, spec, maxReach)
            .filter(!keyed || _._3 <= 0).map { case (ae, lo, up) => BndK(ae, lo, up) })
          .orElse(WindowShapes.rangeAggOf(fn, spec)
            .map { case (ae, lo, up) => RngK(ae, lo, up) })
          .orElse(totalOf(fn, spec, keyed).map { case (ae, os) => TotK(ae, os) })
      case _ => None
    }
  }

  /** `agg(x) OVER ([PARTITION BY k] [ORDER BY t] ROWS UNBOUNDED BOTH)` —
    * the whole-frame total → (aggregate, order-sensitive). First/Last
    * and the nth rings are ORDER-SENSITIVE when the window's ORDER BY
    * is written: they are the frame's order-first/-last, and the exec
    * then demands the (keys ++ order) range exchange (the G6 fix).
    * Without an order their value is partition-order-arbitrary (Spark's
    * included): with no keys the one arbitrary pick is healed as is, a
    * keyed one stays with Spark. `first_value` also arrives in its
    * optimizer-rewritten `nth_value(x, 1)` spelling. */
  private def totalOf(fn: Expression, spec: WindowSpecDefinition, keyed: Boolean)
      : Option[(AggregateExpression, Boolean)] = {
    val total = (fn, spec.frameSpecification) match {
      case (ae @ AggregateExpression(f, Complete, false, None, _),
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))
          if WindowShapes.supportedAgg(f) =>
        Some(ae)
      case (nth, SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing)) =>
        WindowShapes.nthAggOf(nth)
      case _ => None
    }
    total.flatMap { ae =>
      val positional = ae.aggregateFunction match {
        case _: First | _: Last | _: NthFirstRing => true
        case _ => false
      }
      if (positional && keyed && spec.orderSpec.isEmpty) None
      else Some((ae, positional && spec.orderSpec.nonEmpty))
    }
  }

  /** Cost guard: when the frame is PROVABLY tiny (`maxRows` — a hard
    * bound, typically from a `LIMIT` marker over a bounded level frame),
    * Spark's window is strictly cheaper than the rewrite: a one-task
    * sort of ≤ a few thousand rows is microseconds, while a range
    * exchange pays a SAMPLING JOB that re-executes the whole upstream
    * (plus the metadata pass). Library code documents bounded frames
    * with an exact `.limit(bound)` (per-mill level frames: ≤1001 rows by
    * construction); unbounded frames — calendars, sources, anything
    * corpus-derived — have no `maxRows` and always rewrite.
    */
  private def provablySmall(child: LogicalPlan): Boolean = {
    val threshold = session.conf.get(SmallFrameConf, "4096").toLong
    threshold > 0L && child.maxRows.exists(_ <= threshold)
  }

  /** Input-size stock gate ([[KeyedWindowRule.StockBytesConf]]) of the
    * no-key arm: true when every expression on the node is a
    * linear-at-stock shape (no RANGE value frame) and the child's size
    * estimate is under the threshold — Spark's single-task window is
    * then the cheaper correct plan.
    *
    * The keyed arm deliberately has no such gate: the keyed family is
    * the planning target of the self-join collapse rules (ArgMaxJoinRule
    * / RankJoinRule construct keyed Window nodes EXPECTING this rule to
    * plan them as the zero-exchange attach), and an A/B at sf0.1
    * measured the gate regressing exactly those collapse queries
    * (j1 0.68 → 1.35 s isolated, w1 1.25 → 1.9, q2 0.89 → 4.4 with the
    * build's artifact passes included) while the keyed user-window wins
    * it captured were under 0.35 s each. Rule-constructed no-key windows
    * are exempted here by the [[KeyedWindowRule.HealExpectedTag]]
    * marker. */
  private def smallAtStock(w: Window): Boolean = {
    val bytes = session.conf.get(StockBytesConf, StockBytesDefault.toString).toLong
    bytes > 0L &&
      w.getTagValue(HealExpectedTag).isEmpty &&
      !w.windowExpressions.exists(ne =>
        classify(ne, keyed = false).exists(_.isInstanceOf[RngK])) &&
      w.child.stats.sizeInBytes <= BigInt(bytes)
  }

  /** The OPTIMISTIC arm (VERDICT r12 #1): some key's ndv has NO plan-time
    * evidence at all — the stats-less ad-hoc lineage. Fires the rewrite
    * under the runtime [[KeyedWindowRule.MaxRunsConf]] budget (the execs
    * enforce it before unbounded metadata can accumulate). A key whose
    * ndv IS provable but too high does NOT reach here: known-high ndv
    * means Spark's hash clustering is the right plan, and staying put is
    * the correct answer, not a gap.
    *
    * LOWER-BOUND refusal (VERDICT r14 #1): a composite key is
    * proven-HIGH by any single component, because `ndv(k₁…kₙ) ≥ max
    * ndv(kᵢ)` — so when `ndvSensitive` (the node carries shapes whose
    * heal degrades with ndv: whole-frame totals and the
    * ntile/percent_rank/cume_dist ranks, all of which broadcast an
    * O(ndv) model), a component with MEASURED evidence over `maxNdv`
    * refuses the wager even though another component is unprovable —
    * `(o_custkey, month)` keeps Spark's hash-clustered Window once
    * `o_custkey` is measured high. Only MEASURED evidence (session
    * hints, file evidence, catalog/CBO distinct counts) counts: a
    * domain UPPER bound (pmod k, IN-list pin) above `maxNdv` proves
    * nothing about the floor. Shapes with O(partitions) driver state
    * (running aggs and plain row_number/rank/dense_rank) stay eligible —
    * their heal does not degrade with ndv, so high measurement is not a
    * loss signal. */
  private def ndvUnprovable(keys: Seq[Expression], child: LogicalPlan,
                            ndvSensitive: Boolean): Boolean = {
    session.conf.get(OptimisticConf, "true") == "true" &&
      // `__`-prefixed columns are the library's own derived plumbing
      // (e.g. `packSequences`' `__shard`): those plans are already
      // skew-healed by construction, and an optimistic re-plan on top
      // would only stack a second exchange + stitch over the first
      // heal — leave them exactly as built
      !keys.exists(_.references.exists(_.name.startsWith("__"))) && {
      val hints = Lineage.ndvHints(session)
      keys.exists(Lineage.ndvBound(_, child, hints).isEmpty) && {
        !ndvSensitive || {
          val maxNdv = session.conf.get(MaxNdvConf, "64").toLong
          // a cast can collapse values and a computed key has only
          // domain reasoning: neither carries a measurement
          !keys.exists {
            case a: Attribute => Lineage.measuredNdv(a, child, hints).exists(_ > maxNdv)
            case _ => false
          }
        }
      }
    }
  }

  /** The shapes whose HEAL holds O(ndv) driver/broadcast state — totals
    * and the key-total-dividing ranks. Running aggs, offsets, and plain
    * row_number/rank/dense_rank stitch on O(partitions) boundary
    * metadata instead, so their optimistic arm needs no ndv ceiling. */
  private def ndvSensitiveKinds(kinds: Seq[Option[Kind]]): Boolean =
    kinds.exists(_.exists {
      case _: TotK => true
      case _: BndK => false
      case RankK(k) => k match {
        case RankKind.Ntile(_) | RankKind.PercentRank | RankKind.CumeDist => true
        case _ => false
      }
      case _ => false
    })

  /** The one decision, on/off confs aside: would `w` re-plan? Both arms
    * keep Spark's plan for a provably tiny frame and need every
    * expression classified, with an ORDER BY unless every one is a
    * whole-frame total (every other shape is position- or
    * prefix-dependent and needs the order to range-partition; a ROWS
    * prefix with no order is left to Spark, its result is only defined
    * up to an arbitrary order anyway). Then the no-key arm applies
    * the stock gate and the keyed arm the ndv proof or the optimistic
    * wager. */
  private def heals(w: Window): Boolean = {
    val keys = w.partitionSpec
    w.windowExpressions.nonEmpty && !provablySmall(w.child) &&
      (keys.nonEmpty || !smallAtStock(w)) && {
        val kinds = w.windowExpressions.map(classify(_, keys.nonEmpty))
        kinds.forall(_.isDefined) &&
          (w.orderSpec.nonEmpty || kinds.forall(_.exists(_.isInstanceOf[TotK]))) &&
          (keys.isEmpty || Lineage.provenKeyNdv(session, keys, w.child) ||
            ndvUnprovable(keys, w.child, ndvSensitiveKinds(kinds)))
      }
  }

  /** Everything but the on/off conf: would this KEYED node re-plan?
    * Exposed for the PlanAuditSpec low-ndv sweep, which must see keyed
    * windows only (a no-key window under the stock gate stays Spark's by
    * design), and whose detector self-check plants a probe with the
    * rewrite off and must still SEE it. */
  private[graft] def wouldRewrite(w: Window): Boolean =
    w.partitionSpec.nonEmpty && heals(w)

  /** A conjunct that bounds a rank attr above — the shapes Spark's
    * `InferWindowGroupLimit` prunes map-side: `rn < k`, `rn <= k`,
    * `rn = k`. Keyed or not, `rnk <= k` is Spark's best plan, pruning to
    * k rows per key per map partition BEFORE any exchange. */
  private def hasRankLimit(cond: Expression, rankAttrs: AttributeSet): Boolean =
    splitConjunctivePredicates(cond).exists {
      case LessThan(a: Attribute, _: Literal) => rankAttrs.contains(a)
      case LessThanOrEqual(a: Attribute, _: Literal) => rankAttrs.contains(a)
      case EqualTo(a: Attribute, _: Literal) => rankAttrs.contains(a)
      case EqualTo(_: Literal, a: Attribute) => rankAttrs.contains(a)
      case GreaterThan(_: Literal, a: Attribute) => rankAttrs.contains(a)
      case GreaterThanOrEqual(_: Literal, a: Attribute) => rankAttrs.contains(a)
      case _ => false
    }

  private def isPureRank(w: Window): Boolean =
    w.windowExpressions.forall {
      case Alias(WindowExpression(fn, _), _) =>
        WindowShapes.rankKindOf(fn).isDefined
      case _ => false
    }

  /** ADVICE r13: only split a window for the rows-shift composition when
    * every OTHER expression on the node is itself a shape the family
    * heals — otherwise the split leaves a residual one-task `WindowExec`
    * PLUS an extra window stage, a strict pessimization over leaving
    * Spark's single window intact.
    */
  private def residualHealable(w: Window): Boolean = {
    val shiftIds = rowsShiftTargets(w).map(_._1.exprId).toSet
    w.windowExpressions.filterNot(ne => shiftIds.contains(ne.exprId))
      .forall(ne => classify(ne, keyed = false).isDefined)
  }

  private def rowsShiftTargets(w: Window): Seq[(Alias, AggregateExpression, Int)] =
    w.windowExpressions.collect {
      case al @ Alias(WindowExpression(fn, spec), _)
          if WindowShapes.rowsShiftOf(fn, spec).isDefined =>
        val (ae, k) = WindowShapes.rowsShiftOf(fn, spec).get
        (al, ae, k)
    }

  /** Rewrite the ROWS-shifted prefixes of `w` into the two-level
    * lag/lead-over-running composition (see the apply-site comment);
    * untouched window expressions ride the outer node unchanged. Falls
    * back to `w` when an empty-frame default cannot fold constant. */
  private def composeRowsShift(w: Window): LogicalPlan = {
    val targets = rowsShiftTargets(w)
    val empties = targets.map { case (_, ae, k) =>
      if (k < 0) WindowShapes.emptyFrameValue(ae)
      else Some(Literal(null)) // unused for the lead form
    }
    if (empties.exists(_.isEmpty)) return w
    val runFrame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val totFrame =
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
    val runSpec = WindowSpecDefinition(w.partitionSpec, w.orderSpec, runFrame)
    val totSpec = WindowSpecDefinition(w.partitionSpec, w.orderSpec, totFrame)
    val runAliases = targets.map { case (al, ae, _) =>
      Alias(WindowExpression(ae, runSpec), al.name + "__run")()
    }
    val totPairs: Seq[(ExprId, Alias)] = targets.collect {
      case (al, ae, k) if k > 0 =>
        al.exprId -> Alias(WindowExpression(ae, totSpec), al.name + "__tot")()
    }
    val totByTarget = totPairs.toMap
    val w1 = Window(runAliases ++ totPairs.map(_._2),
      w.partitionSpec, w.orderSpec, w.child)
    val shifted: Seq[NamedExpression] = targets.zipWithIndex.map {
      case ((al, _, k), i) =>
        val rAttr = runAliases(i).toAttribute
        val fn =
          if (k < 0) Lag(rAttr, Literal(-k), empties(i).get, false)
          else Lead(rAttr, Literal(k),
            totByTarget(al.exprId).toAttribute, false)
        Alias(WindowExpression(fn,
          WindowSpecDefinition(w.partitionSpec, w.orderSpec, fn.frame)),
          al.name)(exprId = al.exprId, qualifier = al.qualifier)
    }
    val others = w.windowExpressions.filterNot(ne =>
      targets.exists(_._1.exprId == ne.exprId))
    val w2 = Window(shifted ++ others, w.partitionSpec, w.orderSpec, w1)
    Project(w.output, w2)
  }

  /** The no-key pass runs first, as its own transform: a no-key window
    * over a keyed one is then gated on the UNREWRITTEN keyed Window's
    * size estimate (a `Keyed*Plan` child estimates smaller, carrying no
    * row-size scaling). Each pass has its own on/off conf. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    pass(pass(plan, keyed = false), keyed = true)

  private def pass(plan: LogicalPlan, keyed: Boolean): LogicalPlan = {
    val conf = if (keyed) RewriteConf else GlobalRewriteConf
    if (session.conf.get(conf, "true") != "true") return plan
    def ours(w: Window): Boolean = w.partitionSpec.nonEmpty == keyed && heals(w)
    // leave top-k shapes to InferWindowGroupLimit (see scaladoc): collect
    // the PURE-rank Window nodes sitting directly under a rank-limit
    // Filter (an aggregate in the node disables the group-limit path, so
    // mixed nodes rewrite regardless of filters above them). Keyed by
    // the window expressions' exprIds — NOT node identity — because
    // transformUp may copy a kept Window via withNewChildren when a
    // rewritable Window sits below it in the same tree; exprIds survive
    // that copy, identity does not.
    val keep = scala.collection.mutable.HashSet.empty[Seq[ExprId]]
    plan.foreach {
      case Filter(cond, w: Window) if ours(w) && isPureRank(w) &&
          hasRankLimit(cond, AttributeSet(w.windowExpressions.collect {
            // only the kinds InferWindowGroupLimit can actually prune on:
            // a bound on ntile/percent_rank/cume_dist does NOT make the
            // group-limit path fire, so those nodes must still rewrite
            case a @ Alias(WindowExpression(fn, _), _)
                if WindowShapes.rankKindOf(fn).exists {
                  case RankKind.RowNumber | RankKind.Rank |
                       RankKind.DenseRank => true
                  case _ => false
                } => a.toAttribute
          })) =>
        keep.add(w.windowExpressions.map(_.exprId))
      case _ => ()
    }
    plan.transformUp {
      // ROWS half-unbounded cells (r13): `agg OVER (ROWS UNBOUNDED
      // PRECEDING AND k PRECEDING/FOLLOWING)` beyond the running arms is
      // a row-SHIFTED prefix, so it composes from pieces the family
      // already heals — `lag(running, k, empty-frame value)` backward,
      // `lead(running, k, total)` forward (lead's default fires exactly
      // when the shifted frame clamps to the whole partition). The
      // composed Windows rewrite in the same fixed point and share one
      // range exchange. No-key only: for a keyed window Spark's hash
      // clustering is already parallel, and stacking two windows there
      // without a guaranteed heal would be a pessimization.
      case w: Window if !keyed && w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
          !provablySmall(w.child) && !smallAtStock(w) &&
          rowsShiftTargets(w).nonEmpty && residualHealable(w) =>
        composeRowsShift(w)
      case w: Window if ours(w) && !keep.contains(w.windowExpressions.map(_.exprId)) =>
        stack(w)
    }
  }

  /** Plan `w` as a stack of `Keyed*Plan` nodes, one per kind present. */
  private def stack(w: Window): LogicalPlan = {
    val keys = w.partitionSpec
    val classified = w.windowExpressions.map { ne =>
      (ne.toAttribute, classify(ne, keys.nonEmpty).get)
    }
    // fired without a plan-time ndv proof → the ndv-dependent execs
    // (running/total/rank per-run metadata) enforce the runtime budget
    val optimistic = keys.nonEmpty && !Lineage.provenKeyNdv(session, keys, w.child)
    val rankPairs = classified.collect { case (attr, RankK(k)) => (attr, k) }
    // ignore-nulls lag(e, 1) = Last(e, ignoreNulls) over the exclusive
    // prefix, computed into a HIDDEN attribute; the final projection
    // grafts the default back (coalesce) under the original exprId
    val ignMap: Map[ExprId, (Attribute, Expression)] =
      classified.collect { case (attr, IgnK(in, _, d)) =>
        attr.exprId -> (AttributeReference(attr.name + "__ignlag",
          in.dataType, nullable = true)() -> d)
      }.toMap
    val runTriples = classified.collect {
      case (attr, RunK(ae, fr)) => (attr, ae, fr)
    } ++ classified.collect {
      case (attr, IgnK(in, n, _)) =>
        (ignMap(attr.exprId)._1,
          (if (n == 1) Last(in, ignoreNulls = true) else NthLastRing(in, n))
            .toAggregateExpression(),
          RunFrame.RowsExclusive: RunFrame)
    }
    val offQuads = classified.collect {
      case (attr, OffK(in, o, d)) => (attr, in, o, d)
    }
    val bndQuads = classified.collect {
      case (attr, BndK(ae, lo, up)) => (attr, ae, lo, up)
    }
    val rngQuads = classified.collect {
      case (attr, RngK(ae, lo, up)) => (attr, ae, lo, up)
    }
    val totPairs = classified.collect { case (attr, TotK(ae, _)) => (attr, ae) }
    val totOrderSensitive = classified.exists {
      case (_, TotK(_, os)) => os
      case _ => false
    }
    // stack order: ranks innermost (they, running aggs and offsets
    // share the one range exchange), totals outermost
    var replaced: LogicalPlan = w.child
    if (rankPairs.nonEmpty) {
      replaced = KeyedRankPlan(keys, w.orderSpec,
        rankPairs.map(_._1), rankPairs.map(_._2), replaced, optimistic)
    }
    if (runTriples.nonEmpty) {
      replaced = KeyedRunningAggPlan(keys, w.orderSpec,
        runTriples.map(_._1), runTriples.map(_._2: Expression),
        runTriples.map(_._3), replaced, optimistic)
    }
    if (offQuads.nonEmpty) {
      replaced = KeyedOffsetPlan(keys, w.orderSpec,
        offQuads.map(_._1), offQuads.map(_._2),
        offQuads.map(_._3), offQuads.map(_._4), replaced)
    }
    if (bndQuads.nonEmpty) {
      replaced = KeyedBoundedAggPlan(keys, w.orderSpec,
        bndQuads.map(_._1), bndQuads.map(_._2: Expression),
        bndQuads.map(_._3), bndQuads.map(_._4), replaced)
    }
    if (rngQuads.nonEmpty) {
      replaced = KeyedRangeAggPlan(keys, w.orderSpec,
        rngQuads.map(_._1), rngQuads.map(_._2: Expression),
        rngQuads.map(_._3), rngQuads.map(_._4), replaced)
    }
    if (totPairs.nonEmpty) {
      // outermost: demands nothing (order-insensitive: zero exchange, it
      // rides whatever partitioning is below) or the stack's shared
      // (keys ++ order) range exchange (First/Last with ORDER)
      replaced = KeyedTotalAggPlan(keys,
        totPairs.map(_._1), totPairs.map(_._2: Expression),
        if (totOrderSensitive) w.orderSpec else Nil, replaced, optimistic)
    }
    // stacking groups by kind: restore the Window's exact column order
    // when kinds interleave; ignore-nulls lags additionally graft their
    // default over the hidden Last attribute, keeping the original exprId
    if (ignMap.isEmpty && replaced.output == w.output) replaced
    else Project(w.output.map { a =>
      ignMap.get(a.exprId) match {
        // a null default (lag's implicit one arrives as an untyped null
        // literal) adds nothing — and an untyped Coalesce leg would
        // unresolve the plan
        case Some((hidden, Literal(null, _))) =>
          Alias(hidden, a.name)(exprId = a.exprId)
        case Some((hidden, d)) =>
          Alias(Coalesce(Seq(hidden, d)), a.name)(exprId = a.exprId)
        case None => a
      }
    }, replaced)
  }
}

object KeyedWindowRule {
  /** On/off for the keyed arm. */
  val RewriteConf = "spark.graft.keyedWindow.rewrite"

  /** On/off for the no-key arm (and its rows-shift composition). */
  val GlobalRewriteConf = "spark.graft.globalRank.rewrite"

  /** Frames with `maxRows` at or under this stay Spark windows (see the
    * cost-guard scaladoc); 0 disables the guard. */
  val SmallFrameConf = "spark.graft.globalRank.smallFrameRows"

  /** Input-size stock gate of the no-key arm (OPTIMIZATION r16, guide
    * §1.2 "configuration after algorithm" / §2.4): below this many
    * estimated input bytes, window shapes whose STOCK WindowExec
    * evaluation is LINEAR in the input — ranks, running prefixes,
    * offsets, whole-frame totals, k-bounded ROWS frames — keep Spark's
    * plan: the rewrite pays ~4 fixed jobs (range-partitioner sampling,
    * boundary harvest, metadata stitch, the healed pass) that a one-task
    * sort of a few MB never amortizes (measured at sf0.1/32 cores: stock
    * wins by 0.2–0.6 s per query on every linear shape; the crossover is
    * well above this default). RANGE value-distance frames are NEVER
    * gated: stock re-folds the frame buffer per row — O(n·frame),
    * measured 27–64 s vs 1.4 s healed on the SAME sf0.1 inputs — so size
    * is no proxy for their stock cost. The default is Spark's own
    * one-task scan quantum (`spark.sql.files.maxPartitionBytes`): input a
    * single task is expected to chew anyway stays a single-task window.
    * 0 disables the gate (every shape rewrites, the pre-r16 behavior —
    * what the plan-pin suites set to keep asserting the heals on KB
    * fixtures). Scale-adaptive by construction: the estimate grows with
    * the data, so a production table always rewrites. */
  val StockBytesConf = "spark.graft.window.stockInputBytes"
  val StockBytesDefault: Long = 128L * 1024 * 1024

  /** Marker set by the self-join collapse rules (ArgMaxJoinRule /
    * RankJoinRule) on the Window nodes THEY construct: those windows are
    * part of a rewrite whose cost model already assumed the heal (the
    * collapse traded a join away for it), so the input-size stock gate
    * must not strand them on a stock single-task WindowExec. Tags ride
    * `makeCopy`/`withNewChildren` (how transforms copy nodes), so the
    * marker survives the optimizer fixed point. */
  val HealExpectedTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.healExpected")

  /** Bounded ROWS frames whose reach exceeds this keep Spark's plan: the
    * rewrite ships k boundary tuples per partition as driver metadata
    * and re-folds k rows per output row, so it is built for the
    * rolling-window k's (7, 30, 100…), not frames that approach the data
    * size. */
  val MaxBoundedFrameConf = "spark.graft.globalRank.maxBoundedFrame"

  /** Run-time cap on the per-partition boundary harvest of the RANGE
    * value-distance rewrite ([[RangeAggExec]]): a value frame's row
    * count is unknowable at plan time, so the cap is enforced while
    * harvesting and the exec refuses loudly if a dropped row would have
    * qualified for a later partition's frame. */
  val MaxRangeRowsConf = "spark.graft.globalRank.maxRangeRows"

  /** Rewrite fires only when the partition keys' combined ndv is
    * provably at or under this. */
  val MaxNdvConf = "spark.graft.keyedWindow.maxNdv"
  /** When a key's ndv is UNPROVABLE (no domain bound, filter pin,
    * stats, or hint — the ad-hoc `spark.read.parquet` shape), fire the
    * rewrite anyway under the runtime [[MaxRunsConf]] budget (default
    * on). Keys whose ndv is PROVEN above [[MaxNdvConf]] still keep
    * Spark's plan — known-high ndv means hash clustering is already
    * parallel and the rewrite would be pure overhead. */
  val OptimisticConf = "spark.graft.keyedWindow.optimistic"
  /** Runtime budget for OPTIMISTIC rewrites with inherent O(ndv)
    * driver state. Since r15 this is ONLY the whole-frame totals
    * (per-task map caps + incremental driver-merge cap inside pass 1;
    * a trip pivots to the shuffled attach where the node made no
    * ordering/partitioning promise, and aborts loudly otherwise) and
    * the key-total ranks (ntile/percent_rank/cume_dist, count-only
    * pre-pass). Running aggregates and plain row_number/rank/
    * dense_rank ship O(partitions) boundary metadata and need no
    * budget at all. The default bounds driver metadata at ~1M (key,
    * buffer) tuples. */
  val MaxRunsConf = "spark.graft.keyedWindow.maxRuns"
  val MaxRunsDefault: Long = 1000000L

  def runsOverflow(site: String, maxRuns: Long, seen: Long): Nothing =
    throw new KeyedBudgetOverflow(
      s"Keyed-window rewrite ($site): $seen PARTITION BY key runs at " +
        s"runtime, over the $MaxRunsConf budget of $maxRuns. The rewrite " +
        "fired OPTIMISTICALLY (the keys' ndv was not provable at plan " +
        "time) and refuses rather than accumulate unbounded driver " +
        s"metadata. Raise $MaxRunsConf, prove the ndv (ANALYZE TABLE … " +
        "FOR COLUMNS, a literal filter pin, or registerNdvHint), or set " +
        s"$OptimisticConf=false to keep Spark's plan for unprovable keys.")

  /** Is `t` (or anything in its cause chain — a task-side trip arrives
    * wrapped in the scheduler's job-abort exception) the keyed budget
    * overflow? Drives [[graft.plans.KeyedTotalAggExec]]'s adaptive
    * pivot (VERDICT r14 #2): trip → re-plan as the shuffled attach
    * instead of failing the job, where the node's promises allow it. */
  def isBudgetOverflow(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[KeyedBudgetOverflow]) return true
      if (Option(cur.getMessage).exists(_.contains(MaxRunsConf))) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
  /** Session ndv hints: `name=ndv[,name=ndv…]` — the runtime-stats
    * handoff (see the rule scaladoc). */
  val NdvHintsConf = "spark.graft.keyedWindow.ndvHints"

  def parseHints(s: String): Map[String, Long] =
    s.split(',').iterator.map(_.trim).filter(_.nonEmpty).flatMap { kv =>
      kv.split('=') match {
        case Array(k, v) => scala.util.Try(k.trim -> v.trim.toLong).toOption
        case _ => None
      }
    }.toMap

  /** Declare an ndv for `column` in the session hints, so that knowledge
    * reaches plain SQL plans. Session-scoped; consulted only where the
    * named column is a BASE column of a leaf relation. Measured facts of
    * a file belong in [[FileEvidence]] instead, which the fixture loaders
    * fill. */
  def registerNdvHint(spark: SparkSession, column: String, ndv: Long): Unit =
    // one read-merge-write at a time, so concurrent callers cannot drop
    // each other's hint; a hint already held costs no conf write
    hintLock.synchronized {
      val hints = parseHints(spark.conf.get(NdvHintsConf, ""))
      if (!hints.get(column).contains(ndv)) {
        val merged = hints + (column -> ndv)
        spark.conf.set(NdvHintsConf,
          merged.map { case (k, v) => s"$k=$v" }.mkString(","))
      }
    }

  private val hintLock = new Object
}

/** The optimistic keyed heal's runtime budget trip. A DEDICATED type so
  * [[KeyedTotalAggExec]]'s adaptive pivot can distinguish "the wager
  * lost" (recoverable: re-plan as the shuffled attach) from a genuine
  * execution failure (never swallowed). Extends SparkException so
  * callers that matched the old loud abort keep matching. */
class KeyedBudgetOverflow(message: String)
    extends org.apache.spark.SparkException(message)

/** Planner strategy for the window-exec family: every plan node
  * [[KeyedWindowRule]] emits maps to its exec — the unpartitioned shapes
  * are the same nodes with no partition keys. Registered beside the rule
  * in `graft.GraftExtensions`.
  */
object KeyedWindowStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeyedRangeAggPlan(keys, order, attrs, aggs, los, ups, child) =>
      RangeAggExec(keys, order, attrs, aggs, los, ups, planLater(child)) :: Nil
    case KeyedRunningAggPlan(keys, order, attrs, aggs, frames, child, opt) =>
      KeyedRunningAggExec(keys, order, attrs, aggs, frames, planLater(child), opt) :: Nil
    case KeyedOffsetPlan(keys, order, attrs, ins, offs, defs, child) =>
      KeyedOffsetExec(keys, order, attrs, ins, offs, defs, planLater(child)) :: Nil
    case KeyedBoundedAggPlan(keys, order, attrs, aggs, los, ups, child) =>
      KeyedBoundedAggExec(keys, order, attrs, aggs, los, ups, planLater(child)) :: Nil
    case KeyedTotalAggPlan(keys, attrs, aggs, order, child, opt) =>
      KeyedTotalAggExec(keys, attrs, aggs, order, planLater(child), opt) :: Nil
    case KeyedRankPlan(keys, order, attrs, kinds, child, opt) =>
      KeyedRankExec(keys, order, attrs, kinds, planLater(child), opt) :: Nil
    case _ => Nil
  }
}
