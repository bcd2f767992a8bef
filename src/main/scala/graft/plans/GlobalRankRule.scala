package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, DeclarativeAggregate, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer rule: rewrite unpartitioned windows — `f() OVER (ORDER BY
  * ...)` or `agg() OVER ()`, an EMPTY partition spec — onto the window
  * exec family with NO partition keys, so plain SQL/DataFrame users get
  * a range-partitioned boundary-stitch plan instead of Spark's
  * single-partition `WindowExec` sort (VERDICT r9 #1; the automatic
  * counterpart of `stats/GlobalRank`, following the [[RangeJoinRule]]
  * auto-rewrite precedent). A global window is a keyed window with no
  * keys: every row projects to the same empty key, which straddles
  * every partition seam, so the `Keyed*` execs [[KeyedWindowRule]]
  * plans compute the global answer unchanged.
  *
  * ON by default in sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`; disable per session or
  * per query with `spark.graft.globalRank.rewrite=false` (the conf is
  * read at optimization time, so toggling affects the next plan).
  *
  * Scope — a Window node is rewritten only when ALL of:
  *   - its partition spec is empty and its order spec is not;
  *   - every window expression is one of:
  *     - a ranking function — row_number / rank / dense_rank / ntile(k)
  *       / percent_rank / cume_dist, all pure functions of the position,
  *       tie run and row count ([[KeyedRankPlan]]'s two-pass count);
  *     - a running aggregate — sum/count/min/max/avg/first_value/
  *       last_value (ignore-nulls included; `first_value` also in its
  *       optimizer-rewritten `nth_value(x, 1)` spelling) over an
  *       UNBOUNDED PRECEDING → CURRENT ROW frame, ROWS or RANGE — the
  *       distributed prefix sum of [[KeyedRunningAggPlan]];
  *     - a whole-frame total (`agg() OVER ()`, [[KeyedTotalAggPlan]]:
  *       zero exchange);
  *     - a literal-offset respect-nulls lag/lead ([[KeyedOffsetPlan]]:
  *       boundary values cross partitions as metadata);
  *     - a BOUNDED sliding aggregate — any both-ends-bounded ROWS
  *       frame: trailing, centered `a PRECEDING AND b FOLLOWING`,
  *       pure-following; reach ≤ maxBoundedFrame each side
  *       ([[KeyedBoundedAggPlan]]: boundary tuples per partition,
  *       row-local re-fold with a ≤ maxFwd pending queue);
  *     - a RANGE VALUE-DISTANCE frame over an int-backed ascending order
  *       ([[KeyedRangeAggPlan]]: value-capped boundary harvest);
  *     - `nth_value(n>1)` and ignore-nulls `lag(e, n>1)`, riding as
  *       [[NthFirstRing]]/[[NthLastRing]] value rings.
  *     Anything else — ignore-nulls lead (needs an unbounded pending
  *     queue), n beyond [[RingAggs.MaxSlots]], non-literal or calendar
  *     RANGE distances — keeps the whole Window node untouched: a mixed
  *     node must stay one node to compute consistently. A mix stacks
  *     the plans over ONE range exchange (each preserves the child's
  *     partitioning and order, so the outer's requirement is already
  *     satisfied);
  *   - it is NOT directly under a rank-limit filter (`rn <= k` etc.)
  *     when purely ranking:
  *     that shape belongs to Spark's `InferWindowGroupLimit` top-k
  *     path, which prunes to k rows per map partition BEFORE the final
  *     sort — better than ranking everything. Rank-RANGE predicates
  *     (`rn > 100 AND rn <= 120`) contain a limit-like conjunct too
  *     (`rn <= 120`), so they also stay with the group-limit path,
  *     which handles them with the same map-side prune at `hi`.
  *
  * Identity: the rewrite is exact — same values, same `IntegerType`,
  * same exprIds — for ANY input, including non-total orders (ties get
  * an arbitrary-but-valid row_number either way; rank/dense_rank are
  * deterministic under ties by construction). Idempotent: the rewrite
  * produces no Window node, so it cannot match twice.
  */
case class GlobalRankRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import GlobalRankRule.RewriteConf


  /** `agg(x) OVER ()` — or any UNBOUNDED PRECEDING → UNBOUNDED
    * FOLLOWING frame — the whole-frame global total, order-irrelevant.
    */
  private def totalAggOf(fn: Expression,
                         spec: WindowSpecDefinition): Option[AggregateExpression] =
    (fn, spec.frameSpecification) match {
      case (ae @ AggregateExpression(f, Complete, false, None, _),
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))
          if WindowShapes.supportedAgg(f) =>
        Some(ae)
      case (nth, SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing)) =>
        // first_value in its nth_value(x, 1) spelling, and the n>1 ring
        // ("the 3rd event overall" attach — mergeable, order carried)
        WindowShapes.nthAggOf(nth)
      case _ => None
    }

  private sealed trait Kind
  private case class RankK(k: RankKind) extends Kind
  private case class RunK(ae: AggregateExpression, frame: RunFrame) extends Kind
  private case class TotK(ae: AggregateExpression) extends Kind
  private case class OffK(in: Expression, off: Int, default: Expression) extends Kind
  private case class BndK(ae: AggregateExpression, lower: Int, upper: Int) extends Kind
  private case class RngK(ae: AggregateExpression, lo: RangeFrames.RBound, up: RangeFrames.RBound) extends Kind
  private case class IgnK(in: Expression, n: Int, default: Expression) extends Kind

  /** A conjunct that bounds the rank attr above (the shapes
    * `InferWindowGroupLimit` accepts): `rn < k`, `rn <= k`, `rn = k`.
    */
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

  private def classify(ne: NamedExpression): Option[Kind] = {
    val maxReach =
      session.conf.get(GlobalRankRule.MaxBoundedFrameConf, "1024").toInt
    ne match {
      case Alias(WindowExpression(fn, spec), _) =>
        WindowShapes.rankKindOf(fn).map(RankK.apply)
          .orElse(WindowShapes.runningAggOf(fn, spec).map { case (ae, fr) => RunK(ae, fr) })
          .orElse(totalAggOf(fn, spec).map(TotK.apply))
          .orElse(WindowShapes.offsetOf(fn).map { case (in, o, d) => OffK(in, o, d) })
          .orElse(WindowShapes.boundedAggOf(fn, spec, maxReach).map {
            case (ae, lo, up) => BndK(ae, lo, up) })
          .orElse(WindowShapes.rangeAggOf(fn, spec).map {
            case (ae, lo, up) => RngK(ae, lo, up) })
          .orElse(WindowShapes.ignLagOf(fn).map { case (in, n, d) => IgnK(in, n, d) })
      case _ => None
    }
  }

  /** Whole-frame totals need no order at all; anything position- or
    * prefix-dependent needs a non-empty ORDER BY to be range-
    * partitionable (a ROWS prefix with no order is left to Spark —
    * its result is only defined up to an arbitrary order anyway).
    */
  /** Cost guard: when the frame is PROVABLY tiny (`maxRows` — a hard
    * bound, typically from a `LIMIT` marker over a bounded level frame),
    * Spark's single-partition window is strictly cheaper than the
    * rewrite: a one-task sort of ≤ a few thousand rows is microseconds,
    * while a range exchange pays a SAMPLING JOB that re-executes the
    * whole upstream (plus the metadata pass). Library code documents
    * bounded frames with an exact `.limit(bound)` (per-mill level
    * frames: ≤1001 rows by construction); unbounded frames — calendars,
    * sources, anything corpus-derived — have no `maxRows` and always
    * rewrite.
    */
  private def provablySmall(child: LogicalPlan): Boolean = {
    val threshold =
      session.conf.get(GlobalRankRule.SmallFrameConf, "4096").toLong
    threshold > 0L && child.maxRows.exists(_ <= threshold)
  }

  /** Input-size stock gate ([[GlobalRankRule.StockBytesConf]]): true when
    * every expression on the node is a linear-at-stock shape (no RANGE
    * value frame) and the child's size estimate is under the threshold —
    * Spark's single-task window is then the cheaper correct plan. */
  private def smallAtStock(w: Window): Boolean = {
    val bytes = session.conf.get(GlobalRankRule.StockBytesConf,
      GlobalRankRule.StockBytesDefault.toString).toLong
    bytes > 0L &&
      w.getTagValue(GlobalRankRule.HealExpectedTag).isEmpty &&
      !w.windowExpressions.exists(ne =>
        classify(ne).exists(_.isInstanceOf[RngK])) &&
      w.child.stats.sizeInBytes <= BigInt(bytes)
  }

  private def rewritable(w: Window): Boolean =
    w.partitionSpec.isEmpty && w.windowExpressions.nonEmpty &&
      !provablySmall(w.child) && !smallAtStock(w) && {
      val kinds = w.windowExpressions.map(classify)
      kinds.forall(_.isDefined) &&
        (w.orderSpec.nonEmpty || kinds.forall(_.exists(_.isInstanceOf[TotK])))
    }

  private def isPureRank(w: Window): Boolean =
    w.windowExpressions.forall {
      case Alias(WindowExpression(fn, _), _) => WindowShapes.rankKindOf(fn).isDefined
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
      .forall(ne => classify(ne).isDefined)
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

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.conf.get(RewriteConf, "true") != "true") return plan
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
      case Filter(cond, w: Window) if rewritable(w) && isPureRank(w) &&
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
      // range exchange. Global-only: for a keyed window Spark's hash
      // clustering is already parallel, and stacking two windows there
      // without a guaranteed heal would be a pessimization.
      case w: Window if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
          !provablySmall(w.child) && !smallAtStock(w) &&
          rowsShiftTargets(w).nonEmpty && residualHealable(w) =>
        composeRowsShift(w)
      case w: Window if rewritable(w) &&
          !keep.contains(w.windowExpressions.map(_.exprId)) =>
        val classified = w.windowExpressions.map { ne =>
          (ne.toAttribute, classify(ne).get)
        }
        val rankPairs = classified.collect { case (attr, RankK(k)) => (attr, k) }
        // ignore-nulls lag(e, 1) = Last(e, ignoreNulls) over the
        // exclusive prefix, computed into a HIDDEN attribute; the final
        // projection grafts the default back (coalesce) under the
        // original exprId
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
        val totPairs = classified.collect { case (attr, TotK(ae)) => (attr, ae) }
        val offQuads = classified.collect {
          case (attr, OffK(in, o, d)) => (attr, in, o, d)
        }
        val bndQuads = classified.collect {
          case (attr, BndK(ae, lo, up)) => (attr, ae, lo, up)
        }
        val rngQuads = classified.collect {
          case (attr, RngK(ae, lo, up)) => (attr, ae, lo, up)
        }
        // stack order: ranks innermost (they, running aggs and offsets
        // share the one range exchange), totals outermost (no
        // requirement at all — they ride whatever partitioning is below)
        var replaced: LogicalPlan = w.child
        if (rankPairs.nonEmpty) {
          replaced = KeyedRankPlan(Nil, w.orderSpec,
            rankPairs.map(_._1), rankPairs.map(_._2), replaced)
        }
        if (runTriples.nonEmpty) {
          replaced = KeyedRunningAggPlan(Nil, w.orderSpec,
            runTriples.map(_._1), runTriples.map(_._2),
            runTriples.map(_._3), replaced)
        }
        if (offQuads.nonEmpty) {
          replaced = KeyedOffsetPlan(Nil, w.orderSpec,
            offQuads.map(_._1), offQuads.map(_._2),
            offQuads.map(_._3), offQuads.map(_._4), replaced)
        }
        if (bndQuads.nonEmpty) {
          replaced = KeyedBoundedAggPlan(Nil, w.orderSpec,
            bndQuads.map(_._1), bndQuads.map(_._2),
            bndQuads.map(_._3), bndQuads.map(_._4), replaced)
        }
        if (rngQuads.nonEmpty) {
          replaced = KeyedRangeAggPlan(Nil, w.orderSpec,
            rngQuads.map(_._1), rngQuads.map(_._2: Expression),
            rngQuads.map(_._3), rngQuads.map(_._4), replaced)
        }
        if (totPairs.nonEmpty) {
          // First/Last totals are ORDER-SENSITIVE: carry the window's
          // order so the exec demands a range sort (satisfied for free
          // by the stack's shared exchange when one exists); order-
          // insensitive totals keep the zero-exchange plan
          val orderSensitive = totPairs.exists {
            case (_, ae) => ae.aggregateFunction match {
              case _: First | _: Last | _: NthFirstRing => w.orderSpec.nonEmpty
              case _ => false
            }
          }
          replaced = KeyedTotalAggPlan(Nil,
            totPairs.map(_._1), totPairs.map(_._2),
            if (orderSensitive) w.orderSpec else Nil, replaced)
        }
        // stacking groups by kind: restore the Window's exact column
        // order when kinds interleave; ignore-nulls lags additionally
        // graft their default over the hidden Last attribute, keeping
        // the original exprId
        if (ignMap.isEmpty && replaced.output == w.output) replaced
        else Project(w.output.map { a =>
          ignMap.get(a.exprId) match {
            // a null default (lag's implicit one arrives as an untyped
            // null literal) adds nothing — and an untyped Coalesce leg
            // would unresolve the plan
            case Some((hidden, Literal(null, _))) =>
              Alias(hidden, a.name)(exprId = a.exprId)
            case Some((hidden, d)) =>
              Alias(Coalesce(Seq(hidden, d)), a.name)(exprId = a.exprId)
            case None => a
          }
        }, replaced)
    }
  }
}

object GlobalRankRule {
  val RewriteConf = "spark.graft.globalRank.rewrite"

  /** Frames with `maxRows` at or under this stay single-partition
    * windows (see the cost-guard scaladoc); 0 disables the guard. */
  val SmallFrameConf = "spark.graft.globalRank.smallFrameRows"

  /** Input-size stock gate (OPTIMIZATION r16, guide §1.2 "configuration
    * after algorithm" / §2.4): below this many estimated input bytes,
    * window shapes whose STOCK WindowExec evaluation is LINEAR in the
    * input — ranks, running prefixes, offsets, whole-frame totals,
    * k-bounded ROWS frames — keep Spark's plan: the rewrite pays ~4
    * fixed jobs (range-partitioner sampling, boundary harvest,
    * metadata stitch, the healed pass) that a one-/ndv-task sort of a
    * few MB never amortizes (measured at sf0.1/32 cores: stock wins by
    * 0.2–0.6 s per query on every linear shape; the crossover is well
    * above this default). RANGE value-distance frames are NEVER gated:
    * stock re-folds the frame buffer per row — O(n·frame), measured
    * 27–64 s vs 1.4 s healed on the SAME sf0.1 inputs — so size is no
    * proxy for their stock cost. The default is Spark's own one-task
    * scan quantum (`spark.sql.files.maxPartitionBytes`): input a single
    * task is expected to chew anyway stays a single-task window. 0
    * disables the gate (every shape rewrites, the pre-r16 behavior —
    * what the plan-pin suites set to keep asserting the heals on KB
    * fixtures). Scale-adaptive by construction: the estimate grows
    * with the data, so a production table always rewrites. */
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

  /** Bounded ROWS frames whose backward reach exceeds this keep Spark's
    * plan: the rewrite ships k boundary tuples per partition as driver
    * metadata and re-folds k rows per output row, so it is built for
    * the rolling-window k's (7, 30, 100…), not frames that approach the
    * data size. */
  val MaxBoundedFrameConf = "spark.graft.globalRank.maxBoundedFrame"

  /** Run-time cap on the per-partition boundary harvest of the RANGE
    * value-distance rewrite ([[RangeAggExec]]): a value frame's row
    * count is unknowable at plan time, so the cap is enforced while
    * harvesting and the exec refuses loudly if a dropped row would have
    * qualified for a later partition's frame. */
  val MaxRangeRowsConf = "spark.graft.globalRank.maxRangeRows"
}

/** Planner strategy for the window-exec family: every plan node
  * [[GlobalRankRule]] and [[KeyedWindowRule]] emit maps to its exec —
  * the unpartitioned shapes are the same nodes with no partition keys.
  * Registered beside the rules in `graft.GraftExtensions`.
  */
object GlobalRankStrategy extends SparkStrategy {
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
