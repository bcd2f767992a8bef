package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: eliminate the greatest-n-per-group SELF-JOIN — the
  * single most common hand-written SQL anti-pattern at lake scale:
  *
  * {{{
  *   SELECT t.* FROM t
  *   JOIN (SELECT k, max(v) AS m FROM t GROUP BY k) a
  *     ON t.k = a.k AND t.v = a.m
  * }}}
  *
  * (and the `(k, v) IN (SELECT k, max(v) … GROUP BY k)` spelling, which
  * the analyzer rewrites to a LeftSemi join of the same shape). Spark
  * plans this as written: TWO full scans of `t`, an aggregate exchange,
  * and a join exchange — at 100 TB that is two 100 TB reads plus two
  * corpus shuffles to answer a question one windowed pass answers. The
  * rewrite replaces the join with
  *
  * {{{
  *   SELECT … FROM (SELECT t.*, max(v) OVER (PARTITION BY k) __m FROM t)
  *   WHERE k IS NOT NULL AND v = __m
  * }}}
  *
  * which is ONE scan and one hash-cluster exchange — and because it is
  * emitted as a plain logical `Window` with the UNBOUNDED-BOTH frame, the
  * existing rewrite family then heals it further in the same optimizer
  * fixed point: provably-low-ndv keys plan the ZERO-exchange
  * `KeyedTotalAggExec`, and the global form (`ON t.v = a.m` against an
  * ungrouped aggregate) plans the same exec with no keys and no
  * exchange at all.
  *
  * Since round 14 the grouping keys may be COMPUTED — the everyday
  * latest-per-(key, period) spelling `GROUP BY o_custkey,
  * date_trunc('month', o_orderdate)` — provided each key is a
  * deterministic expression whose probe-side twin in the join condition
  * is CANONICALLY EQUAL after both are rebased to the shared base
  * relation's attribute space; the emitted Window then partitions on the
  * probe-side expressions. Catalyst's `PullOutGroupingExpressions`
  * extracts such keys into a Project below the Aggregate
  * (`_groupingexpression#N`), so the rule inlines one level of
  * expression-defining Project on the aggregate side before matching.
  *
  * Equivalence argument, row by row: the inner join keeps a probe row
  * exactly when (1) its key equals some group key — nulls never equal, so
  * null-key rows drop, which the added `k IS NOT NULL` reproduces — and
  * (2) its compared column equals the group's aggregate value, which
  * `v = agg OVER (PARTITION BY k)` reproduces including the null case
  * (`v = NULL` is NULL → filtered). The aggregate side emits exactly one
  * row per group (`GROUP BY k` output is key-distinct), so the join never
  * replicates probe rows and the filter form is multiplicity-exact; ties
  * at the aggregate value survive in both forms. Aggregate columns the
  * join exposed are re-emitted from the probe side under the original
  * exprIds (`m` = the compared probe column, group keys = their probe
  * twins — equal on every surviving row by the join condition itself).
  * For an expression key the window's PARTITION BY groups probe rows by
  * the expression's VALUE — the same equivalence classes `GROUP BY`
  * builds (both use grouping equality, so float normalization agrees).
  *
  * LEFT/RIGHT OUTER (the "flag the latest row per group" spelling) keeps
  * every probe row instead: key-distinctness again rules out
  * replication, so a probe row either matched its group row (the same
  * predicate as above holds TRUE — three-valued NULL evaluates to the
  * unmatched branch, exactly the ON-clause law) or carries NULLs in the
  * aggregate columns; the rewrite is the same projection with each
  * re-emitted column wrapped in `If(matched, …, NULL)` and NO filter.
  * A vanished group — one an IsNotNull strip below the Aggregate removed
  * whole — yields a NULL windowed value for every supported function
  * EXCEPT Count (0 over an empty input), which is why Count's inputs are
  * excluded from that strip whitelist below.
  *
  * Guards (all refusals leave the plan untouched):
  *  - both sides must peel (through wrappers, attribute-only Projects
  *    and IsNotNull-only Filters) to CANONICALLY EQUAL deterministic
  *    batch subtrees — a genuine self-join of the same lineage;
  *  - peeled IsNotNull filters are tolerated only where they provably
  *    cannot change a surviving group's aggregate value: on columns some
  *    grouping key NULL-FORCES (null column ⇒ null key along a
  *    `nullIntolerant` expression path — for a bare-attribute key, the
  *    key itself), and (for null-ignoring aggregates other than Count)
  *    on the aggregate inputs — the exact set
  *    `InferFiltersFromConstraints` derives from this join shape, so the
  *    rule still fires in the post-inference batch;
  *  - the aggregates are non-DISTINCT, unfiltered Max/Min/Sum/Average/
  *    Count over attribute (or literal) children — since round 14 ANY
  *    NUMBER of them, including zero: the everyday "attach the group
  *    stats" join `t JOIN (SELECT k, count(*), max(v) … GROUP BY k) ON
  *    t.k = g.k` collapses to a multi-expression window attach with no
  *    value filter (key-distinctness rules out replication; null-key
  *    probe rows drop via IS NOT NULL exactly as the join drops them),
  *    and `(k) IN (SELECT k FROM t GROUP BY k)` degenerates to the
  *    filter alone. The keys-only form fires ONLY when the keys' ndv is
  *    provable at or under the keyed-window family's `maxNdv` (bounded
  *    expressions, filter pins, catalog stats, registered hints): a
  *    keys-only join already has a good Spark plan — AQE broadcasts the
  *    group side — so elimination must prove it lands in the
  *    zero-exchange attach's low-ndv design center (the partnered argmax
  *    form is exempt: there the join devolves to a filter and one scan
  *    always beats two). Correlated scalar attaches in the SELECT list
  *    (`SELECT t.*, (SELECT max(v) FROM t t2 WHERE t2.k = t.k)`)
  *    decorrelate into exactly this keys-only outer shape — including
  *    count's COUNT-bug `true AS alwaysTrue` constant, which the Outer
  *    If-wrap re-emits with the right on-match/off-match semantics — and
  *    collapse to zero-join single scans under the same proof. Every grouping key is a bare attribute or a
  *    deterministic expression with a canonical probe twin, and the
  *    join condition is exactly {every grouping key = its probe twin}
  *    plus optional {probe column = an aggregate output} partners —
  *    anything else (extra predicates, HAVING residue, nondeterministic
  *    keys, non-twin pairings) refuses; IsNotNull input-strip tolerance
  *    applies only to the single-partnered-aggregate form (with several
  *    aggregates a strip on one's input moves the others' values, and a
  *    keys-only join has no equality to drop a vanished group);
  *  - the probe side must still expose the grouping/aggregate input
  *    columns (column pruning can legally drop them from the probe
  *    projection when the outer query doesn't read them — then the window
  *    has nothing to partition on and the rule refuses).
  *
  * ON by default; opt out with `spark.graft.argmaxJoin.rewrite=false`.
  * Idempotent: the rewritten plan contains no join, so it cannot
  * re-match. Registered via `spark.sql.extensions=graft.GraftExtensions`.
  */
case class ArgMaxJoinRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import ArgMaxJoinRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(RewriteConf, "true").toBoolean) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        rewrite(left, right, cond, aggOnRight = true, Mode.Inner)
          .orElse(rewrite(right, left, cond, aggOnRight = false, Mode.Inner))
          .orElse(topOneToAggregate(right).flatMap(r2 =>
            rewrite(left, r2, cond, aggOnRight = true, Mode.Inner)))
          .orElse(topOneToAggregate(left).flatMap(l2 =>
            rewrite(right, l2, cond, aggOnRight = false, Mode.Inner)))
          .getOrElse(j)
      case j @ Join(left, right, LeftSemi, Some(cond), _) =>
        rewrite(left, right, cond, aggOnRight = true, Mode.Semi)
          .orElse(topOneToAggregate(right).flatMap(r2 =>
            rewrite(left, r2, cond, aggOnRight = true, Mode.Semi)))
          .getOrElse(j)
      // the "flag the latest row per group" spelling: LEFT OUTER against
      // the group aggregate keeps every probe row and nulls the
      // aggregate columns off the match — a windowed If, no filter
      case j @ Join(left, right, LeftOuter, Some(cond), _) =>
        rewrite(left, right, cond, aggOnRight = true, Mode.Outer)
          .orElse(topOneToAggregate(right).flatMap(r2 =>
            rewrite(left, r2, cond, aggOnRight = true, Mode.Outer)))
          .getOrElse(j)
      case j @ Join(left, right, RightOuter, Some(cond), _) =>
        rewrite(right, left, cond, aggOnRight = false, Mode.Outer)
          .orElse(topOneToAggregate(left).flatMap(l2 =>
            rewrite(right, l2, cond, aggOnRight = false, Mode.Outer)))
          .getOrElse(j)
      // the IN-subquery spelling: `(k, v) IN (SELECT k, max(v) … GROUP BY
      // k)` only becomes a LeftSemi join in the RewriteSubquery batch,
      // which runs AFTER the operator-optimization fixed point this rule
      // lives in — so match the Filter(InSubquery) form directly
      case f @ Filter(cond, child) =>
        rewriteInFilter(child, cond).getOrElse(f)
    }
  }

  private def rewriteInFilter(child: LogicalPlan,
                              cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    conjuncts.zipWithIndex.collectFirst {
      case (InSubquery(values, lq: ListQuery), idx)
          if lq.outerAttrs.isEmpty && lq.joinCond.isEmpty &&
            values.length == lq.plan.output.length =>
        val synth = values.zip(lq.plan.output)
          .map { case (v, o) => EqualTo(v, o): Expression }.reduce(And)
        rewrite(child, lq.plan, synth, aggOnRight = true, Mode.Semi).map { r =>
          val rest = conjuncts.zipWithIndex.collect {
            case (c, i) if i != idx => c
          }
          if (rest.isEmpty) r else Filter(rest.reduce(And), r)
        }
    }.flatten
  }

  /** One peeled side: the base subtree, a map from exposed output attr →
    * base attr, and the base attrs whose IsNotNull filters were stripped.
    */
  private case class Peeled(base: LogicalPlan,
                            toBase: Map[ExprId, Attribute],
                            strippedNotNull: Set[ExprId])

  /** Peel [[Lineage.Wrapper]]s, attribute-only Projects and IsNotNull-only
    * Filters, composing the attr rename map (and the stripped-filter
    * attrs) down to the base plan's attribute space. Stops at the first
    * node that is none of these.
    */
  private def peel(plan: LogicalPlan): Peeled = {
    var cur = plan
    var map: Map[ExprId, Attribute] = plan.output.map(a => a.exprId -> a).toMap
    var stripped = Set.empty[Attribute]
    var done = false
    while (!done) {
      cur match {
        case Project(list, child) if list.forall {
              case _: AttributeReference => true
              case Alias(_: AttributeReference, _) => true
              case _ => false
            } =>
          val lower: Map[ExprId, Attribute] = list.map {
            case a: AttributeReference => a.exprId -> a
            case al @ Alias(ar: AttributeReference, _) => al.exprId -> ar
          }.toMap
          def down(a: Attribute): Attribute = lower.getOrElse(a.exprId, a)
          map = map.map { case (k, v) => k -> down(v) }
          stripped = stripped.map(down)
          cur = child
        case Filter(pred, child) if splitConjunctivePredicates(pred).forall {
              case IsNotNull(_: AttributeReference) => true
              case _ => false
            } =>
          stripped ++= splitConjunctivePredicates(pred).collect {
            case IsNotNull(a: AttributeReference) => a
          }
          cur = child
        // content-identical, so base twinning walks through (the scan
        // heal's repartition, OPTIMIZATION r16 #1). The rewrite builds
        // over the un-peeled probe, so a layer survives in the collapsed
        // plan except on the rare missing-input rebuild path.
        case Lineage.Wrapper(c) =>
          cur = c
        case _ => done = true
      }
    }
    Peeled(cur, map, stripped.map(_.exprId))
  }

  /** Null-ignoring aggregate over attribute/literal children? */
  private def supportedAgg(f: AggregateFunction): Boolean = f match {
    case _: Max | _: Min | _: Sum | _: Average | _: Count =>
      f.children.forall {
        case _: AttributeReference => true
        case _: Literal => true
        case _ => false
      }
    case _ => false
  }

  /** Rebase an expression's attribute references through `m`; None if any
    * reference has no mapping (the expression reads a column the target
    * space does not expose).
    */
  private def mapAttrs(e: Expression,
                       m: Map[ExprId, Attribute]): Option[Expression] = {
    var ok = true
    val out = e.transformUp {
      case a: AttributeReference =>
        m.get(a.exprId) match {
          case Some(b) => b
          case None => ok = false; a
        }
    }
    if (ok) Some(out) else None
  }

  /** Does a NULL in column `id` force `e` to NULL? True when `id` is
    * reachable from the root through `nullIntolerant` nodes only (a bare
    * attribute trivially forces itself). Used to whitelist IsNotNull
    * strips on columns a grouping key null-forces: the removed rows all
    * sit in the null-key group, which the join can never match.
    */
  private def nullForcing(e: Expression, id: ExprId): Boolean = e match {
    case a: AttributeReference => a.exprId == id
    case _ if e.nullIntolerant => e.children.exists(nullForcing(_, id))
    case _ => false
  }

  /** Inline ONE level of expression-defining Project below the Aggregate
    * — the shape Catalyst's `PullOutGroupingExpressions` produces for
    * computed grouping keys (`_groupingexpression#N`). Substitutes the
    * Project's definitions into the grouping keys and aggregate
    * expressions (preserving output exprIds) and re-parents the
    * Aggregate onto the Project's child. None when the child is not such
    * a Project or a definition is nondeterministic.
    */
  private def inlineGroupingProject(agg: Aggregate): Option[Aggregate] =
    agg.child match {
      case Project(list, pchild)
          if list.exists {
            case _: AttributeReference => false
            case Alias(_: AttributeReference, _) => false
            case _ => true
          } && list.forall(_.deterministic) =>
        // non-exhaustive project entries (any NamedExpression that is
        // neither a bare attribute nor an Alias — e.g. an OuterReference
        // surfacing inside a subquery being optimized) REFUSE the inline
        // instead of crashing the whole query (ADVICE r14)
        val substEntries: Seq[Option[(ExprId, Expression)]] = list.map {
          case a: AttributeReference => Some(a.exprId -> (a: Expression))
          case al @ Alias(e, _) => Some(al.exprId -> e)
          case _ => None
        }
        if (substEntries.exists(_.isEmpty)) return None
        val subst: Map[ExprId, Expression] = substEntries.flatten.toMap
        def sub(e: Expression): Option[Expression] = {
          var ok = true
          val r = e.transformUp {
            case a: AttributeReference =>
              subst.get(a.exprId) match {
                case Some(x) => x
                case None => ok = false; a
              }
          }
          if (ok) Some(r) else None
        }
        val newKeys = agg.groupingExpressions.map(g => sub(g).getOrElse(return None))
        val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case a: AttributeReference =>
            sub(a).getOrElse(return None) match {
              case b: AttributeReference if b.exprId == a.exprId => b
              case e => Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
            }
          case al @ Alias(e, name) =>
            Alias(sub(e).getOrElse(return None), name)(
              exprId = al.exprId, qualifier = al.qualifier)
          case _ => return None
        }
        Some(Aggregate(newKeys, newAggs, pchild))
      case _ => None
    }

  /** The SIXTH greatest-per-group spelling (round 16): the correlated
    * `ORDER BY v [DESC] LIMIT 1` scalar subquery —
    *
    * {{{ WHERE t.v = (SELECT t2.v FROM t t2 WHERE t2.k = t.k
    *                  ORDER BY t2.v DESC LIMIT 1) }}}
    *
    * Catalyst decorrelates the LIMIT into a per-key `row_number() = 1`
    * window and joins the probe against it on {keys, v} — two scans
    * (one group-limit pruned) plus a join. Because the subquery side
    * exposes ONLY the partition keys and the ordered value, its one
    * row per key carries exactly (k, max(v)) (DESC NULLS LAST; min for
    * ASC NULLS LAST) — whatever tiebreak row_number happened to pick —
    * so the side is EQUIVALENT to `Aggregate(k, [k, max(v)])` with the
    * same output attributes, and the partnered argmax arm collapses
    * the join proof-free. This converter performs that normalization;
    * every guard refuses by returning None:
    *
    *  - outputs ⊆ partition keys ∪ {the primary order column}: any
    *    other exposed column would be tiebreak-dependent;
    *  - `row_number` only — rank/dense_rank keep ALL ties, the side is
    *    then not key-distinct and the join would replicate probe rows;
    *  - bound exactly 1 (`rn <= 1` / `rn = 1` / `rn < 2`);
    *  - primary order NULLS LAST: under NULLS FIRST the top-1 of a
    *    group containing a NULL is the NULL itself — the user's
    *    spelling then means "match nothing for such keys", which is
    *    NOT min/max, and Catalyst's two-scan plan computes it
    *    faithfully (ASC's DEFAULT is NULLS FIRST, so the everyday
    *    argmin spelling must say ASC NULLS LAST to collapse);
    *  - trailing tiebreak sort columns are fine (deterministic only):
    *    they never change the top row's primary value.
    *
    * Wrapper layers re-wrap (SubqueryAlias, attribute-only Projects);
    * `WindowGroupLimit` nodes (same window, limit ≥ 1) DROP — min/max
    * are invariant under per-partition top-1 pruning — and IsNotNull
    * Filter layers DROP only when every conjunct is on a partition key
    * or the ordered value (a null there never satisfies the join
    * equality and min/max ignore null inputs; above the core this
    * holds automatically since the core exposes only keys ∪ {v}).
    * An IsNotNull on any OTHER column below the window — a user filter
    * inside the subquery — gates which row is top-1, so the node is
    * kept and the downstream twin/strip machinery refuses soundly.
    */
  private def topOneToAggregate(side: LogicalPlan): Option[LogicalPlan] = {
    def boundIsOne(e: Expression, rn: Attribute): Boolean = {
      def one(l: Expression): Boolean = l.foldable && (l.eval() match {
        case i: Int => i == 1
        case l2: Long => l2 == 1L
        case _ => false
      })
      def two(l: Expression): Boolean = l.foldable && (l.eval() match {
        case i: Int => i == 2
        case l2: Long => l2 == 2L
        case _ => false
      })
      e match {
        case LessThanOrEqual(a: AttributeReference, l) => a.exprId == rn.exprId && one(l)
        case EqualTo(a: AttributeReference, l) => a.exprId == rn.exprId && one(l)
        case EqualTo(l, a: AttributeReference) => a.exprId == rn.exprId && one(l)
        case LessThan(a: AttributeReference, l) => a.exprId == rn.exprId && two(l)
        case GreaterThanOrEqual(l, a: AttributeReference) => a.exprId == rn.exprId && one(l)
        case _ => false
      }
    }
    // strip WindowGroupLimit (same window, limit >= 1) and IsNotNull-only
    // Filters under the window — but ONLY IsNotNull on the partition
    // keys or the ordered value itself: a null key/value never survives
    // the join equality and min/max ignore null inputs, so those strips
    // are value- and match-neutral. An IsNotNull on ANY OTHER column
    // (e.g. a user filter inside the subquery) changes which row is
    // top-1 — the node is KEPT, and the downstream canonical-twin /
    // strip-tolerance machinery then refuses the collapse soundly.
    def stripUnder(p: LogicalPlan, keys: Seq[Attribute],
                   order: Seq[SortOrder], okIds: Set[ExprId]): LogicalPlan =
      p match {
        case WindowGroupLimit(ps, os, _, limit, c)
            if limit >= 1 && ps.length == keys.length &&
              ps.zip(keys).forall { case (a, b) => a.semanticEquals(b) } &&
              os.length == order.length &&
              os.zip(order).forall { case (a, b) => a.semanticEquals(b) } =>
          stripUnder(c, keys, order, okIds)
        case Filter(cond, c) if splitConjunctivePredicates(cond).forall {
              case IsNotNull(a: AttributeReference) => okIds.contains(a.exprId)
              case _ => false
            } =>
          stripUnder(c, keys, order, okIds)
        case _ => p
      }
    def convertCore(core: LogicalPlan): Option[LogicalPlan] = core match {
      case Project(outs, Filter(fcond, w: Window)) =>
        val (rnAlias, spec) = w.windowExpressions match {
          case Seq(al @ Alias(WindowExpression(_: RowNumber,
                s: WindowSpecDefinition), _)) => (al, s)
          case _ => return None
        }
        spec.frameSpecification match {
          case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) =>
          case UnspecifiedFrame =>
          case _ => return None
        }
        val keys: Seq[Attribute] = spec.partitionSpec.map {
          case a: AttributeReference => a
          case _ => return None
        }
        val (v, dir) = spec.orderSpec match {
          case SortOrder(a: AttributeReference, d, NullsLast, _) +: rest
              if rest.forall(_.child.deterministic) => (a, d)
          case _ => return None
        }
        if (keys.exists(_.exprId == v.exprId)) return None
        val keyIds = keys.map(_.exprId).toSet
        val okIds = keyIds + v.exprId
        // filter: exactly one rn<=1 bound; IsNotNull conjuncts drop,
        // but only on the keys or the ordered value (anything else —
        // e.g. a subquery-local user filter — gates which row is top-1
        // and must refuse)
        val conjuncts = splitConjunctivePredicates(fcond)
        val (bounds, others) = conjuncts.partition(boundIsOne(_, rnAlias.toAttribute))
        if (bounds.length != 1) return None
        if (!others.forall {
              case IsNotNull(a: AttributeReference) => okIds.contains(a.exprId)
              case _ => false
            }) return None
        def toAgg(a: Attribute, name: String, id: ExprId,
                  qual: Seq[String]): Option[NamedExpression] =
          if (a.exprId == v.exprId) {
            val fn = if (dir == Descending) Max(v) else Min(v)
            Some(Alias(fn.toAggregateExpression(), name)(
              exprId = id, qualifier = qual))
          } else if (keyIds.contains(a.exprId)) {
            if (a.exprId == id) Some(a)
            else Some(Alias(a, name)(exprId = id, qualifier = qual))
          } else None
        val aggExprs: Seq[NamedExpression] = outs.map {
          case a: AttributeReference =>
            toAgg(a, a.name, a.exprId, a.qualifier).getOrElse(return None)
          case al @ Alias(a: AttributeReference, nm) =>
            toAgg(a, nm, al.exprId, al.qualifier).getOrElse(return None)
          case _ => return None
        }
        val child = stripUnder(w.child, keys, spec.orderSpec, okIds)
        if (!keys.forall(k => child.outputSet.contains(k)) ||
          !child.outputSet.contains(v)) return None
        Some(Aggregate(keys, aggExprs, child))
      case _ => None
    }
    // re-wrap peelable layers around the converted core; the core match
    // is tried FIRST at every level so the core's own outs-Project is
    // never mistaken for a wrapper
    def walk(p: LogicalPlan): Option[LogicalPlan] =
      convertCore(p).orElse(p match {
        case sa @ SubqueryAlias(_, c) =>
          walk(c).map(nc => sa.copy(child = nc))
        case pr @ Project(list, c) if list.forall {
              case _: AttributeReference => true
              case Alias(_: AttributeReference, _) => true
              case _ => false
            } =>
          walk(c).map(nc => pr.copy(child = nc))
        case Filter(cond, c) if splitConjunctivePredicates(cond).forall {
              case IsNotNull(_: AttributeReference) => true
              case _ => false
            } =>
          walk(c) // null keys/values never satisfy the join equality
        case _ => None
      })
    walk(side)
  }

  private def rewrite(probe: LogicalPlan, aggSide: LogicalPlan,
                      cond: Expression, aggOnRight: Boolean,
                      mode: Mode): Option[LogicalPlan] = {
    val aggPeel = peel(aggSide)
    val agg0 = aggPeel.base match {
      case a: Aggregate => a
      case _ => return None
    }
    // try the Aggregate as written; when its child is the
    // PullOutGroupingExpressions Project, retry with the definitions
    // inlined so the grouping keys surface as the user's expressions
    rewriteWithAgg(probe, aggSide, aggPeel, agg0, cond, aggOnRight, mode)
      .orElse(inlineGroupingProject(agg0).flatMap(a =>
        rewriteWithAgg(probe, aggSide, aggPeel, a, cond, aggOnRight, mode)))
  }

  private def rewriteWithAgg(probe: LogicalPlan, aggSide: LogicalPlan,
                             aggPeel: Peeled, agg: Aggregate,
                             cond: Expression, aggOnRight: Boolean,
                             mode: Mode): Option[LogicalPlan] = {
    // ---- 1. shape of the aggregate side -------------------------------
    // grouping keys: bare attributes, or deterministic expressions over
    // the aggregate child's columns (round 14: `GROUP BY k,
    // date_trunc('month', d)` — the latest-per-(key, period) spelling)
    val groupKeys: Seq[Expression] = agg.groupingExpressions
    if (groupKeys.exists(g => !g.deterministic || g.references.isEmpty ||
          !g.references.subsetOf(agg.child.outputSet))) return None

    def keyIdx(e: Expression): Option[Int] =
      groupKeys.zipWithIndex.collectFirst {
        case (g, i) if g.semanticEquals(e) => i
      }

    // aggregate outputs (r14: ANY number, including zero — the keys-only
    // "attach the group stats" join); everything else must re-emit
    // grouping keys
    var aggVals = Seq.empty[(ExprId, AggregateFunction)] // output id -> fn
    var groupOut = Map.empty[ExprId, Int] // output id -> grouping key index
    var constOut = Map.empty[ExprId, Literal] // output id -> constant
    agg.aggregateExpressions.foreach {
      case a: AttributeReference if keyIdx(a).isDefined =>
        groupOut += a.exprId -> keyIdx(a).get
      case al @ Alias(AggregateExpression(f, Complete, false, None, _), _)
          if supportedAgg(f) =>
        aggVals :+= al.exprId -> f
      case al @ Alias(e, _) if keyIdx(e).isDefined =>
        groupOut += al.exprId -> keyIdx(e).get
      // constant outputs — notably the `true AS alwaysTrue` marker
      // Catalyst's COUNT-bug decorrelation adds: on a matched row the
      // constant, off the match NULL — exactly what the Outer If-wrap
      // re-emission produces
      case al @ Alias(l: Literal, _) =>
        constOut += al.exprId -> l
      case _ => return None
    }
    val aggValIds = aggVals.map(_._1).toSet

    val aggInputIds = aggVals.flatMap(_._2.children).collect {
      case a: AttributeReference => a.exprId
    }.toSet
    val aggChildPeel = peel(agg.child)

    // grouping keys and aggregate inputs rebased to the aggregate
    // child's BASE attribute space (where peeled strips live)
    val keysInBaseA: Seq[Expression] = groupKeys.map(g =>
      mapAttrs(g, aggChildPeel.toBase).getOrElse(return None))
    val aggInputBaseA: Set[ExprId] =
      aggInputIds.flatMap(aggChildPeel.toBase.get).map(_.exprId)

    // ---- 2. the probe side must be the same lineage -------------------
    val probePeel = peel(probe)
    val baseA = aggChildPeel.base
    val baseP = probePeel.base
    if (baseA.output.length != baseP.output.length) return None
    if (baseA.canonicalized != baseP.canonicalized) return None
    if (baseA.isStreaming || baseP.isStreaming) return None
    if (!WindowShapes.deterministicTree(baseP)) return None

    // positional base correspondence aggChild-base attr -> probe-base attr
    val posMap: Map[ExprId, Attribute] =
      baseA.output.zip(baseP.output).map { case (a, p) => a.exprId -> p }.toMap
    // probe base attr -> probe OUTPUT attr (inverse of the probe peel map)
    val baseToProbeOut: Map[ExprId, Attribute] = probePeel.toBase.flatMap {
      case (outId, baseAttr) =>
        probe.output.find(_.exprId == outId).map(out => baseAttr.exprId -> out)
    }
    // grouping attr / agg input (aggChild space) -> probe output attr
    def probeTwin(aggSpaceId: ExprId): Option[Attribute] = for {
      baseAttr <- aggChildPeel.toBase.get(aggSpaceId)
      pBase <- posMap.get(baseAttr.exprId)
      pOut <- baseToProbeOut.get(pBase.exprId)
    } yield pOut

    // grouping keys in the PROBE base space — the space join-condition
    // twins are compared in
    val keysInBaseP: Seq[Expression] = keysInBaseA.map(g =>
      mapAttrs(g, posMap).getOrElse(return None))

    // ---- 3. the join condition ----------------------------------------
    // aggSide output attr -> underlying agg output id
    val aggSideOutToAggOut: Map[ExprId, ExprId] = aggPeel.toBase.map {
      case (outId, baseAttr) => outId -> baseAttr.exprId
    }
    var coveredKeys = Set.empty[Int] // grouping key indices matched
    var aggPartners = Map.empty[ExprId, Seq[Expression]] // agg output -> probe exprs
    var keyProbe = Map.empty[Int, Expression] // key index -> probe twin
    splitConjunctivePredicates(cond).foreach { c =>
      // the agg side of each equality must be a bare output attr; the
      // probe side may be any deterministic expression over probe attrs
      // (the analyzer inserts casts around the compared column when the
      // aggregate widens its type, e.g. avg(int) → double)
      val (pExpr, aAttr) = c match {
        case EqualTo(x, y: AttributeReference)
            if x.deterministic && x.references.nonEmpty &&
              x.references.subsetOf(probe.outputSet) &&
              aggSide.outputSet.contains(y) =>
          (x, y)
        case EqualTo(x: AttributeReference, y)
            if y.deterministic && y.references.nonEmpty &&
              y.references.subsetOf(probe.outputSet) &&
              aggSide.outputSet.contains(x) =>
          (y, x)
        case _ => return None
      }
      aggSideOutToAggOut.get(aAttr.exprId) match {
        case Some(aggOutId) if aggValIds.contains(aggOutId) =>
          aggPartners += aggOutId ->
            (aggPartners.getOrElse(aggOutId, Seq.empty) :+ pExpr)
        case Some(aggOutId) =>
          groupOut.get(aggOutId) match {
            case Some(idx) =>
              // the probe expression must be the CANONICAL TWIN of the
              // grouping key: both rebased to the shared probe-base
              // attribute space and compared semantically (for a bare
              // attribute key this degenerates to the positional twin)
              val pInBase = mapAttrs(pExpr, probePeel.toBase)
                .getOrElse(return None)
              if (!keysInBaseP(idx).semanticEquals(pInBase)) return None
              coveredKeys += idx
              if (!keyProbe.contains(idx)) keyProbe += idx -> pExpr
            case None => return None
          }
        case None => return None
      }
    }
    if (coveredKeys != groupKeys.indices.toSet) return None
    // keys-only joins (no aggregate partner) need at least one covered
    // key; every probe row then matches exactly its own group row
    if (aggPartners.isEmpty && coveredKeys.isEmpty) return None

    // ---- strips, now that the partnering is known -----------------------
    // Above the Aggregate (agg-output space): group-key outputs are fine
    // (our filter re-adds IsNotNull on the twins); isnotnull on a
    // PARTNERED aggregate output is fine (the join equality drops null-m
    // groups anyway); on an UNPARTNERED output it would remove whole
    // groups the rewrite keeps — refuse.
    if (!aggPeel.strippedNotNull.forall(id =>
          aggPartners.contains(id) || groupOut.contains(id) ||
            (constOut.get(id).exists(l => l.value != null)))) return None
    // BELOW the Aggregate, an IsNotNull strip on the aggregate's input is
    // value-neutral (all supported functions ignore null inputs) but NOT
    // existence-neutral: a group whose inputs are ALL null vanishes from
    // the agg side entirely. With exactly ONE aggregate that is PARTNERED
    // and not Count, the vanished group's windowed value is NULL and the
    // equality never matches (same rows); Count yields a non-NULL 0 over
    // the unfiltered probe, a keys-only join has no equality to fail, and
    // with several aggregates a strip on one's input moves the OTHERS'
    // values — all refuse. Strips on a column some grouping key
    // NULL-FORCES only move rows of the never-matching null-key group.
    val inputStripOk = aggVals.length == 1 &&
      aggPartners.contains(aggVals.head._1) &&
      !aggVals.head._2.isInstanceOf[Count]
    if (!aggChildPeel.strippedNotNull.forall(id =>
          keysInBaseA.exists(nullForcing(_, id)) ||
            (inputStripOk && aggInputBaseA.contains(id))))
      return None
    // probe-side strips: tolerated on columns some grouping key
    // null-forces, and (single partnered non-Count aggregate only, the
    // same argument) on twins of the aggregate inputs
    val aggInputBaseP: Set[ExprId] = aggInputIds.flatMap { id =>
      for {
        baseAttr <- aggChildPeel.toBase.get(id)
        pBase <- posMap.get(baseAttr.exprId)
      } yield pBase.exprId
    }
    if (!probePeel.strippedNotNull.forall(id =>
          keysInBaseP.exists(nullForcing(_, id)) ||
            (inputStripOk && aggInputBaseP.contains(id))))
      return None

    // ---- 4. build the windowed single-pass form ------------------------
    // partition on the probe-side twin expressions (deduped semantically)
    val partitionExprs: Seq[Expression] = {
      val buf = Seq.newBuilder[Expression]
      var seen = Seq.empty[Expression]
      groupKeys.indices.foreach { i =>
        val e = keyProbe(i)
        if (!seen.exists(_.semanticEquals(e))) { seen :+= e; buf += e }
      }
      buf.result()
    }
    // aggregate inputs the probe projection pruned away (legal when the
    // outer query never reads them): rebuild the probe from its base —
    // the peeled layers were exactly attr-renames + IsNotNull filters, so
    // Project(probe outputs re-aliased ++ missing base attrs,
    //         Filter(stripped IsNotNulls, base)) is row- and
    // column-equivalent with the extra inputs along for the window.
    var missingBase = Seq.empty[Attribute]
    def rebaseChildren(fn: AggregateFunction): Option[Seq[Expression]] = {
      val buf = Seq.newBuilder[Expression]
      fn.children.foreach {
        case a: AttributeReference =>
          probeTwin(a.exprId) match {
            case Some(t) => buf += t
            case None =>
              (for {
                baseAttr <- aggChildPeel.toBase.get(a.exprId)
                pBase <- posMap.get(baseAttr.exprId)
              } yield pBase) match {
                case Some(b) =>
                  if (!missingBase.exists(_.exprId == b.exprId)) missingBase :+= b
                  buf += b
                case None => return None
              }
          }
        case lit: Literal => buf += lit
        case _ => return None
      }
      Some(buf.result())
    }
    val rebasedFns: Seq[(ExprId, AggregateFunction)] = aggVals.map {
      case (id, fn) =>
        id -> fn.withNewChildren(rebaseChildren(fn).getOrElse(return None))
          .asInstanceOf[AggregateFunction]
    }
    val winChild: LogicalPlan =
      if (missingBase.isEmpty) probe
      else {
        val preds = probePeel.strippedNotNull.toSeq
          .flatMap(id => baseP.output.find(_.exprId == id))
          .map(IsNotNull(_): Expression)
        val flt = if (preds.isEmpty) baseP else Filter(preds.reduce(And), baseP)
        val passthrough: Seq[NamedExpression] = probe.output.map { o =>
          val b = probePeel.toBase(o.exprId)
          if (b.exprId == o.exprId) b
          else Alias(b, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }
        Project(passthrough ++ missingBase, flt)
      }
    // a KEYS-ONLY join (no aggregate partner) fires only when the keys'
    // ndv is PROVABLY low: unlike the partnered argmax form — where the
    // join devolves to a filter and elimination is categorically better
    // — the keys-only join already has a good Spark plan (AQE broadcasts
    // the group side), and the zero-exchange attach only beats it inside
    // its low-ndv design center (measured: 1.7× slower at 20k unproven
    // keys). The proof is Lineage's, the keyed window arm's own.
    // (exempt from the proof: a keys-only join with NO aggregate outputs
    // reduces to the bare IS NOT NULL filter, and a keys-only SEMI never
    // materializes the aggregates — column pruning drops the unused
    // window and only the filter remains)
    if (aggPartners.isEmpty && aggVals.nonEmpty && mode != Mode.Semi &&
        !Lineage.provenKeyNdv(session, partitionExprs, winChild))
      return None

    // one window alias per aggregate output, all over the same spec; a
    // keys-only join with NO aggregates needs no Window node at all
    val winAliases: Seq[(ExprId, Alias)] = rebasedFns.map { case (id, fn) =>
      id -> Alias(WindowExpression(
        AggregateExpression(fn, Complete, isDistinct = false, filter = None),
        WindowSpecDefinition(partitionExprs, Nil,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))),
        "__graft_argmax")()
    }
    val winByAgg: Map[ExprId, Alias] = winAliases.toMap
    val win: LogicalPlan =
      if (winAliases.isEmpty) winChild
      else {
        val w = Window(winAliases.map(_._2), partitionExprs, Nil, winChild)
        // this Window exists because the collapse traded a join for the
        // keyed/global total heal — exempt it from the input-size stock
        // gate (KeyedWindowRule.HealExpectedTag scaladoc)
        w.setTagValue(KeyedWindowRule.HealExpectedTag, true)
        w
      }
    val matchPred = (partitionExprs.map(IsNotNull(_): Expression) ++
      aggPartners.toSeq.flatMap { case (aggOutId, partners) =>
        partners.map(p =>
          EqualTo(p, winByAgg(aggOutId).toAttribute): Expression)
      }).reduce(And)

    // the expression carrying each aggregate-side output: a PARTNERED
    // aggregate re-emits its probe partner (equal on every matched row
    // by the join condition itself), an unpartnered one its window
    // column; group keys re-emit their probe twins
    def carried(out: Attribute): Option[Expression] =
      aggSideOutToAggOut.get(out.exprId) match {
        case Some(id) if aggPartners.contains(id) =>
          Some(aggPartners(id).head)
        case Some(id) if winByAgg.contains(id) =>
          Some(winByAgg(id).toAttribute)
        case Some(id) if constOut.contains(id) =>
          Some(constOut(id))
        case Some(id) => groupOut.get(id).flatMap(keyProbe.get)
        case None => None
      }

    mode match {
      case Mode.Semi =>
        Some(Project(probe.output, Filter(matchPred, win)))
      case Mode.Inner | Mode.Outer =>
        // Inner filters to the matched rows; Outer keeps every probe row
        // and nulls the aggregate columns off the match instead (the
        // right side is key-distinct, so a LEFT OUTER join never
        // replicates either) — same re-emission either way, the Outer
        // form just If-wraps it and drops the Filter
        val wrap: Expression => Expression =
          if (mode == Mode.Outer)
            e => If(matchPred, e, Literal(null, e.dataType))
          else identity
        val aggSideAliases: Seq[NamedExpression] = aggSide.output.map { out =>
          val e = carried(out).getOrElse(return None)
          Alias(wrap(e), out.name)(exprId = out.exprId,
            qualifier = out.qualifier)
        }
        val projList: Seq[NamedExpression] =
          if (aggOnRight) probe.output ++ aggSideAliases
          else aggSideAliases ++ probe.output
        val child = if (mode == Mode.Outer) win else Filter(matchPred, win)
        Some(Project(projList, child))
    }
  }
}

object ArgMaxJoinRule {
  /** ON by default; set false to keep Spark's join plan. */
  val RewriteConf = "spark.graft.argmaxJoin.rewrite"

  private[plans] sealed trait Mode
  private[plans] object Mode {
    case object Inner extends Mode
    case object Semi extends Mode
    case object Outer extends Mode
  }
}
