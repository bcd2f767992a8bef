package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Plan-normalization rule: collapse the correlated-count TOP-N-PER-GROUP
  * spelling — the n > 1 sibling of `ArgMaxJoinRule`'s argmax join —
  *
  * {{{
  *   SELECT * FROM t
  *   WHERE (SELECT count(*) FROM t t2
  *          WHERE t2.k = t.k AND t2.v > t.v) < n
  * }}}
  *
  * into the one-scan rank-window filter
  *
  * {{{
  *   SELECT … FROM (SELECT t.*, rank() OVER (PARTITION BY k
  *                    ORDER BY v DESC NULLS LAST) __r FROM t)
  *   WHERE k IS NULL OR v IS NULL OR __r <= n
  * }}}
  *
  * Why this must intercept BEFORE the optimizer: Catalyst decorrelates
  * the non-equality correlation (`t2.v > t.v`) through a DOMAIN join —
  * the optimized plan reads `t` THREE times (probe, distinct-domain,
  * inner), range-joins the domain against the full table (|domain| × |t|
  * comparisons — quadratic in the worst case), aggregates, and
  * null-aware-outer-joins back. At 100 TB that plan is unrunnable. The
  * rank form is one scan and one hash-cluster exchange, so the rule runs
  * in the plan-normalization phase (analyzed plan, pre-decorrelation)
  * where the `Filter(ScalarSubquery)` shape is still visible.
  *
  * Equivalence, row by row (c = the subquery's count for a probe row):
  *  - NULL key or NULL v: no `t2` row satisfies the correlation (null
  *    comparisons are never TRUE), so c = 0 and the row passes whenever
  *    0 passes the comparison — the explicit IS NULL escapes reproduce
  *    this (they are emitted only for nullable columns);
  *  - otherwise c = #rows in the row's group with a strictly greater
  *    (resp. smaller) non-null `v` = rank − 1 under the DESC (ASC)
  *    NULLS LAST order, because rank counts exactly the rows strictly
  *    preceding the current row's peer group. So `c < n ⇔ rank ≤ n` and
  *    `c ≤ n ⇔ rank ≤ n+1`, ties preserved exactly — every peer shares
  *    one rank, the law the correlated count obeys too.
  *
  * Guards (refusals leave the plan to Catalyst's decorrelation):
  *  - the subquery is `Aggregate(Nil, count(1) | count(v2))` over a
  *    `Filter` whose conjuncts are exactly {k2 = outer(k)}* plus ONE
  *    STRICT inequality {v2 > outer(v)} or {v2 < outer(v)} — `>=`/`<=`
  *    correlations count the row's own peers and are NOT a rank (they
  *    are the peer-inclusive RANGE count), so they refuse;
  *  - `count(v2)` is accepted only when v2 IS the inequality column
  *    (the correlation already forces it non-null, so it equals
  *    count(1));
  *  - the comparison is `< n` (n ≥ 1) or `<= n` (n ≥ 0) against a
  *    foldable integer — n below that floor can pass no row with c = 0,
  *    a degenerate query left alone;
  *  - both relations strip (through [[Lineage.Wrapper]]s) to
  *    CANONICALLY EQUAL deterministic subtrees and every correlated
  *    column maps to its positional twin.
  *
  * The [NOT] EXISTS spelling of the same question — `WHERE NOT EXISTS
  * (SELECT 1 FROM t t2 WHERE t2.k = t.k AND t2.v > t.v)`, the textbook
  * keep-all-ties greatest-per-group — collapses too (r16, see
  * [[matchExists]]): Catalyst would plan a two-scan anti (EXISTS: semi)
  * join with a non-equi residual; the rank form is n = 1 of the count
  * form, and the non-negated EXISTS is its complement (the
  * strictly-dominated rows).
  *
  * ON by default; opt out with `spark.graft.topn.rewrite=false`.
  * Registered via `spark.sql.extensions=graft.GraftExtensions`
  * (`injectPlanNormalizationRule`).
  */
case class TopNSubqueryRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import TopNSubqueryRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(RewriteConf, "true").toBoolean) plan
    else plan.transformUp {
      case f @ Filter(cond, child)
          if cond.exists(e => e.isInstanceOf[ScalarSubquery] ||
            e.isInstanceOf[Exists]) =>
        rewriteFilter(cond, child).getOrElse(f)
    }
  }

  private def rewriteFilter(cond: Expression,
                            child: LogicalPlan): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // EVERY qualifying correlated-count conjunct collapses (ADVICE r14:
    // first-only left the second to Catalyst's quadratic domain join).
    // Each match is verified against the ORIGINAL child, then the
    // windows stack — a Window node only APPENDS its rank column, so
    // later windows still see every original output.
    val matched = conjuncts.zipWithIndex.flatMap { case (c, i) =>
      matchTopN(c, child).orElse(matchExists(c, child)).map(i -> _)
    }
    if (matched.isEmpty) None
    else {
      var stacked: LogicalPlan = child
      val preds = matched.map { case (_, (winPred, win)) =>
        stacked = win.copy(child = stacked)
        winPred
      }
      val keptIdx = matched.map(_._1).toSet
      val rest = conjuncts.zipWithIndex.collect {
        case (r, i) if !keptIdx.contains(i) => r
      }
      Some(Project(child.output, Filter((preds ++ rest).reduce(And), stacked)))
    }
  }

  /** Match one conjunct of the outer filter as the correlated-count
    * comparison; return the replacement predicate plus the Window node.
    */
  private def matchTopN(c: Expression,
                        child: LogicalPlan): Option[(Expression, Window)] = {
    // the comparison: subquery on one side, a foldable integer on the
    // other; normalize to (subquery, limit, inclusive)
    def lit(e: Expression): Option[Long] =
      if (e.foldable && !e.exists(_.isInstanceOf[PlanExpression[_]])) {
        e.eval() match {
          case i: Int => Some(i.toLong)
          case l: Long => Some(l)
          case s: Short => Some(s.toLong)
          case b: Byte => Some(b.toLong)
          case _ => None
        }
      } else None
    val (sub, n, inclusive) = c match {
      case LessThan(s: ScalarSubquery, e) => (s, lit(e).getOrElse(return None), false)
      case LessThanOrEqual(s: ScalarSubquery, e) => (s, lit(e).getOrElse(return None), true)
      case GreaterThan(e, s: ScalarSubquery) => (s, lit(e).getOrElse(return None), false)
      case GreaterThanOrEqual(e, s: ScalarSubquery) => (s, lit(e).getOrElse(return None), true)
      case _ => return None
    }
    // c < n passes c = 0 only when n >= 1 (c <= n: n >= 0); below that
    // the escape-row semantics would be wrong — refuse the degenerate
    val limit = if (inclusive) n + 1 else n
    if (limit < 1) return None
    if (sub.joinCond.nonEmpty) return None

    // subquery shape: ungrouped count over one correlated Filter
    val (cnt: Count, distinct: Boolean, corrFilter: Filter, subRel: LogicalPlan) =
      Lineage.strip(sub.plan) match {
        case Aggregate(Nil, Seq(Alias(
              AggregateExpression(cf: Count, Complete, dist, None, _), _)),
            f @ Filter(_, sq), _) =>
          (cf, dist, f, Lineage.strip(sq))
        case _ => return None
      }
    val (dedupKeys, v2, vo, descending) =
      matchCorrelation(sub.plan, corrFilter, subRel, child).getOrElse(return None)
    // count(1)/count(*) always; count(col) only for the inequality
    // column, which the correlation already forces non-null;
    // count(DISTINCT col) counts the distinct strictly-greater values —
    // a DENSE rank — and is accepted only on the inequality column
    cnt.children match {
      case Seq(_: Literal) if !distinct =>
      case Seq(a: AttributeReference) if a.exprId == v2.exprId =>
      case _ => return None
    }

    // rank() OVER (PARTITION BY keys ORDER BY vo DESC|ASC NULLS LAST)
    val dir = if (descending) Descending else Ascending
    val so = SortOrder(vo, dir, NullsLast, Seq.empty)
    val rankFn: Expression =
      if (distinct) DenseRank(Seq(vo)) else Rank(Seq(vo))
    val rank = WindowExpression(rankFn,
      WindowSpecDefinition(dedupKeys, Seq(so),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)))
    val alias = Alias(rank, "__graft_topn")()
    val win = Window(Seq(alias), dedupKeys, Seq(so), child)
    val keep: Expression =
      LessThanOrEqual(Cast(alias.toAttribute, LongType), Literal(limit))
    // a NULL key or NULL ordering value zeroes the correlated count, so
    // those rows always pass (limit >= 1) — escape them explicitly; the
    // escapes are emitted only for nullable columns, so non-nullable
    // inputs keep the bare rank predicate Spark can push a group limit on
    val escapes: Seq[Expression] =
      (dedupKeys :+ vo).filter(_.nullable).map(IsNull(_))
    Some(((escapes :+ keep).reduce(Or), win))
  }

  /** Validate the correlated-filter shape shared by the count and
    * EXISTS forms: no OTHER outer reference hides anywhere in the
    * subquery, both relations strip to canonically equal deterministic
    * non-streaming twins, and the correlation conjuncts are exactly
    * {k2 = outer(k)}* plus ONE strict inequality over a positional
    * twin. Returns (dedup'd outer partition keys, subquery inequality
    * attr, outer order attr, descending). */
  private def matchCorrelation(subPlan: LogicalPlan, corrFilter: Filter,
                               subRel: LogicalPlan, child: LogicalPlan)
      : Option[(Seq[Attribute], Attribute, Attribute, Boolean)] = {
    val outerRefs = subPlan.collect {
      case n => n.expressions.flatMap(_.collect { case o: OuterReference => o })
    }.flatten
    val filterRefs = corrFilter.condition.collect { case o: OuterReference => o }
    if (outerRefs.size != filterRefs.size) return None

    if (!WindowShapes.deterministicTree(subPlan) ||
      !WindowShapes.deterministicTree(child)) return None
    val base = Lineage.strip(child)
    if (subRel.output.length != base.output.length) return None
    if (subRel.canonicalized != base.canonicalized) return None
    if (subRel.isStreaming || base.isStreaming) return None
    // positional twin: subquery-side attr -> outer-side attr
    val pos: Map[ExprId, Attribute] =
      subRel.output.zip(base.output).map { case (a, b) => a.exprId -> b }.toMap
    // the outer output attr for a base attr (wrappers keep exprIds)
    val outAttr: Map[ExprId, Attribute] =
      child.output.map(a => a.exprId -> a).toMap
    def twin(a: Attribute): Option[Attribute] =
      pos.get(a.exprId).flatMap(b => outAttr.get(b.exprId))

    // correlation conjuncts: {k2 = outer(k)}* + exactly one STRICT
    // inequality {v2 > outer(v)} / {v2 < outer(v)}
    var keys = Seq.empty[Attribute] // outer-side partition attrs
    var order: Option[(Attribute, Attribute, Boolean)] = None // (v2, vo, descending)
    splitConjunctivePredicates(corrFilter.condition).foreach {
      case EqualTo(a2: AttributeReference, OuterReference(ao: AttributeReference)) =>
        if (!twin(a2).exists(_.exprId == ao.exprId)) return None
        keys :+= outAttr.getOrElse(ao.exprId, return None)
      case EqualTo(OuterReference(ao: AttributeReference), a2: AttributeReference) =>
        if (!twin(a2).exists(_.exprId == ao.exprId)) return None
        keys :+= outAttr.getOrElse(ao.exprId, return None)
      case GreaterThan(v2: AttributeReference, OuterReference(vo: AttributeReference)) =>
        if (order.nonEmpty || !twin(v2).exists(_.exprId == vo.exprId)) return None
        order = Some((v2, outAttr.getOrElse(vo.exprId, return None), true))
      case LessThan(OuterReference(vo: AttributeReference), v2: AttributeReference) =>
        if (order.nonEmpty || !twin(v2).exists(_.exprId == vo.exprId)) return None
        order = Some((v2, outAttr.getOrElse(vo.exprId, return None), true))
      case LessThan(v2: AttributeReference, OuterReference(vo: AttributeReference)) =>
        if (order.nonEmpty || !twin(v2).exists(_.exprId == vo.exprId)) return None
        order = Some((v2, outAttr.getOrElse(vo.exprId, return None), false))
      case GreaterThan(OuterReference(vo: AttributeReference), v2: AttributeReference) =>
        if (order.nonEmpty || !twin(v2).exists(_.exprId == vo.exprId)) return None
        order = Some((v2, outAttr.getOrElse(vo.exprId, return None), false))
      case _ => return None // >=, <=, <=>, or anything else: not a rank
    }
    val (v2, vo, descending) = order.getOrElse(return None)
    val dedupKeys = keys.foldLeft(Seq.empty[Attribute])((acc, a) =>
      if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
    Some((dedupKeys, v2, vo, descending))
  }

  /** Match one conjunct as the [NOT] EXISTS greatest-per-group spelling
    * (r16) — the anti-join sibling of the correlated count:
    *
    * {{{ WHERE NOT EXISTS (SELECT 1 FROM t t2
    *                       WHERE t2.k = t.k AND t2.v > t.v) }}}
    *
    * keeps exactly the rows with no strictly greater v in their group —
    * the keep-ALL-ties argmax — and is the textbook greatest-per-group
    * SQL. Catalyst plans it as a left ANTI join (EXISTS: SEMI): two
    * scans plus a shuffle join with a non-equi residual; the collapse
    * is the same one-scan rank window as the count form with n = 1:
    *
    *  - `NOT EXISTS` ⟺ c = 0 ⟺ `k IS NULL OR v IS NULL OR rank ≤ 1`
    *    (a NULL key or value satisfies no correlation, so those rows
    *    are KEPT by NOT EXISTS — same escapes as the count form);
    *  - `EXISTS` ⟺ c ≥ 1 ⟺ `k IS NOT NULL AND v IS NOT NULL AND
    *    rank ≥ 2` — the strictly-dominated rows (the "drop inferior
    *    duplicates" curation shape).
    */
  private def matchExists(c: Expression,
                          child: LogicalPlan): Option[(Expression, Window)] = {
    val (ex, negated) = c match {
      case Not(e: Exists) => (e, true)
      case e: Exists => (e, false)
      case _ => return None
    }
    if (ex.joinCond.nonEmpty) return None
    // subquery shape: an optional row-local Project (the analyzer's
    // `SELECT 1`) over ONE correlated Filter over the twin relation
    val (corrFilter, subRel) = Lineage.strip(ex.plan) match {
      case Project(list, f @ Filter(_, sq)) if list.forall(_.deterministic) =>
        (f, Lineage.strip(sq))
      case f @ Filter(_, sq) => (f, Lineage.strip(sq))
      case _ => return None
    }
    val (dedupKeys, _, vo, descending) =
      matchCorrelation(ex.plan, corrFilter, subRel, child).getOrElse(return None)

    val dir = if (descending) Descending else Ascending
    val so = SortOrder(vo, dir, NullsLast, Seq.empty)
    val rank = WindowExpression(Rank(Seq(vo)),
      WindowSpecDefinition(dedupKeys, Seq(so),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)))
    val alias = Alias(rank, "__graft_topn")()
    val win = Window(Seq(alias), dedupKeys, Seq(so), child)
    val nullables = (dedupKeys :+ vo).filter(_.nullable)
    val pred: Expression =
      if (negated) {
        // NOT EXISTS: escapes OR rank <= 1 — the bare bound when
        // nothing is nullable, so the group limit can prune map-side
        val keep = LessThanOrEqual(Cast(alias.toAttribute, LongType), Literal(1L))
        (nullables.map(IsNull(_): Expression) :+ keep).reduce(Or)
      } else {
        // EXISTS: NOT-escapes AND rank >= 2
        val drop = GreaterThanOrEqual(Cast(alias.toAttribute, LongType), Literal(2L))
        (nullables.map(IsNotNull(_): Expression) :+ drop).reduce(And)
      }
    Some((pred, win))
  }
}

object TopNSubqueryRule {
  /** ON by default; set false to keep Catalyst's decorrelated plan. */
  val RewriteConf = "spark.graft.topn.rewrite"
}
