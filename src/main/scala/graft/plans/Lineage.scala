package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

/** One column's way down a plan to its leaf ([[trace]]), and the one place
  * the plan rules read column evidence ([[leafNdv]], [[uniqueSets]]).
  * Each rule applies its own contract to the trace:
  *   - ndv upper bound ([[ndvBound]]): crosses joins, reads plan stats at
  *     each step, stops at a filter pin's count, and bounds a computed end
  *     by its defining expression;
  *   - measured floor ([[measuredNdv]]): leaf evidence, refused on a pin
  *     (it proves the post-filter domain small, which the table-level
  *     measurement no longer describes) or a computed end;
  *   - multiplicity ([[leafColumn]]): only [[Wrapper]]s, renames and
  *     filters may be crossed, and a match uses the leaf column's own name.
  */
private[plans] object Lineage extends PredicateHelper {

  /** The exprId- and row-preserving wrappers: a subquery alias, a temp
    * view, a repartition (the scan heal's placement layer). Every rule
    * crosses them; one that must not says so where it matches. */
  object Wrapper {
    def unapply(p: LogicalPlan): Option[LogicalPlan] = p match {
      case SubqueryAlias(_, c) => Some(c)
      case v: View => Some(v.child)
      case r: RepartitionOperation => Some(r.child)
      case _ => None
    }
  }

  /** `p` below its outer [[Wrapper]]s. */
  def strip(p: LogicalPlan): LogicalPlan = p match {
    case Wrapper(c) => strip(c)
    case _ => p
  }

  /** A node the column crossed, its attribute in that node's output, and
    * the literal-set size a filter there pins it to. */
  final case class Step(node: LogicalPlan, attr: Attribute, pin: Option[Long])

  sealed trait End
  final case class AtLeaf(leaf: LeafNode, attr: Attribute) extends End
  final case class Computed(expr: Expression, below: LogicalPlan) extends End
  /** The last step's node does not forward the column. */
  case object Refused extends End

  /** The steps from the traced plan down (a reached leaf is the last),
    * every name the column carried, and how the walk ended. */
  final case class Trace(steps: Seq[Step], names: Set[String], end: End) {
    def pins: Seq[Long] = steps.flatMap(_.pin)
  }

  def trace(a: Attribute, plan: LogicalPlan): Trace = {
    val steps = Seq.newBuilder[Step]
    var names = Set(a.name)
    def walk(a: Attribute, p: LogicalPlan): End = {
      steps += Step(p, a, p match {
        case Filter(cond, _) => pinCount(cond, a)
        case _ => None
      })
      p match {
        case Project(list, gc) =>
          list.find(_.exprId == a.exprId) match {
            case Some(al @ Alias(at: Attribute, _)) => // a pure rename
              names ++= Set(al.name, at.name)
              walk(at, gc)
            case Some(Alias(inner, _)) => Computed(inner, gc)
            case Some(at: Attribute) =>
              names += at.name
              walk(at, gc)
            case _ => Refused
          }
        case Filter(_, gc) => walk(a, gc)
        case l: LeafNode if l.outputSet.contains(a) => AtLeaf(l, a)
        case u: UnaryNode if u.child.outputSet.contains(a) => walk(a, u.child)
        // a join forwards the column from the side that outputs it
        case other => other.children.find(_.outputSet.contains(a))
          .fold[End](Refused)(walk(a, _))
      }
    }
    val end = walk(a, plan)
    Trace(steps.result(), names, end)
  }

  /** The size of the literal set a TOP-LEVEL conjunct of `cond` pins `a`
    * to: `a IN (…)`, `a = lit`. One under `NOT` or `OR` proves nothing. */
  private def pinCount(cond: Expression, a: Attribute): Option[Long] =
    splitConjunctivePredicates(cond).collectFirst {
      case In(at: Attribute, list)
          if at.exprId == a.exprId && list.forall(_.foldable) =>
        list.length.toLong
      case InSet(at: Attribute, set) if at.exprId == a.exprId => set.size.toLong
      case EqualTo(at: Attribute, _: Literal) if at.exprId == a.exprId => 1L
      case EqualTo(_: Literal, at: Attribute) if at.exprId == a.exprId => 1L
    }

  /** Session ndv hints ([[KeyedWindowRule.NdvHintsConf]]). */
  def ndvHints(session: SparkSession): Map[String, Long] =
    KeyedWindowRule.parseHints(session.conf.get(KeyedWindowRule.NdvHintsConf, ""))

  /** Plan-time PROOF that the keys' combined ndv is at or under
    * `spark.graft.keyedWindow.maxNdv` — the keyed window arm's proven case,
    * and what a keys-only `ArgMaxJoinRule` collapse needs. */
  def provenKeyNdv(session: SparkSession, keys: Seq[Expression],
                   child: LogicalPlan): Boolean = {
    val hints = ndvHints(session)
    val maxNdv = session.conf.get(KeyedWindowRule.MaxNdvConf, "64").toLong
    val bounds = keys.map(ndvBound(_, child, hints))
    bounds.forall(_.isDefined) && {
      val product = bounds.flatten.foldLeft(1L) { (acc, b) =>
        if (acc > maxNdv) acc else math.min(acc * math.max(b, 1L), Long.MaxValue / 2)
      }
      product <= maxNdv
    }
  }

  /** Largest provable distinct-value bound of `e` over `child`, or None.
    * pmod/remainder account for the NULL group explicitly: `pmod(null,
    * k)` is null and PARTITION BY makes null its own group, so a
    * nullable input admits one more key than the arithmetic bound
    * (matching the boolean arm's true/false/null accounting). */
  def ndvBound(e: Expression, child: LogicalPlan,
               hints: Map[String, Long]): Option[Long] = e match {
    case _: Literal => Some(1L)
    case _ if e.dataType == BooleanType => Some(3L) // true/false/null
    case p @ Pmod(_, Literal(k: Int, IntegerType), _) if k > 0 =>
      Some(k.toLong + (if (p.nullable) 1L else 0L))
    case p @ Pmod(_, Literal(k: Long, LongType), _) if k > 0 =>
      Some(k + (if (p.nullable) 1L else 0L))
    case r @ Remainder(_, Literal(k: Int, IntegerType), _) if k > 0 =>
      Some(2L * k - 1 + (if (r.nullable) 1L else 0L)) // remainder keeps the sign
    case r @ Remainder(_, Literal(k: Long, LongType), _) if k > 0 =>
      Some(2L * k - 1 + (if (r.nullable) 1L else 0L))
    case c: Cast => ndvBound(c.child, child, hints) // never increases ndv
    case CaseWhen(branches, elseValue)
        if branches.forall(_._2.foldable) && elseValue.forall(_.foldable) =>
      Some(branches.length + 1L) // branch outputs + else/null
    case ElementAt(CreateArray(items, _), _, _, _) if items.forall(_.foldable) =>
      Some(items.length + 1L) // literal decode table + out-of-bounds null
    case a: Attribute =>
      // no unary node or join raises a forwarded column's ndv
      val t = trace(a, child)
      t.steps.iterator.map(s => statsNdv(s.attr, s.node).orElse(s.pin))
        .collectFirst { case Some(n) => n }
        .orElse(t.end match {
          case AtLeaf(leaf, at) => leafNdv(leaf, at, t.names, hints)
          case Computed(inner, below) => ndvBound(inner, below, hints)
          case Refused => None
        })
    case _ => None
  }

  /** MEASURED ndv of `a`, for the lower-bound refusal. The trace crosses
    * filters and joins, which can REDUCE the true count below the
    * table-level measurement — there the value is an estimate, not a
    * floor, and refusing on it is the engine's no-wager posture: both
    * plans are correct, the refusal keeps Spark's always-parallel one,
    * and a user who KNOWS the filtered subset is small holds the proof
    * tools (filter pin, hint, ANALYZE) that win via the proven arm. */
  def measuredNdv(a: Attribute, plan: LogicalPlan,
                  hints: Map[String, Long]): Option[Long] = {
    val t = trace(a, plan)
    t.end match {
      case AtLeaf(leaf, at) if t.pins.isEmpty => leafNdv(leaf, at, t.names, hints)
      case _ => None
    }
  }

  /** The leaf `a` is a base column of and that column's OWN name, when
    * the trace crosses only [[Wrapper]]s, renames and, with `filters`,
    * filters — each keeps distinct tuples distinct. The names the column
    * carried never count: `SELECT other AS key` must not inherit key's
    * evidence for a column that was never measured. */
  def leafColumn(a: Attribute, plan: LogicalPlan,
                 filters: Boolean): Option[(LeafNode, String)] = {
    val t = trace(a, plan)
    val crossed = t.steps.dropRight(1).forall(_.node match {
      case Wrapper(_) | _: Project => true
      case _: Filter => filters
      case _ => false
    })
    t.end match {
      case AtLeaf(leaf, at) if crossed => Some((leaf, at.name))
      case _ => None
    }
  }

  /** Evidence of `a`'s ndv at `leaf`, first match wins: a declared hint
    * under any name the column carried (so only a BASE column of a leaf,
    * possibly renamed en route, never a same-named computed column); the
    * measured ndv of the file version the leaf scans ([[FileEvidence]],
    * whose version string is built only when the leaf's paths hold a
    * fact); the leaf's CatalogTable column stats, read directly (no CBO
    * flag needed); the leaf's plan stats. */
  def leafNdv(leaf: LeafNode, a: Attribute, names: Set[String],
              hints: Map[String, Long]): Option[Long] =
    names.toSeq.sorted.iterator.map(hints.get).collectFirst { case Some(v) => v }
      .orElse(FileEvidence.ndv(leaf, a.name))
      .orElse(leaf match {
        case r: LogicalRelation =>
          r.catalogTable.flatMap(_.stats).flatMap(_.colStats.get(a.name))
            .flatMap(_.distinctCount).map(_.toLong)
        case _ => None
      })
      .orElse(statsNdv(a, leaf))

  /** The column sets proven jointly unique at `leaf`: the declared sets
    * ([[RankJoinRule.UniqueHintsConf]]), then those measured on the file
    * version the leaf scans ([[FileEvidence]]). */
  def uniqueSets(leaf: LeafNode, declared: Set[Set[String]]): Iterator[Set[String]] =
    declared.iterator ++ FileEvidence.uniqueSets(leaf)

  /** CBO/catalog column stats, when the plan carries them. */
  private def statsNdv(a: Attribute, plan: LogicalPlan): Option[Long] =
    scala.util.Try(plan.stats.attributeStats.get(a)
      .flatMap(_.distinctCount).map(_.toLong)).toOption.flatten
}
