package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: rewrite a naive point-in-interval join into the
  * bucketed range join of [[graft.operators.RangeJoin]] — automatically.
  *
  * A user writing the obvious form
  * {{{
  * points.join(intervals,
  *   points("k") === intervals("k") &&
  *   points("ts") >= intervals("lo") && points("ts") <= intervals("hi"))
  * }}}
  * gets a `BroadcastNestedLoopJoin` (or cartesian) from Catalyst, because
  * the planner only extracts EQUI keys — the range conjuncts leave
  * nothing hashable beyond `k`, and a hot key degenerates to per-key
  * all-pairs. This rule detects the shape — at least one cross-side
  * equality, plus a lower and upper bound tying ONE timestamp from one
  * side between two timestamps from the other — and rewrites:
  * point side gains `__graft_bin = floor(us/binWidth)`, interval side
  * explodes one row per covered bin (`Sequence` + `Generate`), the join
  * becomes an ordinary hash equi-join on (keys..., bin), and the exact
  * range conjuncts (and any other residual conjuncts) move to a filter
  * above it. Correctness: a point lands in exactly one bin and an
  * interval covers each of its bins once, so the equi-join produces
  * each qualifying pair exactly once — same pair set, no distinct
  * needed; `end >= start` intervals only (a pre-filter drops reversed
  * spans, which could not match anyway).
  *
  * Run as an injected operator-optimization rule, so Catalyst's own
  * pushdown re-pushes any residual single-side conjuncts afterwards.
  * The marker attribute name prevents re-matching at fixed point (the
  * filter's range predicates can be merged back into the join
  * condition by PushDownPredicates — that join already carries the
  * bin equality and is exactly the plan we want, so it must not be
  * re-bucketed).
  *
  * Over-wide intervals (`spark.graft.rangeJoin.maxBinsPerInterval`,
  * default 10000): an SCD-style sentinel end date (`valid_to =
  * '9999-12-31'`) spans ~1.4e8 bins at the default width — a single
  * `Sequence` allocation of ~1 GB per interval row, an OOM the naive
  * (slow) plan would not have had. The rewrite therefore SPLITS the
  * interval side on bin span: spans ≤ maxBins take the bucketed
  * equi-join; wider spans keep the ORIGINAL theta-join shape (never
  * worse than the pre-rewrite plan — it IS the pre-rewrite plan,
  * restricted to the few wide rows) and the two branches union. With
  * AQE on, `PropagateEmptyRelation` collapses the fallback branch at
  * runtime when no over-wide interval exists, so the second scan of
  * the point side is only paid when sentinel rows are present. The
  * fallback join is protected from re-bucketing at fixed point by a
  * STRUCTURAL marker — the span-guard Filter it sits on — because no
  * attribute- or condition-based marker survives the optimizer (see
  * [[isSpanGuard]]).
  *
  * Binning is exact integer floor division on `unix_micros`
  * (`(us − pmod(us, w)) div w`), not double division — a double
  * mantissa exhausts at ~2^53 µs (~year 2255), after which
  * `floor(us/1.8e9)` bins skew.
  *
  * Guards: inner joins only; TIMESTAMP bounds; skipped when both sides
  * stream (the stateful stream-stream form needs watermark-bounded
  * conditions INSIDE the join — see EventStreams.streamingAttribution);
  * disable with `spark.graft.rangeJoin.rewrite=false`. Bins are a fixed
  * 1800 s wide, the default of RangeJoin.intervalJoin.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val Marker = "__graft_bin"

  private def enabled: Boolean =
    conf.getConfString("spark.graft.rangeJoin.rewrite", "true").toBoolean
  private val BinUs = 1800L * 1000000L
  private def maxBins: Long =
    conf.getConfString("spark.graft.rangeJoin.maxBinsPerInterval", "10000").toLong

  /** Exact floor(unix_micros(ts) / BinUs) as integer arithmetic:
    * `(us − pmod(us, w)) div w`. The pmod makes truncating division a
    * true floor for pre-epoch timestamps; integer div keeps bins exact
    * past the ~2^53 µs limit where double division starts to skew.
    * Same expression RangeJoin.intervalJoin builds via the Column API.
    */
  private def binOf(ts: Expression): Expression = {
    val us = UnixMicros(ts)
    val w = Literal(BinUs)
    IntegralDivide(Subtract(us, Pmod(us, w)), w)
  }

  private case class Shape(
      equalities: Seq[Expression], ts: Expression,
      lo: Expression, hi: Expression, residual: Seq[Expression],
      pointsLeft: Boolean)

  /** The fallback branch's fixed-point marker: a Filter conjunct of the
    * exact shape the rewrite plants on the over-wide interval side —
    * `(binOf(hi) − binOf(lo)) > maxBins`, i.e. a GreaterThan over a
    * Subtract of two IntegralDivides against a literal. Attribute-name
    * markers don't survive here (a literal-true column is inlined by
    * FoldablePropagation; single-side conjuncts are pushed out of the
    * join condition), but a Filter NODE on a join input can only be
    * pushed further down, never removed, so this structural check is
    * stable at fixed point. A user plan stacking a second range join on
    * top of a rewritten one would also be declined — a missed
    * optimization in that rare nesting, never a correctness issue.
    */
  private def isSpanGuard(e: Expression): Boolean = e match {
    case GreaterThan(Subtract(_: IntegralDivide, _: IntegralDivide, _), _: Literal) => true
    case _ => false
  }
  private def hasSpanGuard(p: LogicalPlan): Boolean = p.exists {
    case Filter(c, _) => splitConjunctivePredicates(c).exists(isSpanGuard)
    case _ => false
  }

  /** Extract the range-join shape with the point side identified, or None. */
  private def matchShape(cond: Expression, left: LogicalPlan,
                         right: LogicalPlan): Option[Shape] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.exists(_.references.exists(_.name.startsWith(Marker))))
      return None // already rewritten; bounds merged back are fine as-is
    if (hasSpanGuard(left) || hasSpanGuard(right))
      return None // our own fallback branch — do not re-bucket it
    def sideOf(e: Expression): Option[Boolean] = // Some(true)=left only
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(left.outputSet)) Some(true)
      else if (e.references.subsetOf(right.outputSet)) Some(false)
      else None
    val equalities = conjuncts.filter {
      case EqualTo(a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
      case _ => false
    }
    if (equalities.isEmpty) return None
    // normalize bounds to (ts >= lo) / (ts <= hi) candidate pairs
    def asLower(e: Expression): Option[(Expression, Expression)] = e match {
      case GreaterThanOrEqual(t, l) => Some((t, l))
      case LessThanOrEqual(l, t) => Some((t, l))
      case _ => None
    }
    def asUpper(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThanOrEqual(t, h) => Some((t, h))
      case GreaterThanOrEqual(h, t) => Some((t, h))
      case _ => None
    }
    val rest = conjuncts.filterNot(equalities.contains)
    val lowers = rest.flatMap(c => asLower(c).map(c -> _))
    val uppers = rest.flatMap(c => asUpper(c).map(c -> _))
    // find a (lower, upper) pair over the same cross-side ts expression
    val hit = (for {
      (lc, (ts1, lo)) <- lowers.iterator
      (uc, (ts2, hi)) <- uppers.iterator
      if lc != uc && ts1.semanticEquals(ts2)
      if ts1.dataType == TimestampType &&
        lo.dataType == TimestampType && hi.dataType == TimestampType
      tsSide <- sideOf(ts1); loSide <- sideOf(lo); hiSide <- sideOf(hi)
      if loSide == hiSide && tsSide != loSide
    } yield (lc, uc, ts1, lo, hi, tsSide)).buffered.headOption
    hit.map { case (lc, uc, ts, lo, hi, tsSide) =>
      Shape(equalities, ts, lo, hi,
        rest.filterNot(c => c == lc || c == uc), tsSide)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if !(left.isStreaming && right.isStreaming) =>
        matchShape(cond, left, right) match {
          case None => j
          case Some(s) =>
            val (points, intervals) =
              if (s.pointsLeft) (left, right) else (right, left)
            // interval side: drop reversed spans (they cannot match and
            // Sequence would throw), then split on bin span
            val ivFiltered =
              Filter(GreaterThanOrEqual(s.hi, s.lo), intervals)
            val span = Subtract(binOf(s.hi), binOf(s.lo))
            // --- bucketed branch: spans that explode into ≤ maxBins ---
            val shortIv = Filter(LessThanOrEqual(span, Literal(maxBins)),
              ivFiltered)
            val pBin = Alias(binOf(s.ts), s"${Marker}_p")()
            val pointsB = Project(points.output :+ pBin, points)
            val seq = Sequence(
              binOf(s.lo), binOf(s.hi), None, Some(conf.sessionLocalTimeZone))
            val iBinAttr = AttributeReference(s"${Marker}_i", LongType,
              nullable = false)()
            val intervalsB = Generate(Explode(seq), Nil, outer = false,
              qualifier = None, generatorOutput = Seq(iBinAttr), shortIv)
            val binEq = EqualTo(pBin.toAttribute, iBinAttr)
            val newCond = (s.equalities :+ binEq).reduce(And)
            val (newLeft, newRight) =
              if (s.pointsLeft) (pointsB, intervalsB) else (intervalsB, pointsB)
            val joined = Join(newLeft, newRight, Inner, Some(newCond), hint)
            val post = (Seq(
              GreaterThanOrEqual(s.ts, s.lo), LessThanOrEqual(s.ts, s.hi))
              ++ s.residual).reduce(And)
            val bucketed = Project(j.output, Filter(post, joined))
            // --- fallback branch: over-wide intervals (sentinel end
            // dates) keep the ORIGINAL theta-join shape, restricted to
            // the wide rows. The span-guard Filter below this join is
            // itself the fixed-point marker: matchShape declines any
            // join whose subtree contains it (see hasSpanGuard).
            val longIv = Filter(GreaterThan(span, Literal(maxBins)),
              ivFiltered)
            val (fbLeft, fbRight) =
              if (s.pointsLeft) (points, longIv) else (longIv, points)
            val fallback =
              Project(j.output, Join(fbLeft, fbRight, Inner, Some(cond), hint))
            Union(bucketed, fallback)
        }
    }
  }
}
