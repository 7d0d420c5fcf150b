package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{CalendarIntervalType, DayTimeIntervalType, IntegerType, LongType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Optimizer rule: rewrite a proximity theta-join — an inner join whose ONLY
  * cross-side predicate bounds the difference of the two sides, written
  * either `abs(a - b) <= r`, as the asymmetric band pair
  * `a - b <= r1 AND b - a <= r2`, or as the BETWEEN spelling users write
  * on timestamps (`b BETWEEN a - INTERVAL r AND a + INTERVAL r`, which
  * Catalyst expands to comparisons against `a + interval`) —
  * into a binned equi-join.
  *
  * Without it, Spark plans such a join as a BroadcastNestedLoopJoin (or a
  * cartesian product): every left row is checked against every right row,
  * O(n*m) — a scale-killer the reference never hits only because it has no
  * join operator at all (SURVEY §2.4). The rewrite is the classic interval
  * blocking scheme (same construction as the hand-written
  * ev_interval_join_binned, operators/EventOps.scala): bucket the axis into
  * bins of exactly the join radius `r`, keep the left row in its single bin
  * `a div r`, replicate each right row to the <= 3 bins its +-r window can
  * overlap (`sequence((b-r) div r, (b+r) div r)`), and join on bin equality
  * with the exact |a-b| <= r predicate as a residual filter. Integer
  * division is monotone, so `a div r` always lands inside that contiguous
  * bin range — no qualifying pair is lost — and the sequence's values are
  * distinct, so no pair is duplicated. The planner sees an equi-condition
  * and picks a shuffled hash/sort-merge join: data-parallel, skew handled
  * by AQE, no all-pairs blow-up.
  *
  * Scope guards (each keeps the rewrite strictly semantics-preserving):
  *  - inner joins only — outer variants would need null-extension care;
  *  - integral bin axis (int/long; timestamps enter via unix_micros);
  *  - no existing cross-side equi-conjunct (Spark already hash-joins on it,
  *    binning would only add a 3x replication for nothing);
  *  - radius is a foldable non-negative literal after constant folding.
  *
  * Boundary note: the replication arithmetic computes `b + up` / `b - down`,
  * so values within the radius of Long.MaxValue/MinValue overflow — under
  * ANSI mode (the Spark 4 default) that is a LOUD SparkArithmeticException,
  * never silent wrong bins. Domains that live at the extremes of long
  * (vanishingly rare for the time/measure axes this targets) should keep
  * the manual binned spelling; the alternative — widening every right row
  * to overflow-proof constant bin offsets — would cost ~66% extra
  * replication on every normal query to serve that corner.
  *
  * Installed per-session by [[graft.Engine.install]] or for every session
  * via `spark.sql.extensions=graft.plans.GraftExtensions`. The rule runs in
  * the operator-optimization batch; its output contains a cross-side
  * equi-conjunct, so it can never re-match its own rewrite (fixed-point
  * safe).
  */
object ProximityJoin extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEquiKey = conjuncts.exists {
        case EqualTo(a, b) => crossSide(a, b, j).isDefined
        case EqualNullSafe(a, b) => crossSide(a, b, j).isDefined
        case _ => false
      }
      val prox: Option[(Expression, Expression, Long, Long)] =
        if (hasEquiKey) None
        else absForm(conjuncts, j).orElse(bandForm(conjuncts, j))
      prox.map { case (leftExpr, rightExpr, up, down) =>
        rewrite(j, leftExpr, rightExpr, up, down, cond, hint)
      }.getOrElse(j)
  }

  /** `abs(a - b) <= r`: symmetric band, oriented so the first expression
    * belongs to the left plan side. Yields (l, r, up, down) meaning
    * l - r <= up AND r - l <= down. */
  private def absForm(conjuncts: Seq[Expression], j: Join):
      Option[(Expression, Expression, Long, Long)] =
    conjuncts.collectFirst { case ProximityPredicate(a, b, r) => (a, b, r) }
      .flatMap { case (a, b, r) =>
        crossSide(a, b, j).map { case (l, rr) => (l, rr, r, r) }
      }

  /** The asymmetric band spelling: a pair of conjuncts each bounding one
    * direction of the difference of the same (x, y) — written as
    * subtractions (`x - y <= r1 AND y - x <= r2`) or as comparisons
    * against a shifted value (`x <= y + r AND x >= y - r`, the form
    * BETWEEN expands to, on integers or on timestamps with interval
    * literals). Normalized to (l, r, up, down) with l from the left plan
    * side, meaning l - r <= up AND r - l <= down. */
  private def bandForm(conjuncts: Seq[Expression], j: Join):
      Option[(Expression, Expression, Long, Long)] = {
    val bounds = conjuncts.collect {
      case DiffBound(x, y, r) => (x, y, r)
      case ShiftBound(x, y, r) => (x, y, r)
    }
    val pairs = for {
      (x1, y1, r1) <- bounds
      (x2, y2, r2) <- bounds
      if x1.semanticEquals(y2) && y1.semanticEquals(x2)
      // both half-bands must be non-negative: a shifted band (e.g.
      // x in [y+1min, y+5min]) would need offset binning — out of scope
      if r1 >= 0 && r2 >= 0 && math.max(r1, r2) > 0
    } yield (x1, y1, r1, r2) // x1 - y1 <= r1, y1 - x1 <= r2
    pairs.flatMap { case (x, y, up, down) =>
      crossSide(x, y, j).map { case (l, r) =>
        // crossSide may have swapped the pair: bounds swap with it
        if (l eq x) (l, r, up, down) else (l, r, down, up)
      }
    }.headOption
  }

  /** Orient (a, b) so the first element only references `left` and the
    * second only `right`; None when either side mixes or is unbound. */
  private def crossSide(a: Expression, b: Expression, j: Join): Option[(Expression, Expression)] =
    if (a.references.nonEmpty && b.references.nonEmpty &&
      a.references.subsetOf(j.left.outputSet) && b.references.subsetOf(j.right.outputSet))
      Some((a, b))
    else if (a.references.nonEmpty && b.references.nonEmpty &&
      a.references.subsetOf(j.right.outputSet) && b.references.subsetOf(j.left.outputSet))
      Some((b, a))
    else None

  /** `abs(a - b) <= r` in either comparison orientation, strict or not
    * (strict < r is still covered by <= r bins; the original predicate
    * rides along as the exact residual). */
  private object ProximityPredicate {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = e match {
      case LessThanOrEqual(AbsDiff(a, b), Radius(r)) => Some((a, b, r))
      case LessThan(AbsDiff(a, b), Radius(r)) => Some((a, b, r))
      case GreaterThanOrEqual(Radius(r), AbsDiff(a, b)) => Some((a, b, r))
      case GreaterThan(Radius(r), AbsDiff(a, b)) => Some((a, b, r))
      case _ => None
    }
  }

  private object AbsDiff {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Abs(Subtract(a, b, _), _) if integral(a) && integral(b) => Some((a, b))
      case _ => None
    }
  }

  private object Radius {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) if v > 0 => Some(v)
      case Literal(v: Int, IntegerType) if v > 0 => Some(v.toLong)
      case _ => None
    }
  }

  /** One half of the band spelling: `x - y <= r` (any comparison
    * orientation, strict or not). */
  private object DiffBound {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = e match {
      case LessThanOrEqual(Subtract(x, y, _), Radius(r)) if integral(x) && integral(y) => Some((x, y, r))
      case LessThan(Subtract(x, y, _), Radius(r)) if integral(x) && integral(y) => Some((x, y, r))
      case GreaterThanOrEqual(Radius(r), Subtract(x, y, _)) if integral(x) && integral(y) => Some((x, y, r))
      case GreaterThan(Radius(r), Subtract(x, y, _)) if integral(x) && integral(y) => Some((x, y, r))
      case _ => None
    }
  }

  /** `y + v` in axis units: integer add/subtract of a literal, or a
    * timestamp shifted by a fixed interval literal (what `ts - INTERVAL r`
    * optimizes to — TimestampAddInterval with a negated literal). */
  private object ShiftedValue {
    def unapply(e: Expression): Option[(Expression, Long)] = e match {
      case Add(y, ShiftLit(v), _) if integral(y) => Some((y, v))
      case Add(ShiftLit(v), y, _) if integral(y) => Some((y, v))
      case Subtract(y, ShiftLit(v), _) if integral(y) => Some((y, -v))
      case TimestampAddInterval(y, IntervalMicros(v), _)
        if y.dataType == TimestampType => Some((y, v))
      case _ => None
    }
  }

  private object ShiftLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ => None
    }
  }

  /** A fixed-duration interval literal, in microseconds. Month-bearing
    * calendar intervals are NOT fixed shifts — rejected. Day-time interval
    * days are fixed 24 h in Spark, so they qualify. */
  private object IntervalMicros {
    private val MicrosPerDay = 86400000000L
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, _: DayTimeIntervalType) => Some(v)
      case Literal(ci: CalendarInterval, CalendarIntervalType) if ci.months == 0 =>
        Some(ci.days * MicrosPerDay + ci.microseconds)
      case _ => None
    }
  }

  /** One half-band written as a comparison against a shifted value:
    * normalized to (x, y, b) meaning x - y <= b (b may be negative).
    * Strict comparisons normalize to the same non-strict bound — the bins
    * are a superset and the original predicate rides along as the exact
    * residual. */
  private object ShiftBound {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = e match {
      case LessThanOrEqual(x, ShiftedValue(y, v)) if sameAxis(x, y) => Some((x, y, v))
      case LessThan(x, ShiftedValue(y, v)) if sameAxis(x, y) => Some((x, y, v))
      case GreaterThanOrEqual(x, ShiftedValue(y, v)) if sameAxis(x, y) => Some((y, x, -v))
      case GreaterThan(x, ShiftedValue(y, v)) if sameAxis(x, y) => Some((y, x, -v))
      case LessThanOrEqual(ShiftedValue(y, v), x) if sameAxis(x, y) => Some((y, x, -v))
      case LessThan(ShiftedValue(y, v), x) if sameAxis(x, y) => Some((y, x, -v))
      case GreaterThanOrEqual(ShiftedValue(y, v), x) if sameAxis(x, y) => Some((x, y, v))
      case GreaterThan(ShiftedValue(y, v), x) if sameAxis(x, y) => Some((x, y, v))
      case _ => None
    }
  }

  private def sameAxis(x: Expression, y: Expression): Boolean =
    (integral(x) && integral(y)) ||
      (x.dataType == TimestampType && y.dataType == TimestampType)

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** The binnable long value of an axis expression; timestamps bin on
    * their microsecond value (a reinterpret, not a conversion — matching
    * the microsecond radii IntervalMicros extracts). */
  private def asLong(e: Expression): Expression = e.dataType match {
    case LongType => e
    case TimestampType => UnixMicros(e)
    case _ => Cast(e, LongType)
  }

  /** Bin-bucket the join: the left row's value l satisfies
    * l in [r - down, r + up], so with bin width w = max(up, down) the left
    * row keeps its single `l div w` bin and the right row is replicated to
    * the <= 4 bins `(r - down) div w .. (r + up) div w` (contiguous by
    * monotonicity of integer division; distinct, so no pair duplicates). */
  private def rewrite(j: Join, leftExpr: Expression, rightExpr: Expression,
      up: Long, down: Long, cond: Expression, hint: JoinHint): LogicalPlan = {
    val width = Literal(math.max(up, down), LongType)
    // left row -> its single bin
    val binL = Alias(IntegralDivide(asLong(leftExpr), width), "graft_prox_bin")()
    val newLeft = Project(j.left.output :+ binL, j.left)
    val binRAttr = AttributeReference("graft_prox_bin_r", LongType,
      nullable = true)()
    // Sequence is TimeZoneAwareExpression: without an explicit zone the
    // expression stays unresolved and plan validation rejects the rewrite
    val seq = Sequence(
      IntegralDivide(Subtract(asLong(rightExpr), Literal(down, LongType)), width),
      IntegralDivide(Add(asLong(rightExpr), Literal(up, LongType)), width),
      Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))
    val newRight = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binRAttr), j.right)
    val newCond = And(EqualTo(binL.toAttribute, binRAttr), cond)
    // restore the original join schema (drop both bin columns)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
  }
}
