package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule: make interval (range) joins planable.
  *
  * An inner join whose only cross-side predicate is
  * `abs(a.x − b.x) <= tol` (x integral — epoch micros/days/sequence
  * numbers; tol a positive integral literal) has no equi key, so Spark
  * plans a BroadcastNestedLoopJoin — quadratic work and broadcast-bound,
  * the classic 100 TB cliff. This rule rewrites the join into the
  * bucketed equi-join [[graft.operators.RangeJoin]] applies by hand,
  * transparently, for any SQL/DataFrame user:
  *
  *  - bucket width = tol; the right side keys its own bucket
  *    `⌊x/tol⌋` (floor division, negative-safe via pmod);
  *  - the left side explodes to buckets {w−1, w, w+1} — every bucket a
  *    within-tolerance partner can occupy (|u−v| ≤ 1 ⇒ floors differ
  *    by ≤ 1);
  *  - the join becomes an equi-join on the bucket with the ORIGINAL
  *    predicate kept as a filter, so results are bit-identical and each
  *    true pair matches exactly once (the right row's bucket lies in
  *    exactly one of the left row's three).
  *
  * Cost: 3× replication of the (narrow) left side and a hash shuffle on
  * the bucket — linear, AQE-splittable. The rule leaves joins that
  * already have an equi conjunct untouched (they plan fine, and that
  * guard also makes the rewrite a fixed point: its own output contains
  * an equi key). Installed on every graft session through
  * [[GraftExtensions]]; `spark.sql.optimizer.excludedRules=
  * graft.plans.IntervalJoinRewrite` turns it off for a session.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val integral = Seq(ByteType, ShortType, IntegerType, LongType)

  /** Floor division ⌊x/tol⌋ as exact integral arithmetic:
    * (x − pmod(x, tol)) div tol. IntegralDivide truncates toward zero,
    * which would mis-bucket negative values; subtracting the positive
    * modulus first makes it a true floor. Everything in Long — no
    * double rounding at 1e18 epochs. */
  private def bucket(x: Expression, tol: Long): Expression = {
    val xl = Cast(x, LongType)
    val t = Literal(tol, LongType)
    Cast(IntegralDivide(Subtract(xl, Pmod(xl, t)), t), LongType)
  }

  /** Extract (leftExpr, rightExpr, tol) from an
    * `abs(x − y) <= tol`-shaped conjunct, sided against (l, r). */
  private def intervalConjunct(
      e: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Long)] = {
    def sided(x: Expression, y: Expression, tol: Long) =
      if (canEvaluate(x, l) && canEvaluate(y, r)) Some((x, y, tol))
      else if (canEvaluate(y, l) && canEvaluate(x, r)) Some((y, x, tol))
      else None
    def tolOf(lit: Literal): Option[Long] = lit match {
      case Literal(v: Long, LongType) if v > 0 => Some(v)
      case Literal(v: Int, IntegerType) if v > 0 => Some(v.toLong)
      case _ => None
    }
    e match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), lit: Literal)
          if integral.contains(x.dataType) && integral.contains(y.dataType) =>
        tolOf(lit).flatMap(t => sided(x, y, t))
      case GreaterThanOrEqual(lit: Literal, Abs(Subtract(x, y, _), _))
          if integral.contains(x.dataType) && integral.contains(y.dataType) =>
        tolOf(lit).flatMap(t => sided(x, y, t))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && left.resolved && right.resolved =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEquiKey = conjuncts.exists {
        case EqualTo(a, b) =>
          (canEvaluate(a, left) && canEvaluate(b, right)) ||
            (canEvaluate(b, left) && canEvaluate(a, right))
        case _ => false
      }
      val interval =
        if (hasEquiKey) None
        else conjuncts.iterator
          .flatMap(c => intervalConjunct(c, left, right)).nextOption()
      interval match {
        case None => j
        case Some((lx, rx, tol)) =>
          val base = bucket(lx, tol)
          val lBuckets = CreateArray(Seq(
            Subtract(base, Literal(1L)), base, Add(base, Literal(1L))))
          val genOut =
            AttributeReference("__ij_bucket_l", LongType, nullable = true)()
          val gen = Generate(
            Explode(lBuckets), unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(genOut), child = left)
          val rAlias = Alias(bucket(rx, tol), "__ij_bucket_r")()
          val rproj = Project(right.output :+ rAlias, right)
          val newCond = And(EqualTo(genOut, rAlias.toAttribute), cond)
          Project(j.output,
            Join(gen, rproj, Inner, Some(newCond), hint))
      }
  }
}
