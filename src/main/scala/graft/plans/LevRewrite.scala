package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: bound edit-distance predicates.
  *
  * `levenshtein(a, b) <= k` evaluates the full O(|a|·|b|) DP matrix for
  * EVERY candidate pair, even though the predicate only needs to know
  * whether the distance exceeds k. Spark ships an early-exit thresholded
  * kernel (the 3-arg `levenshtein(a, b, k)`, O(k·min(|a|,|b|)), returns
  * -1 past the threshold) but never rewrites the unbounded form into it.
  * This rule does, and prepends the free short-circuit
  * `abs(length(a) - length(b)) <= k` (the length difference lower-bounds
  * edit distance), so most candidates die on two length reads:
  *
  *   lev(a, b) <= k   ≡   |len(a)-len(b)| <= k  AND  lev(a, b, k) >= 0
  *
  * At a 100 TB fuzzy-verify stage this is the difference between a
  * full DP per candidate pair and a constant-time reject for all but the
  * near-misses — the optimization `ops.TextOps.fuzzyPairs` hand-codes,
  * applied automatically to migrated SQL (`WHERE levenshtein(x, y) <= 2`)
  * through the session extension point.
  *
  * Deploy cluster-wide via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (the documented SparkSessionExtensions path) or on a live session via
  * `LevRewrite.enable(spark)` (the public experimental-methods hook).
  * The rewrite only fires on non-negative integer literal thresholds and
  * is idempotent (the thresholded form no longer matches the pattern).
  */
object LevRewrite extends SessionRule with PredicateHelper {

  /** An unbounded levenshtein call, seen through the LongType cast the
    * analyzer inserts when the threshold literal is a BIGINT. */
  private object UnboundedLev {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Levenshtein(a, b, None) => Some((a, b))
      case Cast(Levenshtein(a, b, None), LongType, _, _) => Some((a, b))
      case _ => None
    }
  }

  /** A non-negative integral literal threshold (INT, or BIGINT within
    * Int range — the thresholded kernel takes an Int). */
  private object IntThreshold {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) if v >= 0 => Some(v)
      case Literal(v: Long, LongType) if v >= 0L && v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
  }

  private def bounded(a: Expression, b: Expression, k: Int): Expression =
    And(
      LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), Literal(k)),
      GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0)))

  /** lev(a,b) <= k → |len(a)-len(b)| <= k AND lev(a,b,k) >= 0, in all
    * four comparison orientations (and the strict forms via k-1). */
  private def rewrite(e: Expression): Expression = e transformUp {
    case LessThanOrEqual(UnboundedLev(a, b), IntThreshold(k)) => bounded(a, b, k)
    case GreaterThanOrEqual(IntThreshold(k), UnboundedLev(a, b)) => bounded(a, b, k)
    case LessThan(UnboundedLev(a, b), IntThreshold(k)) if k >= 1 => bounded(a, b, k - 1)
    case GreaterThan(IntThreshold(k), UnboundedLev(a, b)) if k >= 1 => bounded(a, b, k - 1)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val next = rewrite(cond)
      if (next fastEquals cond) f else Filter(next, child)
    // earlier optimizer batches push filter predicates into join
    // conditions (the fuzzy-verify shape lands here as a Join residual)
    case j @ Join(_, _, _, Some(cond), _) =>
      val next = rewrite(cond)
      if (next fastEquals cond) j else j.copy(condition = Some(next))
  }
}
