package graft.plans

import graft.functions.expressions.JaroWinkler

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** Optimizer rule: strengthen high-threshold Jaro-Winkler filters with a
  * free length-ratio pre-filter — the [[LevenshteinPrefilter]] discipline
  * applied to the fuzzy-match scorer every ER path pays per candidate.
  *
  * Soundness: with m <= min(|a|,|b|) matching characters,
  * jaro <= (1 + min/max + 1)/3, and the Winkler boost (prefix <= 4,
  * p = 0.1) gives jw <= jaro + 0.4(1-jaro), so
  * `jw >= t  =>  min(|a|,|b|) / max(|a|,|b|) >= 5t - 4`. For t > 0.8 the
  * bound is positive and the O(1) length comparison rejects
  * wildly-different-length candidate pairs inside the same
  * WholeStageCodegen stage, before the O(|a|·|b|) scorer runs. A 1e-9
  * slack keeps the exact-boundary pair on the safe side of double
  * rounding — the conjunct must only ever be IMPLIED by the original.
  *
  * Honest expectation: the win is bounded (~10-15% measured on
  * document-scale candidates, rule off vs on) because the
  * pruned pairs are the CHEAP ones — the scorer's cost is min*window,
  * which is small exactly when the length ratio fails. The rule stays on
  * because the conjunct is free, the saving is real at candidate-join
  * row counts, and at 100 TB a 10% cut of the single most expensive
  * per-row scorer is worth a zero-risk rewrite.
  *
  * Matched shapes (the forms the er1/er2/dd paths emit):
  * `jw >= t`, `fround(jw, d) >= t` (floor(jw*10^d)/10^d), and the
  * integer-unit `cast(floor(jw * 10^d) as long) >= u` — each unwrapped
  * through the monotone floor/multiply/divide/cast tower to the implied
  * lower bound on the raw jw. All wrappers are nonneg-monotone here
  * because jw >= 0 and every scale literal is positive; the unwrap
  * requires a positive running bound so truncation stays floor.
  *
  * Semantics-preserving incl. nulls (a null input nulls the added
  * conjunct exactly as it nulls the original), so ON by default; kill
  * switch `graft.jaroWinklerPrefilter.enabled=false`. Idempotent: a
  * filter already carrying the implied bound is left alone.
  */
case class JaroWinklerPrefilter(spark: SparkSession) extends Rule[LogicalPlan] {

  val FlagKey = "graft.jaroWinklerPrefilter.enabled"

  private def enabled: Boolean =
    spark.conf.getOption(FlagKey).forall(java.lang.Boolean.parseBoolean)

  private def litD(e: Expression): Option[Double] = e match {
    case Literal(v, _: NumericType) =>
      Option(v).map(x => x.toString.toDouble)
    case _ => None
  }

  /** Unwrap `e >= v` down to a lower bound on the raw JaroWinkler.
    * Only positive bounds and positive scale literals — that keeps every
    * wrapper monotone-nondecreasing on the nonnegative range. */
  private def jwLowerBound(e: Expression, v: Double): Option[(JaroWinkler, Double)] =
    if (!(v > 0) || !e.deterministic) None
    else e match {
      case jw: JaroWinkler => Some((jw, v))
      case Floor(e1) => jwLowerBound(e1, v) // floor(x) >= v  =>  x >= v
      case Cast(e1, _: NumericType, _, _) =>
        jwLowerBound(e1, v) // trunc == floor on the nonneg range
      case Multiply(e1, c, _) if litD(c).exists(_ > 0) =>
        jwLowerBound(e1, v / litD(c).get)
      case Multiply(c, e1, _) if litD(c).exists(_ > 0) =>
        jwLowerBound(e1, v / litD(c).get)
      case Divide(e1, c, _) if litD(c).exists(_ > 0) =>
        jwLowerBound(e1, v * litD(c).get)
      case _ => None
    }

  private def bound(jw: JaroWinkler, t: Double): Expression = {
    val la = Cast(Length(jw.left), DoubleType)
    val lb = Cast(Length(jw.right), DoubleType)
    GreaterThanOrEqual(Cast(Least(Seq(la, lb)), DoubleType),
      Multiply(Literal(5.0 * t - 4.0 - 1e-9),
        Cast(Greatest(Seq(la, lb)), DoubleType)))
  }

  private def eligible(jw: JaroWinkler, t: Double): Boolean =
    t > 0.8 && jw.left.deterministic && jw.right.deterministic

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformWithPruning(_.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.FILTER)) {
      case f @ Filter(cond, child) =>
        val augmented = cond.transformUp {
          case cmp @ GreaterThanOrEqual(e, k) if litD(k).isDefined =>
            strengthen(cond, cmp, e, litD(k).get)
          case cmp @ LessThanOrEqual(k, e) if litD(k).isDefined =>
            strengthen(cond, cmp, e, litD(k).get)
          case cmp @ GreaterThan(e, k) if litD(k).isDefined =>
            // x > v  =>  x >= v: reuse the closed bound (still implied)
            strengthen(cond, cmp, e, litD(k).get)
          case cmp @ LessThan(k, e) if litD(k).isDefined =>
            strengthen(cond, cmp, e, litD(k).get)
        }
        if (augmented.fastEquals(cond)) f else Filter(augmented, child)
    }

  private def strengthen(cond: Expression, cmp: Expression, e: Expression,
      v: Double): Expression =
    jwLowerBound(e, v) match {
      case Some((jw, t)) if eligible(jw, t) && !hasBound(cond, jw, t) =>
        And(bound(jw, t), cmp)
      case _ => cmp
    }

  private def hasBound(cond: Expression, jw: JaroWinkler, t: Double): Boolean = {
    val b = bound(jw, t)
    cond.exists(_.semanticEquals(b))
  }
}
