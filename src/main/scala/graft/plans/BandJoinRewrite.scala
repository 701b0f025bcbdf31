package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite naive BAND joins into the bucketed
  * range-join shape, so users who write the obvious condition get the
  * scale-safe plan. It is the engine's one band-join implementation
  * (a02 is written as the plain join and planned here).
  *
  * The obvious spelling —
  *
  *   left.join(right, keys && r.t >= l.t - 3600 && r.t <= l.t)
  *
  * — plans as an equi-join on the keys with the band as a post-join
  * filter: every left×right pair of a key materializes before the
  * band prunes (the hot-key quadratic), and with NO key equality it
  * degenerates to a BroadcastNestedLoopJoin over the full cross
  * product. This rule detects a conjunctive band `r.t − l.t ∈
  * [lower, upper]` between two LONG attributes (one per side, literal
  * offsets, strict bounds tightened by ±1), and rewrites:
  *
  *  - bucket width w = max(upper − lower, 1); every right row gets
  *    ONE bucket `floor(t/w)`; every left row explodes to the (≤2,
  *    distinct) buckets of its window endpoints — a width-w window
  *    spans at most two width-w buckets, so candidates are complete,
  *    and distinct endpoint buckets × single right bucket means no
  *    pair is produced twice;
  *  - the join gains the bucket equality (hash-join key) and keeps
  *    the ORIGINAL condition as residual — semantics are unchanged,
  *    only the candidate set shrinks from per-key-quadratic to the
  *    rows actually near each other in time;
  *  - a final Project restores the original output attributes.
  *
  * Fences: inner joins only; both times LongType (the engine's
  * epoch-µs convention — timestamp bands belong to the streaming
  * range join's watermark machinery); skips joins it already
  * bucketed (a `_graft_bucket` attribute in the condition — what
  * makes the rule idempotent under fixpoint); skips streaming
  * plans; arithmetic that would overflow a Long abandons the rewrite
  * rather than corrupt it.
  *
  * Registration: `spark.sql.extensions=graft.GraftExtensions` (conf
  * deployments) or [[graft.GraftSession]] sessions, which install it
  * via `experimental.extraOptimizations`.
  */
object BandJoinRewrite extends Rule[LogicalPlan] {

  /** `attr + offset` view of a comparison operand. */
  private case class Linear(attr: Attribute, offset: Long)

  private def linear(e: Expression): Option[Linear] = e match {
    case a: Attribute if a.dataType == LongType => Some(Linear(a, 0L))
    case Add(l, Literal(c: Long, LongType), _) =>
      linear(l).map(x => x.copy(offset = Math.addExact(x.offset, c)))
    case Add(Literal(c: Long, LongType), r, _) =>
      linear(r).map(x => x.copy(offset = Math.addExact(x.offset, c)))
    case Subtract(l, Literal(c: Long, LongType), _) =>
      linear(l).map(x => x.copy(offset = Math.subtractExact(x.offset, c)))
    case _ => None
  }

  /** A conjunct as a bound on `rt − lt` for a (leftAttr, rightAttr)
    * pair: Right(=upper) / Left(=lower) tagged by `isLower`. */
  private case class Bound(lt: Attribute, rt: Attribute, isLower: Boolean, c: Long)

  private def boundOf(e: Expression, leftOut: AttributeSet,
                      rightOut: AttributeSet): Option[Bound] = {
    def classify(x: Linear, y: Linear, geq: Boolean, strictAdj: Long): Option[Bound] =
      if (rightOut.contains(x.attr) && leftOut.contains(y.attr)) {
        // rt + cx  (>=|<=)  lt + cy   →   rt − lt (>=|<=) cy − cx
        val c = Math.subtractExact(y.offset, x.offset)
        Some(Bound(y.attr, x.attr, isLower = geq, Math.addExact(c, strictAdj)))
      } else if (leftOut.contains(x.attr) && rightOut.contains(y.attr)) {
        // lt + cx  (>=|<=)  rt + cy   →   rt − lt (<=|>=) cx − cy
        val c = Math.subtractExact(x.offset, y.offset)
        Some(Bound(x.attr, y.attr, isLower = !geq, Math.addExact(c, strictAdj)))
      } else None
    val r = e match {
      case GreaterThanOrEqual(x, y) =>
        for (lx <- linear(x); ly <- linear(y); b <- classify(lx, ly, geq = true, 0L)) yield b
      case LessThanOrEqual(x, y) =>
        for (lx <- linear(x); ly <- linear(y); b <- classify(lx, ly, geq = false, 0L)) yield b
      case GreaterThan(x, y) =>
        // integral strict bound tightens by one: rt − lt > c ⇔ ≥ c+1;
        // rt − lt < c ⇔ ≤ c−1 (sign handled via the geq flag below)
        for (lx <- linear(x); ly <- linear(y);
             b <- classify(lx, ly, geq = true, 0L))
          yield b.copy(c = Math.addExact(b.c, if (b.isLower) 1L else -1L))
      case LessThan(x, y) =>
        for (lx <- linear(x); ly <- linear(y);
             b <- classify(lx, ly, geq = false, 0L))
          yield b.copy(c = Math.addExact(b.c, if (b.isLower) 1L else -1L))
      case _ => None
    }
    r
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** floor(t/w) for possibly-negative t: numerator is an exact
    * multiple of w, so truncating integral division equals floor. */
  private def bucketOf(t: Expression, w: Long): Expression = {
    val wl = Literal(w, LongType)
    IntegralDivide(Subtract(t, Pmod(t, wl)), wl)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !j.isStreaming &&
          !cond.references.exists(_.name.startsWith("_graft_bucket")) =>
      val found = try {
        val bounds = splitConjuncts(cond)
          .flatMap(boundOf(_, left.outputSet, right.outputSet))
        bounds.groupBy(b => (b.lt, b.rt)).collectFirst {
          case ((lt, rt), bs)
              if bs.exists(_.isLower) && bs.exists(!_.isLower) =>
            val lower = bs.filter(_.isLower).map(_.c).max
            val upper = bs.filterNot(_.isLower).map(_.c).min
            (lt, rt, lower, upper)
        }.filter { case (_, _, lower, upper) => upper >= lower }
      } catch { case _: ArithmeticException => None }
      found match {
        case None => j
        case Some((lt, rt, lower, upper)) =>
          val w = math.max(Math.subtractExact(upper, lower), 1L)
          val lBuckets = ArrayDistinct(CreateArray(Seq(
            bucketOf(Add(lt, Literal(lower, LongType)), w),
            bucketOf(Add(lt, Literal(upper, LongType)), w))))
          val lBucket = AttributeReference("_graft_bucket_l", LongType)()
          val genLeft = Generate(Explode(lBuckets), unrequiredChildIndex = Nil,
            outer = false, qualifier = None,
            generatorOutput = Seq(lBucket), child = left)
          val rAlias = Alias(bucketOf(rt, w), "_graft_bucket_r")()
          val projRight = Project(right.output :+ rAlias, right)
          val newJoin = Join(genLeft, projRight, Inner,
            Some(And(cond, EqualTo(lBucket, rAlias.toAttribute))), hint)
          Project(j.output, newJoin)
      }
  }
}
