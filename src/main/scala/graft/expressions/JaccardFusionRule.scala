package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, Size}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** Optimizer rule: fuse the naive Jaccard formulation
  *
  *   size(array_intersect(a, b)) / size(array_union(a, b))
  *
  * (with optional double casts, as Catalyst inserts for the division)
  * into the single-pass [[StringSetJaccard]] expression whenever both
  * inputs are ARRAY<STRING> and the two set-ops see the same children.
  *
  * This is the engine's Catalyst extension showcase: users write the
  * declarative form; the optimizer picks the fused kernel — identical
  * integers (both the set-ops and the kernel dedup their inputs), two
  * small hash sets instead of two general set-expressions per row.
  * Installed by GraftExtensions.register (extraOptimizations); fires
  * only when both children are deterministic and the (a, b) pair is
  * semantically identical across the intersect and union.
  */
object JaccardFusionRule extends Rule[LogicalPlan] {

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  private object MaybeCast {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(child, DoubleType, _, _) => Some(child)
      case other => Some(other)
    }
  }

  private def fuse(e: Expression): Expression = e match {
    case Divide(
        MaybeCast(Size(ArrayIntersect(a1, b1), _)),
        MaybeCast(Size(ArrayUnion(a2, b2), _)), _)
        if a1.semanticEquals(a2) && b1.semanticEquals(b2) &&
          a1.deterministic && b1.deterministic &&
          isStringArray(a1) && isStringArray(b1) =>
      StringSetJaccard(a1, b1) // already DoubleType
    case other => other.mapChildren(fuse)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions { case e => fuse(e) }
}
