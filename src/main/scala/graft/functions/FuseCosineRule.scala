package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: recognize the higher-order-function cosine formulation
  *
  * {{{
  *   aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, (acc, v) -> acc + v)
  *   / (sqrt(aggregate(zip_with(a, a, ...), 0.0, ...)) * sqrt(aggregate(zip_with(b, b, ...), 0.0, ...)))
  * }}}
  *
  * and fuse it into the codegen'd [[CosineSimilarity]] expression (one tight
  * loop, ~10× fewer virtual calls; bit-identical result on well-formed
  * inputs — both are left-folds in double, and [[CosineSimilarity]] mirrors
  * the HOF form's semantics mode-for-mode: unequal lengths or null elements
  * ⇒ NULL, and a zero divisor (empty / zero-norm vectors) ⇒ NULL under
  * LEGACY, DIVIDE_BY_ZERO under ANSI — so fusion fires under Spark 4's
  * ANSI default too).
  *
  * The match is strict about WHICH lambda variables feed the arithmetic:
  * the multiply must consume the zip lambda's own (x, y) in order, and the
  * merge must be acc + v over its own two variables — (x, y) -> x * x or
  * (acc, v) -> acc + acc are different computations and are left alone.
  *
  * Register per-session via `spark.experimental.extraOptimizations +=
  * FuseCosineRule` or cluster-wide with [[GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object FuseCosineRule extends Rule[LogicalPlan] {

  /** Unwrap a double-cast of a lambda variable. */
  private def castedVar(e: Expression): Option[NamedLambdaVariable] = e match {
    case c @ Cast(v: NamedLambdaVariable, _, _, _) if c.dataType == DoubleType => Some(v)
    case _ => None
  }

  /** Is `e` the canonical double left-fold dot product? Returns its two
    * array inputs when it is. */
  private def asDotFold(e: Expression): Option[(Expression, Expression)] = e match {
    case ArrayAggregate(
        ZipWith(left, right,
          LambdaFunction(Multiply(mx, my, _),
            Seq(zl: NamedLambdaVariable, zr: NamedLambdaVariable), _)),
        zero,
        LambdaFunction(Add(al: NamedLambdaVariable, ar: NamedLambdaVariable, _),
          Seq(accArg: NamedLambdaVariable, vArg: NamedLambdaVariable), _),
        // finish lambda must be the identity (the default)
        LambdaFunction(fin: NamedLambdaVariable, Seq(finArg: NamedLambdaVariable), _))
        if zero.foldable && zero.dataType == DoubleType && zero.eval() == 0.0 &&
          // multiply consumes the zip lambda's OWN variables, in order
          castedVar(mx).exists(_.exprId == zl.exprId) &&
          castedVar(my).exists(_.exprId == zr.exprId) &&
          // merge is acc + v over its own two distinct variables
          Set(al.exprId, ar.exprId) == Set(accArg.exprId, vArg.exprId) &&
          al.exprId != ar.exprId &&
          fin.exprId == finArg.exprId =>
      Some((left, right))
    case _ => None
  }

  private def sameArray(x: Expression, y: Expression): Boolean =
    x.canonicalized == y.canonicalized

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // LEGACY and ANSI divisions both fuse, each into a CosineSimilarity of
    // the SAME eval mode, so observable semantics are preserved: legacy
    // Divide returns NULL on a zero divisor (empty arrays, zero-norm,
    // underflow) and the LEGACY fused loop mirrors that; ANSI Divide throws
    // DIVIDE_BY_ZERO there and the ANSI fused loop throws the identical
    // error. The lambda arithmetic itself is mode-independent — double
    // multiply/add/cast never raise under ANSI. TRY divisions are left
    // alone (rare, and TryEval wrapping differs structurally anyway).
    // Property-tested in FuseCosineRuleSpec for both modes. (Spark 4.1
    // wraps the mode in NumericEvalContext.)
    case d @ Divide(dot, Multiply(Sqrt(na), Sqrt(nb), _), ctx: NumericEvalContext)
        if ctx.evalMode == EvalMode.LEGACY || ctx.evalMode == EvalMode.ANSI =>
      (asDotFold(dot), asDotFold(na), asDotFold(nb)) match {
        case (Some((a, b)), Some((a1, a2)), Some((b1, b2)))
            if isFloatArray(a) && isFloatArray(b) && // CosineSimilarity reads getFloat
              sameArray(a, a1) && sameArray(a1, a2) &&
              sameArray(b, b1) && sameArray(b1, b2) =>
          CosineSimilarity(a, b, ctx.evalMode)
        case _ => d // not the pattern: leave the ORIGINAL node (and its EvalMode) intact
      }
  }
}
