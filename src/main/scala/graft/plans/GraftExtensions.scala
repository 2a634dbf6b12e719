package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, LambdaFunction, Literal, Multiply, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.DotProduct

/** Optimizer rule: fuse the higher-order dot-product pattern
  *
  *   aggregate(zip_with(a, b, (x, y) => x·y), 0.0, (acc, v) => acc+v)
  *
  * into the codegen'd DotProduct expression. The HOF form is
  * interpreted (higher-order functions don't participate in
  * whole-stage codegen) and allocates the zipped intermediate array
  * per row; the fused expression is a single generated loop over both
  * ArrayData buffers. Numerics and NULL behavior are replicated
  * exactly (see DotProduct), so plans rewrite invisibly — the DuckDB
  * oracle results are bit-identical with the rule on or off.
  *
  * The match is deliberately conservative: float-array inputs, a
  * multiply of exactly the two lambda variables (possibly cast to
  * double), a 0.0 literal zero, a plain acc+v merge, and an identity
  * finish. Anything else is left untouched.
  */
object FuseDotProduct extends Rule[LogicalPlan] {

  /** The lambda variable itself, or the variable under a cast to double. */
  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case c: Cast if c.dataType == DoubleType => isVar(c.child, v)
    case x: NamedLambdaVariable => x.exprId == v.exprId
    case _ => false
  }

  private def floatArrays(l: Expression, r: Expression): Boolean =
    (l.dataType, r.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(l, r, LambdaFunction(m: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
        Literal(0.0, DoubleType),
        LambdaFunction(a: Add, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
        LambdaFunction(fin: NamedLambdaVariable, Seq(facc: NamedLambdaVariable), _))
      if floatArrays(l, r) &&
        // double-multiply only: a bare float×float lambda would be
        // rewritten into DotProduct's double-precision loop, changing
        // low-order bits of any future HOF in that shape (the rule is
        // installed session-wide)
        m.dataType == DoubleType &&
        ((isVar(m.left, x) && isVar(m.right, y)) || (isVar(m.left, y) && isVar(m.right, x))) &&
        ((isVar(a.left, acc) && isVar(a.right, v)) || (isVar(a.left, v) && isVar(a.right, acc))) &&
        fin.exprId == facc.exprId =>
      DotProduct(l, r)
  }
}

/** Session extensions installer, which [[graft.GraftSession.builder]]
  * passes to `withExtensions` — wires the optimizer rule
  * into every plan the session compiles (SURVEY.md §4 "potential
  * custom pieces"). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => FuseDotProduct)
}
