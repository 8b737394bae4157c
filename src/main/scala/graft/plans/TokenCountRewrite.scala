package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression,
  GreaterThan, IntegerLiteral, LambdaFunction, Length, Literal,
  NamedLambdaVariable, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TokenCountExpr

/** Optimizer rule: rewrite the token-count idiom
  *
  *   size(filter(split(s, sep, -1), t -> length(t) > 0))
  *
  * to the native codegen'd `token_count(s, sep)` (TokenCountExpr) — one
  * matcher pass per row instead of materializing the split array and
  * interpreting the filter lambda per element (Spark's higher-order
  * functions are not codegen'd). Same IntegerType, same null behavior
  * (both forms are null-intolerant on the string).
  *
  * Guards, each load-bearing:
  *  - the split limit must be the literal -1 (the `split(col, sep)`
  *    default) — other limits change field segmentation;
  *  - `legacySizeOfNull` must be off (legacy size(NULL) = -1; the
  *    native expression, like the non-legacy idiom, yields NULL);
  *  - the lambda must be exactly `t -> length(t) > 0` over the filtered
  *    element itself;
  *  - the separator must be a foldable literal that CANNOT match the
  *    empty string (a zero-width separator makes Java's split
  *    segmentation diverge from matcher-gap counting).
  *
  * Registered session-wide by GraftExtensions.register (appended to
  * `spark.experimental.extraOptimizations`; GraftSession.build does it).
  * This is deliberately the library's one custom logical rule: every
  * other operator composes stock Catalyst (SURVEY §4's conclusion), and
  * a rewrite is only worth its maintenance when it removes a measured
  * interpretation cost from a hot narrow path, as this one does.
  */
object TokenCountRewrite extends Rule[LogicalPlan] {

  private def cannotMatchEmpty(sep: String): Boolean =
    try !Pattern.compile(sep).matcher("").find()
    catch { case _: Exception => false }

  private object NonEmptyLambda {
    /** Matches `t -> length(t) > 0` binding exactly the filter element. */
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(
          GreaterThan(Length(v1: NamedLambdaVariable), IntegerLiteral(0)),
          Seq(v2: NamedLambdaVariable), _) => v1.exprId == v2.exprId
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(
          ArrayFilter(
            StringSplit(str, Literal(sep: UTF8String, StringType), IntegerLiteral(-1)),
            NonEmptyLambda()),
          false) if cannotMatchEmpty(sep.toString) =>
        TokenCountExpr(str, sep.toString)
    }
}
