package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}

/** SparkSessionExtensions registration (SURVEY.md §4.2): exposes the
  * native vector expressions to SQL, so
  * `spark.sql("SELECT vec_dot(a.embedding, b.embedding) ...")` plans
  * the codegen'd [[FloatVecDot]] instead of an interpreted
  * higher-order lambda. Two installation paths:
  *
  *  - cluster: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *    (or `withExtensions(new GraftExtensions)` on the session builder) —
  *    applies to every session built from that config;
  *  - existing session (tests, notebooks): [[GraftExtensions.register]],
  *    which installs the same builders on the live function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => RewriteHofDotProduct)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def cosExpr(children: Seq[Expression]): Expression = {
    // built directly from catalyst nodes (a Column round-trip would
    // leave an unresolvable ColumnNodeExpression in the registry path);
    // same tree shape as VectorExpressions.vecCosine — dot/(√dot·√dot)
    val Seq(a, b) = children
    Divide(FloatVecDot(a, b),
      Multiply(Sqrt(FloatVecDot(a, a)), Sqrt(FloatVecDot(b, b))))
  }

  /** The injectable (identifier, info, builder) triples — one list
    * shared by the builder-time extension path and the live-session
    * path, so both register identical functions.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs.head, exprs(1))),
    (FunctionIdentifier("vec_cos"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_cos"),
      cosExpr _),
    (FunctionIdentifier("morton_interleave"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "morton_interleave"),
      (exprs: Seq[Expression]) => MortonInterleave(exprs.head, exprs(1))),
    (FunctionIdentifier("cdc_bounds"),
      new ExpressionInfo(classOf[CdcBoundaries].getName, "cdc_bounds"),
      (exprs: Seq[Expression]) => CdcBoundaries(exprs.head,
        intArg("cdc_bounds", 2, exprs(1)), intArg("cdc_bounds", 3, exprs(2)))))

  /** SQL literals arrive as whatever type the parser inferred (an
    * integral constant may be INT or BIGINT; an expression may not be
    * foldable at all), so a blind `asInstanceOf[Int]` turns a BIGINT
    * literal into a ClassCastException and a column argument into an
    * NPE. Fold, accept any integral width, and raise a proper analysis
    * error otherwise.
    */
  private def intArg(fn: String, pos: Int, e: Expression): Int = {
    def bad(detail: String) = new org.apache.spark.sql.AnalysisException(
      errorClass = "INVALID_PARAMETER_VALUE.INTEGER",
      messageParameters = Map("parameter" -> s"argument $pos",
        "functionName" -> fn, "invalidValue" -> detail))
    if (!e.foldable) throw bad(s"non-foldable expression ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw bad(s"$other (${e.dataType.simpleString})")
    }
  }

  /** Register on an already-built session (the extensions class only
    * applies at builder time). Also installs the HOF-dot-product
    * rewrite through the experimental-rules hook, guarded against
    * double registration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteHofDotProduct)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteHofDotProduct
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
  }
}
