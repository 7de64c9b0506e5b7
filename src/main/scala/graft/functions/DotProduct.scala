package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns.
  *
  * The declarative form `aggregate(zip_with(a, b, (p,q) -> p*q), 0D, ...)`
  * materialises an intermediate 64-element array PER PAIR — at 2M pairs
  * (all-pairs similarity at sf0.1) that allocation dominates the runtime.
  * This expression is the SURVEY §7.4 "optional BENCH stretch": a primitive
  * accumulation loop inside whole-stage codegen, zero allocation,
  * bit-identical results (same left-to-right double accumulation order as
  * the higher-order-function form).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_d expects two ARRAY<DOUBLE> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"

  // NULL *elements* yield a NULL result even when both array inputs are
  // non-null, so the BinaryExpression default (input-nullability OR) would
  // let NullPropagation fold `dot_d(...) IS NULL` to false incorrectly
  override def nullable: Boolean = true

  // NULL array elements propagate to a NULL result, matching the
  // `aggregate(zip_with(a, b, (p,q) -> p*q), 0D, (acc,v) -> acc+v)` form
  // (null product poisons the running sum there too)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Arity-validated builder SHARED by both registration paths (the
    * session-local `register` and `GraftExtensions.injectFunction`): a
    * wrong-arity call raises Spark's standard WRONG_NUM_ARGS analysis
    * error instead of silently dropping extras / throwing a bare
    * NoSuchElementException from `exprs.head`.
    */
  val builder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2)
      throw FunctionArity.wrongNumArgs("dot_d", 2, exprs.length)
    DotProduct(exprs(0), exprs(1))
  }

  /** Idempotent SQL registration: `dot_d(a, b)` becomes usable in `expr`.
    * Called from each query fn that needs it (Verify/Bench build their own
    * sessions); `GraftExtensions` does the same for library users via
    * `SparkSessionExtensions`.
    */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.ensure(spark, "dot_d", classOf[DotProduct].getName, builder)
}

/** One check-then-add registration for every graft-registered function:
  * a name already in the session's function registry is left as it is,
  * so the per-query `register` calls neither replace the function nor
  * make Spark log "replaced a previously registered function".
  */
private[functions] object FunctionRegistration {
  def ensure(spark: SparkSession, name: String, className: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.functionExists(id))
      registry.registerFunction(id, new ExpressionInfo(className, name), builder)
  }
}

/** One arity-error implementation for every graft-registered function. */
private[functions] object FunctionArity {
  def wrongNumArgs(name: String, expected: Int, actual: Int)
      : org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"),
      cause = None)
}
