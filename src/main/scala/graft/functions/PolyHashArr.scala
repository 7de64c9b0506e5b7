package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd per-word polynomial hash over an ARRAY<STRING> column:
  * each word folds as `(acc * 31 + codepoint) % 1e9+7` — the cross-engine
  * gram-hash base of the minhash/simhash dedup family (TextSim.wordHashSql
  * is the DuckDB twin; the SQL formula is unchanged).
  *
  * The declarative form — `transform(w, t -> aggregate(split(t, ''), 0L,
  * (a, c) -> (a * 31 + ascii(c)) % 1000000007))` — evaluates TWO nested
  * non-codegen lambdas per word and allocates a per-character array per
  * word. Measured at sf0.1: the hash STEP alone runs 2.7× faster native
  * (0.40 s → 0.15 s steady over the full corpus); end-to-end the dedup
  * queries are unchanged at this SF because the banded join dominates
  * them — but the hash step scales with RAW TEXT VOLUME while the join
  * scales with near-dup density, so at 100 TB the map-side step is the
  * term that matters. This expression is
  * the same fold as ONE primitive loop inside whole-stage codegen
  * (ASCII fast path over raw UTF-8 bytes; code-point walk otherwise —
  * `split(t, '')` splits between code points and `ascii` returns the code
  * point, so the two paths agree by construction; parity with the HOF
  * form is gated in PolyHashSpec, incl. multi-byte and surrogate-pair
  * inputs). Null array → null; null word element → null element, exactly
  * as the HOF form propagates.
  */
case class PolyHashArr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_hash_arr expects ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "poly_hash_arr"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) null
        else PolyHashArr.hashWord(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val res = ctx.freshName("res")
      s"""
         |int $n = $a.numElements();
         |Object[] $res = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $res[$i] = java.lang.Long.valueOf(
         |      graft.functions.PolyHashArr$$.MODULE$$.hashWord($a.getUTF8String($i)));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHashArr =
    copy(child = newChild)
}

object PolyHashArr {
  final val Mod = 1000000007L

  /** One word's fold. ASCII fast path walks raw UTF-8 bytes (byte value ==
    * code point); any high byte falls back to a decoded code-point walk —
    * `String.codePointAt` advances over surrogate pairs the same way
    * `split(t, '')`'s regex does, so both paths match the HOF semantics.
    */
  def hashWord(u: UTF8String): Long = {
    val nb = u.numBytes()
    var acc = 0L
    var i = 0
    while (i < nb) {
      val b = u.getByte(i)
      if (b < 0) return hashWordUnicode(u)
      acc = (acc * 31 + b) % Mod
      i += 1
    }
    acc
  }

  private def hashWordUnicode(u: UTF8String): Long = {
    val str = u.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Arity-validated builder shared by `register` and
    * `GraftExtensions.injectFunction` (the DotProduct.builder idiom). */
  val builder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 1)
      throw FunctionArity.wrongNumArgs("poly_hash_arr", 1, exprs.length)
    PolyHashArr(exprs.head)
  }

  /** Idempotent SQL registration (the DotProduct.register idiom):
    * `poly_hash_arr(w)` becomes usable in `expr`. */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.ensure(spark, "poly_hash_arr", classOf[PolyHashArr].getName, builder)
}
