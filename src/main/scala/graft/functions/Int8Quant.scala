package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Int8 scalar quantization of a vector: a max-abs scale and the
  * components rounded to [-127, 127] against it. Bit-identical to the
  * composition
  * `scale = aggregate(ne, 0.0, (m, x) -> greatest(m, abs(x)))`,
  * `q8 = transform(ne, x -> round(x * 127.0 / scale))`:
  *  - the scale skips null elements (`greatest` ignores nulls), starts
  *    at 0.0 and takes NaN as the largest value, so one NaN makes it NaN;
  *  - each code is `(x * 127.0) / scale` in that order, then Spark's
  *    `round(_, 0)` ([[HalfUp]]); a null element stays null;
  *  - a zero scale divides by zero as Spark's `Divide` does: every code
  *    is null when `failOnError` is off (`spark.sql.ansi.enabled=false`),
  *    and a non-null element throws DIVIDE_BY_ZERO when it is on.
  * A null vector has a null scale and null codes. */
object Int8Kernel {

  def scale(ne: ArrayData): Double = {
    var m = 0.0
    var i = 0
    while (i < ne.numElements()) {
      if (!ne.isNullAt(i)) {
        val a = math.abs(ne.getDouble(i))
        if (SQLOrderingUtil.compareDoubles(a, m) > 0) m = a
      }
      i += 1
    }
    m
  }

  def quantize(ne: ArrayData, failOnError: Boolean): ArrayData = {
    val s = scale(ne)
    val n = ne.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (ne.isNullAt(i) || (s == 0.0 && !failOnError)) out.setNullAt(i)
      else if (s == 0.0) throw org.apache.spark.sql.GraftColumnBridge.divideByZeroError()
      else out.setDouble(i, HalfUp.round(ne.getDouble(i) * 127.0 / s, 0))
      i += 1
    }
    out
  }
}

/** The input check both int8 expressions share: a double vector. */
private[functions] trait Int8Expression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.catalogString}")
  }
}

/** The max-abs scale of a vector (see [[Int8Kernel.scale]]). */
case class Int8Scale(child: Expression) extends Int8Expression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_scale"

  override protected def nullSafeEval(v: Any): Any =
    Int8Kernel.scale(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Int8Kernel.scale($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8Scale =
    copy(child = newChild)
}

/** The int8 codes of a vector against its own scale (see
  * [[Int8Kernel.quantize]]); `failOnError` is the ANSI flag the
  * composition's `Divide` would take from the session. */
case class Int8Quantize(child: Expression, failOnError: Boolean) extends Int8Expression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "int8_quantize"

  override protected def nullSafeEval(v: Any): Any =
    Int8Kernel.quantize(v.asInstanceOf[ArrayData], failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Int8Kernel.quantize($c, $failOnError)")

  override protected def withNewChildInternal(newChild: Expression): Int8Quantize =
    copy(child = newChild)
}
