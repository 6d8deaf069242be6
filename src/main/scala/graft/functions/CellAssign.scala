package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** A k×d centroid matrix held as a plain expression FIELD, not a child
  * literal. Equality and hash are by content, so two plans assigning
  * against equal matrices still compare `sameResult` (Spark's
  * CacheManager lookup, `FrameCache` release) — and the plan string
  * names the matrix by shape and hash instead of rendering k·d doubles
  * on the driver at every execution start and AQE update. */
final class CentroidMatrix(val rows: Array[Array[Double]]) extends Serializable {
  @transient private lazy val hash = java.util.Arrays.deepHashCode(
    rows.asInstanceOf[Array[AnyRef]])
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case that: CentroidMatrix => (this eq that) || (hashCode == that.hashCode &&
      java.util.Arrays.deepEquals(rows.asInstanceOf[Array[AnyRef]],
        that.rows.asInstanceOf[Array[AnyRef]]))
    case _ => false
  }
  override def toString: String =
    s"centroids[${rows.length}x${rows.headOption.fold(0)(_.length)}#${Integer.toHexString(hash)}]"
}

object CentroidMatrix {
  def apply(cents: Seq[Array[Double]]): CentroidMatrix =
    new CentroidMatrix(cents.map(_.clone()).toArray)
}

/** The IVF cell-assignment kernel. Bit-identical to the composition
  * `slice(array_sort(transform(transform(cents, ce -> vec_dot(ne, ce)),
  * (d, i) -> struct(-round(d, 6), i))), 1, m).c`:
  *  - each dot is [[VecDotKernel]]'s sequential fold, null when `ne` is
  *    null, holds a null element, or differs in length from the centroid;
  *  - rounding is Spark's `round(d, 6)` on doubles ([[HalfUp]]);
  *  - the order is `-rounded` ascending, nulls first, in SQL double
  *    ordering (-0.0 == 0.0, NaN largest), ties by ascending index.
  * So a row whose dots are all null takes cells 0..m-1, as the
  * composition's nulls-first sort gives it. */
object CellAssignKernel {

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** True when centroid `a` ranks before centroid `b` (a ≠ b). */
  private def before(a: Int, b: Int, key: Array[Double], isNull: Array[Boolean]): Boolean =
    if (isNull(a) != isNull(b)) isNull(a)
    else {
      val c = if (isNull(a)) 0 else SQLOrderingUtil.compareDoubles(key(a), key(b))
      c < 0 || (c == 0 && a < b)
    }

  /** The top-`m` cells of `ne` against `cents`. `mayHaveNullElements`
    * is the plan-time element nullability of `ne`'s type; only then is
    * the row probed for null elements. */
  def assign(ne: ArrayData, cents: Array[Array[Double]], m: Int,
      mayHaveNullElements: Boolean): ArrayData = {
    val k = cents.length
    val x = if (ne == null || (mayHaveNullElements && hasNull(ne))) null else ne.toDoubleArray()
    val key = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    var c = 0
    while (c < k) {
      val ce = cents(c)
      if (x == null || x.length != ce.length) isNull(c) = true
      else {
        var s = 0.0
        var i = 0
        while (i < x.length) { s += x(i) * ce(i); i += 1 }
        key(c) = -HalfUp.round(s, 6)
      }
      c += 1
    }
    // stable insertion into a sorted top-n buffer: centroids arrive in
    // ascending index, so an equal key never displaces an earlier one
    val n = math.min(m, k)
    val out = new Array[Int](n)
    var filled = 0
    c = 0
    while (c < k) {
      if (filled < n || before(c, out(n - 1), key, isNull)) {
        var j = if (filled < n) filled else n - 1
        while (j > 0 && before(c, out(j - 1), key, isNull)) { out(j) = out(j - 1); j -= 1 }
        out(j) = c
        if (filled < n) filled += 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Codegen'd top-`m` IVF cells of a unit vector (see [[CellAssignKernel]]).
  * The matrix reaches the generated code through a reference object, so
  * the generated source is the same for every matrix. */
case class CellAssign(child: Expression, cents: CentroidMatrix, m: Int)
    extends UnaryExpression {
  require(m >= 1, s"cell count must be >= 1, got $m")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cell_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cell_assign requires array<double>, got ${t.catalogString}")
  }

  private lazy val mayHaveNullElements =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def eval(input: InternalRow): Any =
    CellAssignKernel.assign(child.eval(input).asInstanceOf[ArrayData],
      cents.rows, m, mayHaveNullElements)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellCents", cents.rows, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.CellAssignKernel.assign(${c.isNull} ? null : ${c.value},
          $ref, $m, $mayHaveNullElements);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CellAssign =
    copy(child = newChild)
}
