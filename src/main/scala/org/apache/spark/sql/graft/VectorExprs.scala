/* Declared inside org.apache.spark.sql so the Column <-> Expression bridge
 * (ExpressionUtils, private[sql] in Spark 4.x) is accessible. Everything used
 * here is public Apache Spark source; no proprietary APIs. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the hot-path dot product over two
  * `array<double>` columns.
  *
  * Why not `aggregate(zip_with(...))`: Spark's higher-order functions are
  * evaluated by interpreting a lambda per element and allocating an
  * intermediate array per row — fine for one-off scalar queries, ruinous
  * inside an all-pairs similarity loop (O(n²) rows × 64 elements). This
  * expression participates in whole-stage codegen: the generated Java
  * calls one compiled primitive loop over the two `ArrayData` buffers
  * ([[DotProductDouble.dot]]), the same one interpreted eval runs.
  *
  * Semantics match the HOF formulation it replaces exactly:
  *  - accumulation is ascending-index sequential (bit-identical to DuckDB's
  *    sequential list fold, SURVEY §2.D rule R2);
  *  - length-mismatched arrays → NULL (`zip_with` null-pads, `acc + null` →
  *    NULL in the HOF form);
  *  - any NULL element → NULL (same HOF reasoning).
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_double"
  // NULL is produced for mismatched lengths / null elements even when the
  // input columns themselves are non-nullable.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProductDouble.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // The generated code CALLS the one compiled loop instead of inlining it:
  // a projection holding many dot products (the quantizer kernel unrolls
  // K centroids × 3 per row) would otherwise carry one loop per call site
  // and grow past the JVM's 8,000-byte JIT limit, leaving the whole
  // generated method interpreted.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val d = ctx.freshName("dot")
      s"""
         |java.lang.Double $d =
         |  org.apache.spark.sql.graft.DotProductDouble$$.MODULE$$.dot($x, $y);
         |if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

object DotProductDouble {
  /** Σ xᵢ·yᵢ in ascending index order; null on a length mismatch or a
    * null element. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}

object VectorExprs {
  /** Column wrapper: codegen'd `Σ aᵢ·bᵢ` over two array<double> columns. */
  def dotDouble(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProductDouble(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
