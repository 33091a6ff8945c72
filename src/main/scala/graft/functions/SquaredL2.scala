package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native squared-L2 distance kernel: `squared_l2(a, b)` → Σ (aᵢ-bᵢ)²
  * over two `array<double>` columns, CosineSimilarity's sibling.
  *
  * Exists for the same reason as `cosine_sim`: the composed
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0d, _+_)`
  * materializes the per-element difference array and runs an
  * interpreted fold per row, breaking whole-stage codegen around
  * q100/q101's hottest stage (the PQ encode fan-out scores every
  * (vector, sub-space, sub-centroid) row through this distance).
  * Accumulation is the same sequential left-to-right fold as the HOF
  * version, so callers' downstream `round(x * 1e6)` micro-unit casts
  * are bit-identical to the composed form on every on-contract input.
  *
  * Fold runs over `min(|a|, |b|)` — equal lengths everywhere in the
  * declared surface (fixed-dim slices); float arrays cast implicitly
  * and losslessly via ImplicitCastInputTypes.
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "squared_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

object SquaredL2 {
  /** Column-API entry: Σ (aᵢ-bᵢ)². */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      SquaredL2(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
