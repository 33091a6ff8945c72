package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native sorted-set intersection kernel: `sorted_intersect(a, b)` over
  * two ascending-sorted `array<bigint>` columns → their intersection,
  * ascending.
  *
  * Exists because `array_intersect` cannot assume order: it builds a
  * hash set from one side PER ROW (`ArrayIntersect`'s evalIntersect /
  * generated code), so q115's closing kernel — millions of rows, each
  * intersecting two O(√m) out-neighbor arrays that the adjacency build
  * already `sort_array`ed — paid a per-row hash-table allocation, probe
  * boxing, and GC pressure for an order it already had. Here the rows
  * cost one linear two-pointer merge each: no hash table, two primitive
  * long[] allocations (buffer + exact-size copy), output written as an
  * UnsafeArrayData. Fully codegen'd (doGenCode), interpreted eval
  * mirrors it bit-for-bit.
  *
  * Contract: both inputs sorted ASCENDING with distinct elements and no
  * nulls (what `sort_array(collect_list(...))` over distinct pairs
  * yields). On duplicate elements the merge advances both sides, so
  * each matching VALUE is emitted once per aligned pair — callers own
  * the distinctness contract, as with SetHitCount.
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    val buf = new Array[Long](if (n < m) n else m)
    var i = 0; var j = 0; var k = 0
    while (i < n && j < m) {
      val u = x.getLong(i)
      val v = y.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { buf(k) = u; k += 1; i += 1; j += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      val buf = ctx.freshName("buf")
      s"""
         |final int $n = $x.numElements();
         |final int $m = $y.numElements();
         |final long[] $buf = new long[$n < $m ? $n : $m];
         |int $i = 0, $j = 0, $k = 0;
         |while ($i < $n && $j < $m) {
         |  final long $u = $x.getLong($i);
         |  final long $v = $y.getLong($j);
         |  if ($u < $v) $i++;
         |  else if ($u > $v) $j++;
         |  else { $buf[$k++] = $u; $i++; $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

object SortedIntersect {
  /** Column-API entry: ascending intersection of two ascending arrays. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersect(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
