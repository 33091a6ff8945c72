package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native 64-bit simhash kernel: `simhash64(shingleHashes)` — one
  * codegen'd pass over the fingerprint array, voting each of the 64
  * hash bits up or down and emitting the sign vector as a long.
  *
  * The shingle fingerprints are already uniform 64-bit hashes
  * (xxhash64), so their own bits ARE the per-shingle hash vector —
  * no second hash family needed (the typed-map formulation this
  * replaces re-hashed every shingle twice with seeded murmur and paid
  * an encoder round-trip per document; a custom Expression keeps the
  * whole sketch inside whole-stage codegen).
  *
  * Input: array<long> (non-null elements). Output: long.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val v = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $v = $arr.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($v >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
