package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Native k-minhash kernel: `minhash_sig(shingleHashes)` → k signature
  * minima in ONE pass over the input array, inside whole-stage codegen.
  *
  * The HOF formulation this replaces — k separate
  * `array_min(transform(shingles, s => hash(h, s)))` trees — walks the
  * array k times and materializes k intermediate arrays per row; here
  * the generated loop keeps the k running minima in a stack int[] and
  * allocates exactly one output array. Hash family h is
  * Murmur3_x86_32(long, seed = h) — the same mixer Spark's own `hash()`
  * uses, so collision behavior is unchanged.
  *
  * Input: array<long> (xxhash64 shingle fingerprints, non-null
  * elements). Output: array<int>, length k.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Int.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val v = arr.getLong(i)
      var h = 0
      while (h < numHashes) {
        val x = Murmur3_x86_32.hashLong(v, h)
        if (x < sig(h)) sig(h) = x
        h += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val x = ctx.freshName("x")
      s"""
         |int[] $sig = new int[$numHashes];
         |java.util.Arrays.fill($sig, Integer.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $v = $arr.getLong($i);
         |  for (int $h = 0; $h < $numHashes; $h++) {
         |    int $x = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong($v, $h);
         |    if ($x < $sig[$h]) $sig[$h] = $x;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {

  /** Validated k from the SQL call's second argument: must be a foldable
    * positive integer (Int or Long literal). NULL / columns / other
    * types get a real error instead of a silent k=0 or an opaque
    * ClassCastException. */
  def kOf(e: Expression): Int = {
    require(e.foldable, s"minhash_sig: k must be a literal, got ${e.sql}")
    val k = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case other =>
        throw new IllegalArgumentException(
          s"minhash_sig: k must be an integer literal, got $other (${e.dataType})")
    }
    require(k > 0, s"minhash_sig: k must be positive, got $k")
    k
  }
}
