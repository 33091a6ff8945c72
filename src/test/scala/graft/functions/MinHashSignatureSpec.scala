package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.SparkSpec

/** The native minhash kernel must agree with the definitional k-pass
  * formulation, through BOTH eval paths (the dataframe run exercises the
  * generated code; nullSafeEval is called directly for the interpreted
  * path). */
class MinHashSignatureSpec extends SparkSpec {
  import spark.implicits._

  private val K = 12

  test("codegen and interpreted paths match the definitional k-pass minhash") {
    val rows = Seq(
      Seq(1L, 2L, 3L),
      Seq(-9223372036854775808L, 0L, 9223372036854775807L),
      Seq(42L),
      Seq.empty[Long])
    val df = rows.toDF("shingles")
    val got = df.select(expr(s"minhash_sig(shingles, $K)").as("sig"))
      .collect().map(_.getSeq[Int](0).toVector)
    val want = rows.map { sh =>
      Vector.tabulate(K) { h =>
        if (sh.isEmpty) Int.MaxValue
        else sh.map(v => Murmur3_x86_32.hashLong(v, h)).min
      }
    }
    assert(got.toSeq == want)

    // interpreted path (direct eval, bypassing codegen)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val e = MinHashSignature(Literal(null, ArrayType(LongType)), K)
    rows.zip(want).foreach { case (sh, w) =>
      val out = e.nullSafeEval(new GenericArrayData(sh.toArray))
        .asInstanceOf[GenericArrayData].toIntArray().toVector
      assert(out == w)
    }
  }

  test("near-identical shingle sets agree on most signature positions") {
    val base = (1L to 100L).toSeq
    val mutated = base.drop(1) // jaccard 99/100
    val sigs = Seq(base, mutated).toDF("shingles")
      .select(expr(s"minhash_sig(shingles, $K)").as("sig"))
      .collect().map(_.getSeq[Int](0))
    val agree = sigs(0).zip(sigs(1)).count { case (a, b) => a == b }
    assert(agree >= K - 2, s"only $agree/$K positions agree for j=0.99 sets")
  }
}
