package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native simhash kernel: both eval paths must match the
  * definitional bit-vote formulation, and near-identical fingerprint
  * sets must land at small hamming distance (the property candidate
  * banding relies on). */
class SimHash64Spec extends SparkSpec {
  import spark.implicits._

  private def reference(sh: Seq[Long]): Long = {
    val votes = Array.fill(64)(0)
    sh.foreach { v =>
      (0 until 64).foreach { b =>
        if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
    }
    (0 until 64).foldLeft(0L) { (acc, b) =>
      if (votes(b) > 0) acc | (1L << b) else acc
    }
  }

  test("codegen and interpreted paths match the definitional bit votes") {
    val rows = Seq(
      Seq(1L, 2L, 3L),
      Seq(-1L, Long.MinValue, Long.MaxValue),
      Seq(0L),
      Seq.empty[Long])
    val got = rows.toDF("shingles")
      .select(expr("simhash64(shingles)").as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == rows.map(reference))

    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val e = SimHash64(Literal(null, ArrayType(LongType)))
    rows.foreach { sh =>
      assert(e.nullSafeEval(new GenericArrayData(sh.toArray)) == reference(sh))
    }
  }

  test("near-identical sets land at small hamming distance") {
    // deterministic pseudo-random fingerprints (no RNG in tests)
    val base = (1 to 200).map(i =>
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(i.toLong, 7).toLong * 2654435761L)
    val mutated = base.drop(4) // 98% overlap
    val hs = Seq(base, mutated).toDF("shingles")
      .select(expr("simhash64(shingles)").as("h"))
      .collect().map(_.getLong(0))
    val hamming = java.lang.Long.bitCount(hs(0) ^ hs(1))
    assert(hamming <= 6, s"hamming $hamming too large for 98%-overlap sets")
  }
}
