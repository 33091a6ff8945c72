package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("matches the higher-order-function formulation bit-for-bit") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .limit(50)
    val hof = df.crossJoin(df.select(col("e").as("f")))
      .select(
        expr("cosine_sim(e, f)").as("native"),
        (aggregate(zip_with(col("e"), col("f"), (p, q) => p * q),
          lit(0.0), (acc, v) => acc + v) /
          (sqrt(aggregate(zip_with(col("e"), col("e"), (p, q) => p * q),
            lit(0.0), (acc, v) => acc + v)) *
           sqrt(aggregate(zip_with(col("f"), col("f"), (p, q) => p * q),
             lit(0.0), (acc, v) => acc + v)))).as("composed"))
    val bad = hof.filter(col("native") =!= col("composed")).count()
    assert(bad == 0, s"$bad rows diverge from the composed formulation")
  }

  test("self-similarity is 1, orthogonal is 0, zero vector is 0, null is null") {
    val rows = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0), Seq(0.0, 5.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
    val got = rows.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-15)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0)
    val nulls = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(nulls.select(expr("cosine_sim(a, b)")).collect().head.isNullAt(0))
  }

  test("float arrays cast implicitly and losslessly") {
    val f = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(5)
    // raw float arrays accepted directly (implicit cast), same result as
    // the pre-cast double arrays
    val both = f.select(
      expr("cosine_sim(embedding, embedding)").as("raw"),
      expr("cosine_sim(cast(embedding as array<double>), cast(embedding as array<double>))").as("cast"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    }
  }
}
