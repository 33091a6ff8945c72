package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.ingest.AvroCodec

/** ns/row of the engine's native kernels, each called through its public
  * Column builder or registered SQL function over a seeded frame that is
  * cached in memory first, so the timed action is the cached scan plus
  * the kernel. Median of three timed repetitions after one warm-up. The
  * producer's traced run times the Avro encoder, the query pass's the
  * corpus kernels. */
object Kernels {
  val Rows = 100000
  val Width = 64

  final case class Timing(name: String, nsPerRow: Double, rows: Long, inputBytes: Long)

  /** Cache `input` once for every kernel timed over it. */
  private def cached(input: DataFrame)(body: (DataFrame, Long) => Seq[Timing]): Seq[Timing] = {
    input.cache()
    try body(input, input.count()) finally input.unpersist(blocking = true)
  }

  private def time(ctx: Ctx, name: String, input: DataFrame, n: Long,
      kernel: DataFrame => DataFrame, bytesPerRow: Long): Timing = {
    def once(): Double = {
      val t0 = System.nanoTime()
      kernel(input).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    val (ns, _) = ctx.spans(name, "kernel") {
      ctx.own(ctx.spans.current)
      once()
      Main.median(Seq(once(), once(), once()))
    }
    Timing(name, ns / n, n, n * bytesPerRow)
  }

  /** `Width` deterministic 64-bit values per row, as the sketches see
    * xxhash64 shingle fingerprints. */
  private def hashes(seed: Long, salt: Int, modulo: Long = 0L): Column = {
    val h = (i: Column) => xxhash64(col("id"), i, lit(seed), lit(salt))
    transform(sequence(lit(1), lit(Width)), i =>
      if (modulo > 0) pmod(h(i), lit(modulo)) else h(i))
  }

  private def base(ctx: Ctx) = ctx.spark.range(Rows).repartition(ctx.args.cores)

  /** The producer's kernel: Avro encoding of seeded canonical rows. */
  def producer(ctx: Ctx): Seq[Timing] = {
    val seed = ctx.args.seed
    val canonical = base(ctx).select(Schemas.reclamacoesColumns.zipWithIndex.map { case (c, i) =>
      when(pmod(xxhash64(col("id"), lit(seed), lit(i)), lit(10)) === 0 &&
        lit(Schemas.nullableColumns(c)), lit(null).cast("string"))
        .otherwise(format_string(s"$c-%d", pmod(xxhash64(col("id"), lit(i)), lit(100000))))
        .as(c)
    }: _*)
    cached(canonical) { (in, n) =>
      Seq(time(ctx, "avro_encode", in, n, df => AvroCodec.encodeFrame(ctx.spark, df), 14 * 12))
    }
  }

  /** The corpus kernels, over fingerprint sets and embedding vectors. */
  def corpus(ctx: Ctx): Seq[Timing] = {
    val seed = ctx.args.seed
    val sets = base(ctx).select(
      array_sort(array_distinct(hashes(seed, 1, 512))).as("a"),
      array_sort(array_distinct(hashes(seed, 2, 512))).as("b"),
      hashes(seed, 3).as("s"))
    val vecs = base(ctx).select(
      transform(hashes(seed, 4), x => (x % 1000).cast("double") / 1000.0).as("u"),
      transform(hashes(seed, 5), x => (x % 1000).cast("double") / 1000.0).as("v"))
    cached(sets) { (in, n) =>
      Seq(
        time(ctx, "sorted_intersect", in, n,
          _.select(graft.functions.SortedIntersect(col("a"), col("b")).as("x")), 2 * Width * 8),
        time(ctx, "minhash_sig", in, n, _.select(expr(s"minhash_sig(s, $Width)").as("x")),
          Width * 8),
        time(ctx, "simhash64", in, n, _.select(expr("simhash64(s)").as("x")), Width * 8))
    } ++ cached(vecs) { (in, n) =>
      Seq(
        time(ctx, "squared_l2", in, n,
          _.select(graft.functions.SquaredL2(col("u"), col("v")).as("x")), 2 * Width * 8),
        time(ctx, "cosine_sim", in, n, _.select(expr("cosine_sim(u, v)").as("x")), 2 * Width * 8))
    }
  }
}
