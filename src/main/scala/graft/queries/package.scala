package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared conventions for the declared query surface (SURVEY.md §2.2).
  *
  * Determinism rules (§5.2): every oracled query ends in a total ORDER BY
  * over ALL output columns (ties ⇒ identical rows ⇒ unique dump order);
  * float aggregates are computed exactly in decimal then cast to double so
  * Spark's parallel summation and DuckDB's serial summation cannot diverge
  * by an ulp; timestamps are emitted as epoch-second BIGINTs or formatted
  * strings, never raw timestamp values.
  */
package object queries {
  type Q = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    * rejects — read nanos as long, rebuild a µs timestamp; exact: the
    * generated data is whole-µs and integer `div` floors like DuckDB's
    * ns→µs truncation) and TIMESTAMP(MICROS) with no timezone (arrives
    * as TIMESTAMP_NTZ — reinterpret as a session-tz instant; the
    * session is pinned UTC, so this reads the same wall-clock value
    * DuckDB sees). Dispatch on the landed type so both generations
    * produce the identical TIMESTAMP column. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** (1 - rate) / (1 + rate) pinned to DECIMAL(9,4) so decimal product
    * chains stay inside precision 38 with no scale loss:
    * (18,4)×(9,4)→(28,8), ×(9,4)→(38,12) — exact in Spark AND DuckDB. */
  def oneMinus(c: Column): Column = (lit(1) - c.cast("decimal(9,4)")).cast("decimal(9,4)")
  def onePlus(c: Column): Column = (lit(1) + c.cast("decimal(9,4)")).cast("decimal(9,4)")

  /** Exact sum of a double column: cast each value to DECIMAL(18,4)
    * (wide enough for all testdata measures; rounding a ≤2-dp value to
    * 4 dp is lossless), sum exactly, emit double.
    * DuckDB mirror: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact mean via decimal sum / count. DuckDB mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)`. */
  def dmean(c: Column): Column = dsum(c) / count(c)

  /** `.scopedPersist` = `.persist(MEMORY_AND_DISK)` + registration with
    * [[graft.core.CacheScope]] so the harness (Bench/Verify) can unpersist
    * after each query's action — intra-query reuse intact, no session-long
    * cache accumulation. */
  implicit class ScopedPersist[T <: org.apache.spark.sql.Dataset[_]](private val ds: T) {
    def scopedPersist: T = graft.core.CacheScope.persist(ds)
  }

  /** Evaluate `c` once per row and hand the result to `f` as a bound
    * lambda variable. Higher-order-function lambdas evaluate
    * interpreted, with no common-subexpression elimination, so an
    * expression that a lambda references directly is re-evaluated on
    * every call of that lambda (once per element or fold step).
    * Binding wraps it in a 1-element `transform`, which runs `f` once.
    * `PlanSpec`'s whole-surface lambda audit fails on any query that
    * leaves such an expression unbound. */
  def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Order by every column (ascending, nulls first — both engines'
    * default ASC null ordering differs: Spark NULLS FIRST, DuckDB NULLS
    * LAST — so pin NULLS FIRST explicitly in SQL). */
  def orderAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)

  /** The Knuth multiplicative hash family behind every deterministic
    * bucket/split/shard/sample/priority in the surface (q72, q94/q95,
    * q99, q132, q133/q138's split, q136's shard, q137/s94's priority,
    * the curation pipeline). BOTH spellings live here — the Column
    * expression and the DuckDB SQL string — because the arithmetic is
    * parity-critical: engine and oracle must stay bit-identical, and a
    * hand-copied pmod dance with one wrap typo diverges silently on
    * negative ids (the class of bug q94's original comment warns
    * about). `graft.streaming.MinwisePanel.priority` is the JVM-side
    * twin of [[knuthMix]], pinned equal by CompositionSpec. */
  val KnuthP = 1000000007L
  val KnuthC = 2654435761L

  /** (c mod P) · C mod P — the full-range mix. Exact: |c mod P| < 1e9,
    * ×C < 2^62. */
  def knuthMix(c: Column): Column =
    pmod(pmod(c, lit(KnuthP)) * lit(KnuthC), lit(KnuthP))

  /** The mix reduced to [0, m). */
  def knuthBucket(c: Column, m: Long): Column = pmod(knuthMix(c), lit(m))

  /** SQL twin of [[knuthMix]]: the `(x % k + k) % k` dance reproduces
    * pmod's non-negative contract for any input sign. */
  def knuthMixSql(c: String): String =
    s"((((((($c % 1000000007) + 1000000007) % 1000000007) * 2654435761) " +
      "% 1000000007) + 1000000007) % 1000000007)"

  /** SQL twin of [[knuthBucket]]. */
  def knuthBucketSql(c: String, m: Long): String =
    s"(${knuthMixSql(c)} % $m + $m) % $m"

  /** The QUADRATIC scramble for PER-POSITION draws (q139's mask,
    * q141's span starts and lengths): ((c² + c) mod P) · C mod P.
    *
    * Why the linear [[knuthMix]] is not enough here: mix is linear in
    * its argument, so a key that steps by a constant per position
    * (d·A + i·m) maps to buckets stepping by the CONSTANT stride
    * (m·C mod P) mod B — each document's bucket sequence is an
    * arithmetic orbit that only visits the gcd(stride, B)-coset of its
    * start. q141's original start draw (m = 11, B = 1000) had stride
    * 168, gcd 8: mask mass landed in the ~1/8 of documents whose orbit
    * passes under the threshold (measured: 391/500 docs with zero
    * spans vs ~120 expected). Per-DOC draws (splits, shards, samples)
    * keep the linear mix — doc_ids are not consecutive per key and the
    * coset artifact needs a constant stride to appear. The quadratic
    * term breaks linearity, so consecutive positions take
    * value-dependent strides (re-measured under this scramble: q139
    * 14.96% realized at 150‰ with 6 zero-mask docs, q141 120/500
    * no-span docs, length draw uniform mod 8 within ±1%).
    *
    * Exactness: cm = c mod P < 2³⁰·…(1e9), cm² < 1e18 and q·C <
    * 2.66e18 — inside BIGINT in both engines; both spellings below are
    * the same arithmetic. */
  def knuthMix2(c: Column): Column = {
    val cm = pmod(c, lit(KnuthP))
    pmod(pmod(pmod(cm * cm, lit(KnuthP)) + cm, lit(KnuthP)) * lit(KnuthC),
      lit(KnuthP))
  }

  /** The quadratic scramble reduced to [0, m). */
  def knuthBucket2(c: Column, m: Long): Column = pmod(knuthMix2(c), lit(m))

  /** JVM twin of [[knuthMix2]] — the arithmetic q147's weight table is
    * DERIVED with on the driver (the table ships as a literal; the
    * oracle re-derives it in SQL, so all three spellings must agree —
    * KnuthSpec pins them). Same exactness bound as the Column form. */
  def knuthMix2Jvm(c: Long): Long = {
    val cm = math.floorMod(c, KnuthP)
    (cm * cm % KnuthP + cm) % KnuthP * KnuthC % KnuthP
  }

  /** SQL twin of [[knuthMix2]]. */
  def knuthMix2Sql(c: String): String = {
    val cm = s"((($c % 1000000007) + 1000000007) % 1000000007)"
    s"(((($cm * $cm % 1000000007 + $cm) % 1000000007) * 2654435761) " +
      "% 1000000007)"
  }

  /** SQL twin of [[knuthBucket2]]. */
  def knuthBucket2Sql(c: String, m: Long): String =
    s"(${knuthMix2Sql(c)} % $m + $m) % $m"

  /** DuckDB twin of `TokenStats.ppmSql` — the q157 split-multiplier ppm
    * spelling with `//` (DuckDB's flooring division; every use site
    * feeds non-negative arguments, where `//` ≡ Spark's `div`). */
  def ppmDuckSql(c: String, t: String): String =
    s"(((($c * 1000) // $t) * 1000) + (((($c * 1000) % $t) * 1000) // $t))"
}
