package graft

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.core.Schemas
import graft.functions.{CosineSimilarity, MinHashSignature, SimHash64, SortedIntersect, SquaredL2}
import graft.ingest.{AvroDecodeExpression, AvroEncodeExpression}
import graft.plans.AsOfJoinStrategy

/** Cluster-installable entry point for the whole engine:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * wires the custom planner strategy (the distributed as-of join,
  * `graft.plans.AsOfJoinExec`) and the engine's SQL functions
  * ([[GraftExtensions.functions]]: `cosine_sim`, `avro_encode`,
  * `avro_decode`, `minhash_sig`, `simhash64`, `sorted_intersect`,
  * `squared_l2`, `bloom_filter_agg`, `might_contain`; the
  * reference-table kernels `set_hit_count`/`set_keep_positions`/
  * `srp_bucket` stay Column-API-only — their probe tables and projection
  * matrices are driver-built values, not SQL literals) into every session
  * of the cluster. `GraftSession.builder` installs the same extension, so
  * this is the one place an engine function is defined — the standard
  * way a Spark library ships Catalyst extensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** Arity guard for function builders: a wrong-arity SQL call
    * (`minhash_sig(arr)`, `cosine_sim(a)`) surfaces as the standard
    * WRONG_NUM_ARGS AnalysisException naming the function — not an
    * IndexOutOfBoundsException escaping the analyzer. */
  private def checkArity(name: String, expected: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != expected) {
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> expected.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }
      build(exprs)
    }

  private def fn[E: ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      checkArity(name, arity)(build))

  /** Every engine SQL function as (name, arity, builder).
    *
    * `bloom_filter_agg(xxhash64(key), estItems, numBits)` → binary and
    * `might_contain(bf, xxhash64(key))` → boolean expose Spark's OWN
    * runtime-filter Bloom expressions (the machinery behind
    * `spark.sql.optimizer.runtime.bloomFilter.*`), which ship in the
    * catalyst jar but sit on the internal function registry only. q128
    * wants the rewrite as an explicit, plan-pinned operator rather than
    * an optimizer heuristic; nothing is reimplemented. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn[CosineSimilarity]("cosine_sim", 2)(e => CosineSimilarity(e(0), e(1))),
    fn[AvroEncodeExpression]("avro_encode", 1)(e =>
      AvroEncodeExpression(e.head, Schemas.reclamacoesAvsc)),
    fn[AvroDecodeExpression]("avro_decode", 1)(e =>
      AvroDecodeExpression(e.head, Schemas.reclamacoesAvsc)),
    fn[MinHashSignature]("minhash_sig", 2)(e =>
      MinHashSignature(e(0), MinHashSignature.kOf(e(1)))),
    fn[SimHash64]("simhash64", 1)(e => SimHash64(e.head)),
    fn[SortedIntersect]("sorted_intersect", 2)(e => SortedIntersect(e(0), e(1))),
    fn[SquaredL2]("squared_l2", 2)(e => SquaredL2(e(0), e(1))),
    fn[BloomFilterAggregate]("bloom_filter_agg", 3)(e =>
      new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    fn[BloomFilterMightContain]("might_contain", 2)(e =>
      BloomFilterMightContain(e(0), e(1))))

  /** Install the extension into a session that was built WITHOUT it (a
    * spark-shell `spark`, a host application's session): registers
    * [[functions]] and appends the as-of strategy. Idempotent — a session
    * that already resolves `cosine_sim` (built by `GraftSession.builder`
    * or with `spark.sql.extensions=graft.GraftExtensions`) is left
    * untouched, so the strategy is never planned twice. */
  private[graft] def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("cosine_sim"))) {
      functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
      spark.experimental.extraStrategies :+= AsOfJoinStrategy
    }
  }
}
