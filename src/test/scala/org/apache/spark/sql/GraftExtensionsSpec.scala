package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier

// _root_ needed: org.apache.spark.sql.graft (ColumnBridge's package)
// shadows the root graft package from inside this package.
import _root_.graft.{GraftExtensions, SparkSpec}

/** The `spark.sql.extensions=graft.GraftExtensions` contract: the
  * extension object must register the as-of planner strategy and all
  * nine engine SQL functions, and the injected builders must produce
  * working expressions. Lives in the org.apache.spark.sql package
  * because the buildPlannerStrategies/registerFunctions hooks — exactly
  * what SparkSession invokes at session construction — are
  * private[sql], and so is the constructor of a bare session built
  * without the extension (the attach case of `GraftSession.getOrCreate`). */
class GraftExtensionsSpec extends SparkSpec {

  test("extensions wire the as-of strategy and the engine's SQL functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)

    assert(ext.buildPlannerStrategies(spark).contains(_root_.graft.plans.AsOfJoinStrategy))

    val reg = ext.registerFunctions(spark.sessionState.functionRegistry)
    Seq("cosine_sim", "avro_encode", "avro_decode", "minhash_sig", "simhash64",
      "sorted_intersect", "squared_l2", "bloom_filter_agg", "might_contain")
      .foreach { f =>
        assert(reg.functionExists(FunctionIdentifier(f)), s"$f not registered")
      }

    // the injected builders must yield working expressions end-to-end
    val cos = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sig = spark.sql("SELECT minhash_sig(array(1L, 2L), 4) AS s")
      .collect().head.getSeq[Int](0)
    assert(sig.length == 4)
    val sh = spark.sql("SELECT simhash64(array(-1L)) AS h")
      .collect().head.getLong(0)
    assert(sh == -1L) // one all-ones fingerprint votes every bit up
    val si = spark.sql(
      "SELECT sorted_intersect(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS s")
      .collect().head.getSeq[Long](0)
    assert(si == Seq(3L, 5L))
    val l2 = spark.sql(
      "SELECT squared_l2(array(1.0F, 2.0F), array(4.0F, 6.0F)) AS d")
      .collect().head.getDouble(0)
    assert(math.abs(l2 - 25.0) < 1e-9)
  }

  test("wrong-arity calls fail as named arity errors, not IndexOutOfBounds") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = ext.registerFunctions(spark.sessionState.functionRegistry)
    def arityError(sql: String, fname: String): Unit = {
      val ex = intercept[AnalysisException](spark.sql(sql).collect())
      assert(ex.getMessage.contains(fname),
        s"error for $sql does not name $fname: ${ex.getMessage}")
      assert(ex.getCondition != null && ex.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"unexpected error class ${ex.getCondition}")
    }
    // reg is the session registry with the injected builders in place
    assert(reg.functionExists(FunctionIdentifier("cosine_sim")))
    arityError("SELECT cosine_sim(array(1.0D))", "cosine_sim")
    arityError("SELECT minhash_sig(array(1L))", "minhash_sig")
    arityError("SELECT simhash64(array(1L), 2)", "simhash64")
    arityError("SELECT avro_decode(x'00', 1)", "avro_decode")
    arityError("SELECT sorted_intersect(array(1L))", "sorted_intersect")
    arityError("SELECT squared_l2(array(1.0F))", "squared_l2")
    arityError("SELECT bloom_filter_agg(xxhash64(id), 100L) FROM range(3)",
      "bloom_filter_agg")
    arityError("SELECT might_contain(x'00')", "might_contain")
  }

  test("minhash_sig rejects non-literal, null, and non-positive k") {
    intercept[Exception](spark.sql("SELECT minhash_sig(array(1L), NULL)").collect())
    intercept[Exception](spark.sql("SELECT minhash_sig(array(1L), 0)").collect())
    intercept[Exception](
      spark.sql("SELECT minhash_sig(array(1L), 'twelve')").collect())
  }

  test("getOrCreate attaching to a session built without the extension installs it once") {
    val bare = new classic.SparkSession(spark.sparkContext)
    assert(!bare.sessionState.functionRegistry.functionExists(FunctionIdentifier("cosine_sim")))
    SparkSession.setActiveSession(bare)
    try {
      val attached = _root_.graft.core.GraftSession.getOrCreate("local[4]", 4)
      assert(attached eq bare)
      _root_.graft.core.GraftSession.getOrCreate("local[4]", 4) // idempotent
      assert(bare.sessionState.planner.strategies
        .count(_ == _root_.graft.plans.AsOfJoinStrategy) == 1)
      val cos = bare.sql(
        "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
    } finally SparkSession.setActiveSession(spark)
  }
}
