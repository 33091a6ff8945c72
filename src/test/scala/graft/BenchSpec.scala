package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** [[Bench.run]] is the one timed action of Bench, ScaleProbe and
  * PlanDump; [[Bench.QueryListener]] is Bench's per-query record. */
class BenchSpec extends SparkSpec {

  // a grouped aggregate: one shuffle, so at least two stages
  private def shuffled(): DataFrame =
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k"))
      .agg(sum(col("id")).as("s"))

  test("Bench.run computes the projected column count() prunes away") {
    val calls = spark.sparkContext.longAccumulator("bench-spec-udf-calls")
    val twice = udf { (x: Long) => calls.add(1); x * 2 }
    def frame() = spark.range(0, 1000, 1, 4).select(col("id"), twice(col("id")).as("y"))
    assert(frame().count() == 1000)
    assert(calls.sum == 0, "count() was expected to prune the UDF column")
    assert(Bench.run(frame()) == 1000)
    assert(calls.sum == 1000, "every row's UDF column must be evaluated exactly once")
  }

  test("Bench.run finalizes the df's own adaptive plan") {
    val df = shuffled()
    Bench.run(df)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan, a.toString)
      case p => fail(s"expected an AdaptiveSparkPlanExec, got:\n$p")
    }
  }

  test("Bench.run returns the row count of a shuffled query") {
    val df = shuffled()
    assert(Bench.run(df) == df.collect().length)
  }

  test("the listener records jobs, stages, tasks and shuffle bytes of one query") {
    val listener = new Bench.QueryListener
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      listener.reset()
      Bench.run(shuffled())
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val r = listener.record()
      assert(r("jobs").asInstanceOf[Int] >= 1, r)
      assert(r("stages").asInstanceOf[Int] >= 2, r)
      assert(r("tasks").asInstanceOf[Int] > 0, r)
      assert(r("shuffle_write_mb").asInstanceOf[Double] > 0, r)
      assert(r.get("spill_mb").contains(0.0), r) // the grouped sum spills nothing
      assert(listener.stageTable().size == r("stages"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("every stage of a labeled shuffled query is named after the query and lists its scopes") {
    val listener = new Bench.QueryListener
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      listener.reset()
      Bench.labeled(spark, "bench_spec_label")(Bench.run(shuffled()))
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val lines = listener.stageTable()
      assert(lines.size >= 2, lines.mkString("\n"))
      lines.foreach { l =>
        assert(l.contains("bench_spec_label"), l)
        assert(!l.contains("CompletableFuture"), l)
      }
      assert(lines.exists(_.contains("Exchange")), lines.mkString("\n"))
      assert(lines.exists(_.contains("WholeStageCodegen")), lines.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
