package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Filter}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pipeline observability without extra passes: Spark's Observation API
  * attaches named aggregates to the canonical frame, collected as a
  * side effect of the SAME action that ships the data — at 100 TB a
  * second counting pass over the corpus is a second corpus scan, so
  * quality metrics must ride along, not re-scan. */
class ObservationSpec extends SparkSpec {

  test("canonicalization metrics ride the shipping action (no second scan)") {
    val dir = tmpDir("obs_csv")
    writeFixture(dir)
    val obs = Observation("canon_metrics")
    val canon = Pipeline.canonicalBatch(spark, dir)
      .observe(obs,
        count(lit(1)).as("rows"),
        sum(col("cnpj_if").isNull.cast("long")).as("null_cnpj"),
        // DISTINCT aggregates are disallowed in observed metrics (they'd
        // break the single-pass guarantee) — the HLL sketch is the
        // observable cardinality, exact at this tiny cardinality
        approx_count_distinct(col("trimestre")).as("quarters"))
    val shipped = canon.collect() // ONE action: data + metrics together
    assert(shipped.length == 2)
    val m = obs.get
    assert(m("rows") == 2L)
    assert(m("null_cnpj") == 1L) // empty→null normalization observed in-flight
    assert(m("quarters") == 2L)
  }

  private def writeFixture(dir: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      (CsvSource.bcbHeader + "\n" +
        "2022;1º;C;B;1;BANCO A;2;3;4;5;6;7;8;9\n" +
        "2022;2º;C;B;;BANCO B;3;4;5;6;7;8;9;10\n")
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))

  /** The fixture plus a poison row: its empty Trimestre nullifies to a
    * null in a required wire field, so the guard must drop it. */
  private def writeGuardedFixture(dir: String): Unit = {
    writeFixture(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.csv"),
      (CsvSource.bcbHeader + "\n" + "2022;;C;B;3;BANCO RUIM;3;4;5;6;7;8;9;10\n")
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
  }

  /** rows and null_cnpj see the poison row; quarters ignores its null. */
  private def assertGuardedMetrics(m: Row): Unit = {
    assert(m.getAs[Long]("rows") == 3L)
    assert(m.getAs[Long]("null_cnpj") == 1L)
    assert(m.getAs[Long]("quarters") == 2L)
    assert(m.getAs[Long]("rejected") == 1L)
  }

  test("the guarded batch pipeline carries its metrics on the shipping action") {
    val dir = tmpDir("obs_pipe_batch")
    writeGuardedFixture(dir)
    val values = Pipeline.valuesBatch(spark, dir, guarded = true)
    val shipped = values.collect() // the shipping action — avro values out
    assert(shipped.length == 2, "the poison row is dropped, the rest ship")
    assertGuardedMetrics(values.queryExecution.observedMetrics
      .getOrElse(Pipeline.observedMetricsName, fail("no observed metrics on the action")))
  }

  test("the streaming pipeline reports the same metrics via query progress") {
    val dir = tmpDir("obs_pipe_stream")
    writeGuardedFixture(dir)
    val q = Sinks.start(
      Pipeline.valuesStream(spark, dir, guarded = true),
      MemorySink("obs_stream_out"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      assert(spark.table("obs_stream_out").count() == 2)
      // metrics arrive per micro-batch on the progress event — the
      // production monitoring hook (no Observation handle in streaming)
      assertGuardedMetrics(q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get(Pipeline.observedMetricsName)))
        .lastOption.getOrElse(fail("no observed metrics in any progress event")))
    } finally q.stop()
  }

  /** (CollectMetrics nodes, Filter nodes, Avro encoders) of the analyzed plan. */
  private def shape(df: DataFrame): (Int, Int, Int) = {
    val plan = df.queryExecution.analyzed
    (plan.collect { case c: CollectMetrics => c }.size,
      plan.collect { case f: Filter => f }.size,
      plan.flatMap(_.expressions.flatMap(_.collect { case e: AvroEncodeExpression => e })).size)
  }

  test("the default frames keep the strict plan; guarded adds one observation and one filter") {
    val dir = tmpDir("obs_plan")
    writeFixture(dir)
    assert(shape(Pipeline.valuesBatch(spark, dir)) == ((0, 0, 1)))
    assert(shape(Pipeline.valuesStream(spark, dir)) == ((0, 0, 1)))
    assert(shape(Pipeline.valuesBatch(spark, dir, guarded = true)) == ((1, 1, 1)))
    assert(shape(Pipeline.valuesStream(spark, dir, guarded = true)) == ((1, 1, 1)))
  }
}
