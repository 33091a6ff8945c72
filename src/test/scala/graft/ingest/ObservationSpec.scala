package graft.ingest

import org.apache.spark.sql.Observation
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

  test("the shipping pipeline itself carries metrics: batch values + Observation") {
    val dir = tmpDir("obs_pipe_batch")
    writeFixture(dir)
    val (values, obs) = Pipeline.valuesBatchObserved(spark, dir)
    val shipped = values.collect() // the shipping action — avro values out
    assert(shipped.length == 2)
    val m = obs.get
    assert(m("rows") == 2L && m("null_cnpj") == 1L && m("quarters") == 2L)
  }

  test("the streaming pipeline reports the same metrics via query progress") {
    val dir = tmpDir("obs_pipe_stream")
    writeFixture(dir)
    val q = Sinks.start(
      Pipeline.valuesStreamObserved(spark, dir),
      MemorySink("obs_stream_out"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      assert(spark.table("obs_stream_out").count() == 2)
      // metrics arrive per micro-batch on the progress event — the
      // production monitoring hook (no Observation handle in streaming)
      val m = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get(Pipeline.observedMetricsName)))
        .lastOption.getOrElse(fail("no observed metrics in any progress event"))
      assert(m.getAs[Long]("rows") == 2L)
      assert(m.getAs[Long]("null_cnpj") == 1L)
      assert(m.getAs[Long]("quarters") == 2L)
    } finally q.stop()
  }
}
