package graft.ingest

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Schemas

/** End-to-end assembly of the reference pipeline (R8+R9, SURVEY.md §3.3):
  * CSV scan → sanitize/project/nullify → Avro encode → sink, as ONE
  * narrow (shuffle-free) logical plan in both batch and streaming flavors.
  *
  * The reference's polling loop (`app.py:176-196`) re-lists and re-reads
  * every file every 60 s with no ledger; the streaming flavor replaces it
  * with FileStreamSource + checkpoint (incremental listing, seen-files
  * log, at-least-once delivery). The reference's chunk pacing
  * (`CHUNK_SIZE=10` + 20 s sleeps ⇒ 0.5 rows/s) is deliberately NOT
  * reproduced: each micro-batch admits one task wave of bytes
  * (`CsvSource.batchByteBudget`), so a backlog is caught up in a few
  * full-width batches and the budget, derived from the session's own
  * parallelism and split size, is the backpressure bound.
  */
object Pipeline {

  /** All-strings scan of raw reclamações CSV (header contract R2). */
  private def canonicalize(raw: DataFrame): DataFrame =
    Canonicalize(raw, Schemas.reclamacoesColumns)

  /** Batch: directory of CSVs → canonical 14-column frame. */
  def canonicalBatch(spark: SparkSession, path: String): DataFrame =
    canonicalize(CsvSource.readBatch(spark, path))

  /** Batch: directory of CSVs → Avro `value` frame. */
  def valuesBatch(spark: SparkSession, path: String): DataFrame =
    AvroCodec.encodeFrame(spark, canonicalBatch(spark, path))

  /** Data-quality metrics observed on the canonical frame: row volume,
    * null rate of the reference's join/identity key (CNPJ), and quarter
    * cardinality (HLL — DISTINCT aggregates are disallowed in observed
    * metrics because they would break the single-pass guarantee). At
    * 100 TB a metrics pass IS a corpus scan, so these must ride the
    * shipping action, never re-scan (`CollectMetrics` folds them into
    * the same task that ships each partition). */
  val observedMetricsName = "canon_metrics"
  private def qualityMetrics: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(col("cnpj_if").isNull.cast("long")).as("null_cnpj"),
    approx_count_distinct(col("trimestre")).as("quarters"))

  /** Batch flavor of [[valuesBatch]] with quality metrics attached: the
    * returned Observation resolves as a side effect of whatever action
    * ships the values frame — one corpus pass for data AND metrics. */
  def valuesBatchObserved(spark: SparkSession, path: String): (DataFrame, Observation) = {
    val obs = Observation(observedMetricsName)
    val canon = canonicalBatch(spark, path)
      .observe(obs, qualityMetrics.head, qualityMetrics.tail: _*)
    (AvroCodec.encodeFrame(spark, canon), obs)
  }

  /** Streaming: unbounded CSV prefix → Avro `value` frame. The schema
    * must be declared up front (streaming sources cannot infer); the wire
    * StructType is exactly the csv.DictReader shape — all strings. */
  def valuesStream(spark: SparkSession, path: String): DataFrame = {
    val raw = CsvSource.readStream(spark, path, rawCsvSchema(spark, path))
    AvroCodec.encodeFrame(spark, canonicalize(raw))
  }

  /** Lenient streaming flavor: rows violating the wire schema (null in a
    * required Avro field — the reference's latent serialization bug,
    * `README.md:208`) are dropped and counted via the returned metric
    * instead of failing the micro-batch. This is the production posture:
    * one poison row in a 100 TB backfill should cost one counter tick,
    * not the query. */
  def valuesStreamLenient(spark: SparkSession, path: String)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val raw = CsvSource.readStream(spark, path, rawCsvSchema(spark, path))
    AvroCodec.encodeFrameLenient(spark, canonicalize(raw))
  }

  /** Streaming flavor of [[valuesBatchObserved]]: the same per-batch
    * quality metrics surface in each `StreamingQueryProgress
    * .observedMetrics(observedMetricsName)` — the Observation handle is
    * batch-only, but the `CollectMetrics` node is the same, so
    * production monitoring reads progress events instead of a handle. */
  def valuesStreamObserved(spark: SparkSession, path: String): DataFrame = {
    val raw = CsvSource.readStream(spark, path, rawCsvSchema(spark, path))
    val canon = canonicalize(raw)
      .observe(observedMetricsName, qualityMetrics.head, qualityMetrics.tail: _*)
    AvroCodec.encodeFrame(spark, canon)
  }

  /** Streaming schema bootstrap: one batch peek at the header (the
    * streaming analog of DictReader's first-row header read). A prefix
    * with no CSV yet has no header to peek, so it gets the BCB layout;
    * files landing later bind to it by position, as they do to a peeked
    * header. */
  private def rawCsvSchema(spark: SparkSession, path: String): StructType =
    try CsvSource.readBatch(spark, path).schema
    catch {
      case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        StructType(CsvSource.bcbHeader.split(';').toSeq.map(StructField(_, StringType)))
    }

  /** The whole producer, running: stream → sink at the reference cadence. */
  def run(spark: SparkSession, sourcePath: String, sink: GraftSink,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    Sinks.start(valuesStream(spark, sourcePath), sink, trigger)
}
