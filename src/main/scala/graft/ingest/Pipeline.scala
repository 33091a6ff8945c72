package graft.ingest

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
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

  /** Batch: directory of CSVs → canonical 14-column frame. */
  def canonicalBatch(spark: SparkSession, path: String): DataFrame =
    Canonicalize(CsvSource.readBatch(spark, path), Schemas.reclamacoesColumns)

  /** Batch: directory of CSVs → Avro `value` frame (see [[values]] for
    * `guarded`). */
  def valuesBatch(spark: SparkSession, path: String, guarded: Boolean = false): DataFrame =
    values(spark, canonicalBatch(spark, path), guarded)

  /** Streaming: unbounded CSV prefix → Avro `value` frame (see [[values]]
    * for `guarded`). The schema must be declared up front (streaming
    * sources cannot infer); the wire StructType is exactly the
    * csv.DictReader shape — all strings. */
  def valuesStream(spark: SparkSession, path: String, guarded: Boolean = false): DataFrame = {
    val raw = CsvSource.readStream(spark, path, rawCsvSchema(spark, path))
    values(spark, Canonicalize(raw, Schemas.reclamacoesColumns), guarded)
  }

  /** Name of the observation a guarded frame carries: `rows`, `null_cnpj`
    * (null rate of the reference's join/identity key), `quarters` (HLL —
    * DISTINCT aggregates are disallowed in observed metrics because they
    * would break the single-pass guarantee) and `rejected` (rows dropped
    * by the guard). A batch action reads them from its
    * `queryExecution.observedMetrics`, a stream from each
    * `StreamingQueryProgress.observedMetrics`. At 100 TB a metrics pass IS
    * a corpus scan, so they ride the shipping action (`CollectMetrics`
    * folds them into the task that ships each partition). */
  val observedMetricsName = "canon_metrics"

  /** The wire fields the .avsc declares without a null branch. */
  private val requiredFields: Seq[String] =
    Schemas.reclamacoesWire.fields.toSeq.filterNot(_.nullable).map(_.name)

  /** Canonical frame → Avro `value` frame. The encoder is strict: a null
    * in a required wire field (the reference's latent serialization bug,
    * `README.md:208`) fails the action. `guarded` observes the canonical
    * frame under [[observedMetricsName]] and drops every row with a null
    * in one of the 9 required fields before the encoder, so one poison
    * row in a backfill costs one `rejected` tick, not the query. It adds
    * an aggregate and a filter per row, which is why it is not the
    * default (ROADMAP 4(a) has the measured cost). */
  private def values(spark: SparkSession, canonical: DataFrame, guarded: Boolean): DataFrame =
    if (!guarded) AvroCodec.encodeFrame(spark, canonical)
    else {
      val wireValid = requiredFields.map(col(_).isNotNull).reduce(_ && _)
      AvroCodec.encodeFrame(spark, canonical
        .observe(observedMetricsName,
          count(lit(1)).as("rows"),
          count_if(col("cnpj_if").isNull).as("null_cnpj"),
          approx_count_distinct(col("trimestre")).as("quarters"),
          count_if(!wireValid).as("rejected"))
        .filter(wireValid))
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

  /** The whole producer, running: stream → sink at the reference cadence,
    * unguarded (a poison row fails the query with the encoder's error). */
  def run(spark: SparkSession, sourcePath: String, sink: GraftSink,
      trigger: Trigger = Sinks.ReferenceCadence): StreamingQuery =
    Sinks.start(valuesStream(spark, sourcePath), sink, trigger)
}
