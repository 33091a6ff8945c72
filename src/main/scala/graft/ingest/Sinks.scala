package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Sink abstraction for the produced `value: binary` frame (R7).
  *
  * The reference publishes each record's Avro body to Kafka value-only,
  * at-most-once — async send, per-chunk flush, errors swallowed
  * (`/root/reference/src/ex8_producer/app.py:142-158`). Spark's Kafka sink
  * with checkpointing upgrades that to at-least-once; the sandbox has no
  * spark-sql-kafka jar or broker, so [[KafkaSink]] carries the exact
  * production wiring but is only constructed, never started, in tests.
  * Parquet/memory sinks run the same plan against local infrastructure.
  */
sealed trait GraftSink {
  /** Attach sink options to a streaming writer of the value frame. */
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row]
  /** Batch flavor: write a bounded value frame. */
  def writeBatch(df: DataFrame): Unit
}

/** Durable file sink — the local stand-in with the same delivery
  * semantics class (exactly-once per file via the commit protocol).
  *
  * It writes [[Sinks.Codec]] (snappy), not the session's zstd. The sink
  * stands in for Kafka, whose bytes never pass through parquet, so its
  * codec buys the producer nothing; parquet-hadoop's zstd path wraps each
  * page in a finalizable `ZstdOutputStream` that pins its column
  * writer's 1 MiB buffer until the finalizer thread runs, which held
  * about 20 MB of producer heap. The cost is size: one 60,000-row
  * catch-up round writes 4.26 MB instead of 2.59 MB (+64%). */
final case class ParquetSink(path: String, checkpoint: String) extends GraftSink {
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.format("parquet").option("path", path).option("checkpointLocation", checkpoint)
      .option("compression", Sinks.Codec)
  def writeBatch(df: DataFrame): Unit =
    df.write.mode("append").option("compression", Sinks.Codec).parquet(path)
}

/** In-memory sink for deterministic streaming tests. */
final case class MemorySink(queryName: String) extends GraftSink {
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.format("memory").queryName(queryName)
  def writeBatch(df: DataFrame): Unit =
    throw new UnsupportedOperationException("memory sink is streaming-only")
}

/** Production Kafka sink (value-only, like `app.py:153`). Requires the
  * spark-sql-kafka connector on the classpath at runtime — absent in this
  * sandbox, so `start()` would fail here by design; the configuration is
  * the documented deployment path. */
final case class KafkaSink(bootstrapServers: String, topic: String,
    checkpoint: String) extends GraftSink {
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
  def writeBatch(df: DataFrame): Unit =
    df.write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()
}

/** foreachBatch escape hatch: per-micro-batch custom writes with the
  * batchId for idempotence — the standard production path for sinks
  * Spark has no native connector for (the reference's Kafka-like
  * at-least-once delivery becomes exactly-once when the writer
  * dedupes on batchId). */
final case class ForeachBatchSink(write: (DataFrame, Long) => Unit) extends GraftSink {
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.foreachBatch((df: org.apache.spark.sql.Dataset[Row], id: Long) => write(df.toDF(), id))
  def writeBatch(df: DataFrame): Unit = write(df, -1L)
}

/** The batchId-idempotence pattern [[ForeachBatchSink]] describes, made
  * concrete: each micro-batch lands in its own `batch_id=<id>` partition
  * directory with overwrite mode. foreachBatch is at-least-once — a
  * crash between the sink write and the checkpoint commit replays the
  * batch — but a replay OVERWRITES its own partition instead of
  * appending duplicates, upgrading delivery to exactly-once with no
  * transaction log. Readers see `path` as an ordinary partitioned
  * parquet table (batch_id becomes a partition column); at 100 TB the
  * per-batch directories double as retention/compaction units. */
final case class IdempotentParquetSink(path: String, checkpoint: String) extends GraftSink {
  private[ingest] def writeOne(df: DataFrame, id: Long): Unit =
    df.write.mode("overwrite").option("compression", Sinks.Codec).parquet(s"$path/batch_id=$id")
  def configure(w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.option("checkpointLocation", checkpoint)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Row], id: Long) => writeOne(df.toDF(), id))
  def writeBatch(df: DataFrame): Unit = writeOne(df, 0L)
}

object Sinks {
  /** The reference's 60 s cadence (`PROCESS_INTERVAL`, `settings.py:5`):
    * the default trigger of every producer stream. */
  val ReferenceCadence: Trigger = Trigger.ProcessingTime("60 seconds")

  /** Parquet codec of the file sinks ([[ParquetSink]] says why). */
  val Codec: String = "snappy"

  /** Start a value frame into a sink, by default at [[ReferenceCadence]]. */
  def start(values: DataFrame, sink: GraftSink,
      trigger: Trigger = ReferenceCadence): StreamingQuery =
    sink.configure(values.writeStream.outputMode("append").trigger(trigger)).start()
}
