package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source with the reference's exact input contract
  * (`/root/reference/src/ex8_producer/app.py:112-124`): `;` delimiter,
  * ISO-8859-1 encoding, header row, all-strings (no inference — the
  * reference's `csv.DictReader` yields strings), permissive error
  * semantics (`app.py:134-139` logs and continues; here PERMISSIVE mode +
  * ignoreMissingFiles, see SURVEY.md §2.1 R11).
  *
  * Unlike the reference — which buffers the whole S3 object in driver
  * memory (`app.py:121`) — Spark's CSV reader splits and streams files
  * across executors; with multiline=false an ISO-8859-1 file is splittable,
  * so a single 100 GB CSV still parallelizes.
  */
object CsvSource {

  /** Header row of the BCB quarterly complaints CSV (the reference's
    * bucket layout): 14 `;`-separated columns, ISO-8859-1 text. */
  val bcbHeader: String =
    "Ano;Trimestre;Categoria;Tipo;CNPJ IF;Instituição financeira;Índice;" +
      "Quantidade de reclamações reguladas procedentes;Quantidade de reclamações reguladas - outras;" +
      "Quantidade de reclamações não reguladas;Quantidade total de reclamações;" +
      "Quantidade total de clientes – CCS e SCR;Quantidade de clientes – CCS;Quantidade de clientes – SCR"

  private def common(r: org.apache.spark.sql.DataFrameReader) = r
    .option("sep", ";")
    .option("encoding", "ISO-8859-1")
    .option("header", "true")
    .option("mode", "PERMISSIVE")
    .option("ignoreMissingFiles", "true")
    .option("pathGlobFilter", "*.csv")

  /** Batch scan: every column `StringType`, like `csv.DictReader`. */
  def readBatch(spark: SparkSession, path: String): DataFrame =
    common(spark.read).csv(path)

  /** Batch scan against an explicit schema (typed ingestion path). */
  def readBatch(spark: SparkSession, path: String, schema: StructType): DataFrame =
    common(spark.read).schema(schema).csv(path)

  /** Streaming flavor of the same scan — replaces the reference's 60 s
    * re-list-everything polling loop (`app.py:176-196`) with Spark's
    * FileStreamSource, which keeps the seen-files ledger the reference
    * lacks (SURVEY.md §3.2). Admission is by bytes, not by file count:
    * each micro-batch takes up to [[batchByteBudget]] of newly seen
    * files. A backlog of many small files then lands as one batch per
    * wave of tasks instead of one single-task batch per file (the
    * reference's one-file-at-a-time pacing, whose fixed per-batch cost
    * of offset listing, WAL write and commit dominated), a large file
    * still splits across tasks, and a huge backlog never becomes one
    * unbounded batch. */
  def readStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream
      .option("sep", ";")
      .option("encoding", "ISO-8859-1")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("pathGlobFilter", "*.csv")
      .option("maxBytesPerTrigger", batchByteBudget(spark).toString)
      .schema(schema)
      .csv(path)

  /** Bytes one streaming micro-batch admits: one full file split
    * (`spark.sql.files.maxPartitionBytes`) per core, i.e. one task wave.
    * Read when the stream is defined. */
  def batchByteBudget(spark: SparkSession): Long =
    spark.sparkContext.defaultParallelism.toLong * spark.sessionState.conf.filesMaxPartitionBytes
}
