package graft.ingest

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, expr, struct}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Schemas

/** Raw-body Avro encode/decode as custom Catalyst expressions.
  *
  * Mirrors the reference exactly (`/root/reference/src/ex8_producer/
  * app.py:145-152`): one `DatumWriter.write` through a `BinaryEncoder`
  * per record — a bare Avro binary body with NO container-file framing and
  * NO single-object header. `/opt/spark/jars` has no spark-avro connector,
  * hence these expressions (SURVEY.md §7.3).
  *
  * Thread-safety: Avro writers/readers are not thread-safe; each task gets
  * its own deserialized copy of the expression tree, so `@transient lazy
  * val` confines one writer per task. The output stream is reused across
  * rows within a task (the reference allocates per record —
  * `app.py:149` — one of the places a columnar engine just does better).
  *
  * Null policy (SURVEY.md §7.3): the .avsc is authoritative — a null in
  * one of the 9 required fields raises by default (strict mode, so bad
  * data is loud), instead of the reference's swallowed per-chunk log line
  * (`app.py:157-158`). With `lenient = true` the poison row is nulled out
  * and COUNTED through the accumulator instead of killing the batch —
  * the bad-record metric SURVEY §7.3 promises. (Accumulator caveat: task
  * retries can over-count; it is a monitoring metric, not a ledger.)
  */
case class AvroEncodeExpression(child: Expression, avscJson: String,
    lenient: Boolean = false,
    badRecords: Option[org.apache.spark.util.LongAccumulator] = None)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable || lenient

  /** Lenient mode has a side effect (the counter), so advertise
    * non-determinism: it stops Catalyst from duplicating the expression
    * (e.g. pushing a `value IS NOT NULL` filter through the projection),
    * which would double-count bad records. */
  override lazy val deterministic: Boolean =
    !lenient && children.forall(_.deterministic)

  private def structType = child.dataType.asInstanceOf[StructType]

  @transient private lazy val schema = new Schema.Parser().parse(avscJson)
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
  @transient private lazy val out = new ByteArrayOutputStream(256)
  @transient private lazy val fieldNames = structType.fieldNames

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < fieldNames.length) {
      val v = if (row.isNullAt(i)) null else row.getUTF8String(i).toString
      rec.put(fieldNames(i), v)
      i += 1
    }
    out.reset()
    try {
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    } catch {
      case scala.util.control.NonFatal(e) if lenient =>
        badRecords.foreach(_.add(1L))
        null
    }
  }

  override protected def withNewChildInternal(newChild: Expression): AvroEncodeExpression =
    copy(child = newChild)
}

/** Inverse of [[AvroEncodeExpression]] for round-trip tests: raw binary
  * body → all-strings struct per the wire schema.
  *
  * `readerAvscJson`, when set, decodes with Avro's standard WRITER →
  * READER schema resolution (the day-one consumer contract when a
  * schema evolves): a reader field absent from the writer schema takes
  * its declared default (required for resolution to succeed — Avro
  * refuses otherwise), a writer field absent from the reader schema is
  * read and skipped, and matching fields resolve by NAME, not position.
  * Unset, behavior is the exact q09 round-trip (reader = writer =
  * `reclamacoes.avsc`). The output struct follows the READER schema:
  * its fields, its order, nullable where the reader type is a
  * null-union. */
case class AvroDecodeExpression(child: Expression, avscJson: String,
    readerAvscJson: Option[String] = None)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = readerAvscJson match {
    case None    => Schemas.reclamacoesWire
    case Some(_) => readerStruct
  }
  override def nullable: Boolean = child.nullable

  /** All-strings struct of the reader schema — computed eagerly (plain
    * lazy val, StructType is serializable) because dataType is part of
    * the ANALYZED plan, not task-side state. */
  private lazy val readerStruct: StructType = {
    import scala.jdk.CollectionConverters._
    val rs = new Schema.Parser().parse(readerAvscJson.get)
    StructType(rs.getFields.asScala.toSeq.map { f =>
      val nullable = f.schema().getType == Schema.Type.UNION &&
        f.schema().getTypes.asScala.exists(_.getType == Schema.Type.NULL)
      StructField(f.name(), StringType, nullable)
    })
  }

  @transient private lazy val schema = new Schema.Parser().parse(avscJson)
  @transient private lazy val readerSchema =
    readerAvscJson.map(new Schema.Parser().parse(_)).getOrElse(schema)
  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](schema, readerSchema)
  @transient private lazy val fieldNames: Array[String] = readerAvscJson match {
    case None    => Schemas.reclamacoesWire.fieldNames
    case Some(_) => readerStruct.fieldNames
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    val rec = reader.read(null, dec)
    InternalRow.fromSeq(fieldNames.toIndexedSeq.map { f =>
      val v = rec.get(f)
      if (v == null) null else UTF8String.fromString(v.toString)
    })
  }

  override protected def withNewChildInternal(newChild: Expression): AvroDecodeExpression =
    copy(child = newChild)
}

object AvroCodec {

  /** The canonical frame's 14 columns as the struct the encoder reads. */
  private def record(canonical: DataFrame): Column =
    struct(Schemas.reclamacoesColumns.map(canonical.col): _*).as("r")

  private def attr(name: String): Expression = ColumnBridge.expression(col(name))

  /** Canonical 14-column frame → single binary `value` column (the Kafka
    * message body shape, `app.py:153`). */
  def encodeFrame(spark: SparkSession, canonical: DataFrame): DataFrame =
    canonical.select(record(canonical)).select(ColumnBridge.column(
      AvroEncodeExpression(attr("r"), Schemas.reclamacoesAvsc)).as("value"))

  /** Lenient flavor: rows that violate the wire schema (null in a
    * required field) are dropped and counted instead of failing the
    * batch/micro-batch — returns the value frame plus the live
    * bad-record counter (SURVEY §7.3's promised metric). Each call binds
    * its own accumulator into its own expression. */
  def encodeFrameLenient(spark: SparkSession, canonical: DataFrame)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("graft.avro.bad_records")
    val values = canonical.select(record(canonical))
      .select(ColumnBridge.column(AvroEncodeExpression(attr("r"),
        Schemas.reclamacoesAvsc, lenient = true, badRecords = Some(acc))).as("value"))
      .filter(expr("value IS NOT NULL")) // nulled-out poison rows: counted, not shipped
    (values, acc)
  }

  /** value column → canonical wire columns (round-trip/test path). */
  def decodeFrame(spark: SparkSession, encoded: DataFrame): DataFrame =
    encoded.select(ColumnBridge.column(
      AvroDecodeExpression(attr("value"), Schemas.reclamacoesAvsc)).as("r")).select("r.*")

  /** value column → READER-schema columns via Avro writer→reader
    * resolution (see [[AvroDecodeExpression]]): dropped writer fields
    * are skipped, reader-only fields take their declared defaults. */
  def decodeFrameEvolved(spark: SparkSession, encoded: DataFrame,
      readerAvscJson: String,
      writerAvscJson: String = Schemas.reclamacoesAvsc): DataFrame =
    encoded.select(ColumnBridge.column(AvroDecodeExpression(attr("value"),
      writerAvscJson, Some(readerAvscJson))).as("r")).select("r.*")
}
