package graft.ingest

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.core.Schemas

/** R6 fidelity (FIXTURES.md §C): engine avro_encode output must decode
  * with PLAIN Avro 1.12 (`GenericDatumReader`) against the verbatim
  * reclamacoes.avsc — raw binary body, no container/single-object framing
  * (`app.py:145-152`) — and round-trip through avro_decode. */
class AvroCodecSpec extends SparkSpec {

  private val sample = Row(
    "2022", "1º", "Bancos e financeiras", "Banco", "00000000",
    "BANCO EXEMPLO S.A.", "25,91", "130", "22", "5", "157",
    "10000000", "9000000", "1000000")

  private val withNulls = Row(
    "2022", "1º", "Bancos e financeiras", "Banco", null,
    "BANCO SEM CNPJ", "", "0", null, null, "0", "500", "400", null)

  private def frame(rows: Row*) = spark.createDataFrame(
    java.util.Arrays.asList(rows: _*), Schemas.reclamacoesWire)

  test("encode decodes with plain avro against verbatim .avsc") {
    val bytes = AvroCodec.encodeFrame(spark, frame(sample))
      .collect().head.getAs[Array[Byte]]("value")
    val schema = new Schema.Parser().parse(Schemas.reclamacoesAvsc)
    val reader = new GenericDatumReader[GenericRecord](schema)
    val rec = reader.read(null, DecoderFactory.get().binaryDecoder(bytes, null))
    assert(rec.get("ano").toString == "2022")
    assert(rec.get("trimestre").toString == "1º")
    assert(rec.get("instituicao_financeira").toString == "BANCO EXEMPLO S.A.")
    assert(rec.get("quantidade_de_clientes_scr").toString == "1000000")
  }

  test("round-trip: decode(encode(r)) == r, nullable fields preserved") {
    val encoded = AvroCodec.encodeFrame(spark, frame(sample, withNulls))
    val back = AvroCodec.decodeFrame(spark, encoded)
      .orderBy("instituicao_financeira").collect()
    assert(back.length == 2)
    val banco = back.head
    assert(banco.getAs[String]("instituicao_financeira") == "BANCO EXEMPLO S.A.")
    val semCnpj = back.last
    assert(semCnpj.getAs[String]("cnpj_if") == null)
    assert(semCnpj.getAs[String]("indice") == "") // empty ≠ null on the wire
    assert(semCnpj.getAs[String]("quantidade_de_clientes_scr") == null)
  }

  test("null in a required field raises (not swallowed, per SURVEY §7.3)") {
    val badRow = Row("2022", null, "x", "x", null, "x", "x", "0",
      null, null, "0", "0", "0", null) // trimestre is required
    val ex = intercept[SparkException] {
      AvroCodec.encodeFrame(spark, frame(badRow)).collect()
    }
    assert(ex.getMessage != null)
  }

  test("lenient encode: poison row is counted and dropped, batch completes") {
    val badRow = Row("2022", null, "x", "x", null, "x", "x", "0",
      null, null, "0", "0", "0", null) // trimestre (required) is null
    val (values, bad) = AvroCodec.encodeFrameLenient(spark, frame(sample, badRow))
    val rows = values.collect() // must NOT throw: the poison row is metered out
    assert(rows.length == 1)
    assert(rows.head.getAs[Array[Byte]]("value")(0) == 8) // the good row, intact
    assert(bad.value == 1L, s"bad-record metric = ${bad.value}, want 1")
  }

  test("lenient encode: interleaved calls keep independent counters (no registry race)") {
    val badRow = Row("2022", null, "x", "x", null, "x", "x", "0",
      null, null, "0", "0", "0", null)
    // interleave: build BOTH frames before collecting EITHER — with a
    // shared registered name the second registration would capture the
    // first frame's accumulator (or vice versa)
    val (v1, bad1) = AvroCodec.encodeFrameLenient(spark, frame(sample, badRow))
    val (v2, bad2) = AvroCodec.encodeFrameLenient(spark, frame(sample))
    assert(v2.collect().length == 1)
    assert(v1.collect().length == 1)
    assert(bad1.value == 1L, s"call-1 counter = ${bad1.value}, want 1 (its own poison row)")
    assert(bad2.value == 0L, s"call-2 counter = ${bad2.value}, want 0 (clean batch)")
  }

  test("property: decode(encode(r)) == r for arbitrary conforming rows") {
    // SURVEY §5.2 item 3 — direct expression eval (no Spark job per
    // sample) over generated rows: required fields get any string
    // (including empty/accented/long), the 5 nullable fields also draw
    // None
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}

    val enc = AvroEncodeExpression(Literal(null, Schemas.reclamacoesWire), Schemas.reclamacoesAvsc)
    val dec = AvroDecodeExpression(Literal(null, BinaryType), Schemas.reclamacoesAvsc)
    val anyString = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      1 -> Gen.const(""),
      1 -> Gen.oneOf("1º", "ção çã é ã", "Quantidade – CCS", "x" * 500))
    val rowGen: Gen[Seq[Option[String]]] = Gen.sequence[Seq[Option[String]], Option[String]](
      Schemas.reclamacoesWire.fields.toSeq.map { f =>
        if (f.nullable) Gen.option(anyString) else anyString.map(Some(_))
      })
    val prop = Prop.forAll(rowGen) { vals =>
      val in = InternalRow.fromSeq(vals.map(_.map(UTF8String.fromString).orNull))
      val bytes = enc.nullSafeEval(in).asInstanceOf[Array[Byte]]
      val back = dec.nullSafeEval(bytes).asInstanceOf[InternalRow]
      val out = vals.indices.map(i =>
        Option(back.get(i, StringType)).map(_.toString))
      out == vals
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("raw body has no container framing (starts with field data)") {
    val bytes = AvroCodec.encodeFrame(spark, frame(sample))
      .collect().head.getAs[Array[Byte]]("value")
    // Avro container files start with magic 'Obj\x01'; raw bodies with the
    // first field's length varint — "2022" is length 4 → zigzag 8.
    assert(!(bytes(0) == 'O' && bytes(1) == 'b' && bytes(2) == 'j'))
    assert(bytes(0) == 8)
  }

  test("schema evolution: evolved reader resolves dropped field, null-union default, and string default") {
    // writer-schema bytes, read with the evolved reader: Avro's
    // writer→reader resolution must (a) SKIP the dropped `indice`
    // bytes, (b) default the added null-union `origem` to null,
    // (c) default the added required `fonte` to "bcb", and (d) still
    // resolve the 5 writer null-unions by name
    val encoded = AvroCodec.encodeFrame(spark, frame(sample, withNulls))
    val back = AvroCodec.decodeFrameEvolved(spark, encoded,
      Schemas.reclamacoesEvolvedAvsc)
      .orderBy("instituicao_financeira").collect()
    assert(back.length == 2)
    assert(!back.head.schema.fieldNames.contains("indice"),
      "dropped writer field leaked into the reader-shaped output")
    val banco = back.head
    assert(banco.getAs[String]("instituicao_financeira") == "BANCO EXEMPLO S.A.")
    assert(banco.getAs[String]("ano") == "2022")
    // the field AFTER the dropped one must survive the skip intact —
    // the byte-offset check that catches a wrong resolution
    assert(banco.getAs[String]("quantidade_de_reclamacoes_reguladas_procedentes") == "130")
    assert(banco.getAs[String]("origem") == null, "null-union default not applied")
    assert(banco.getAs[String]("fonte") == "bcb", "string default not applied")
    val semCnpj = back.last
    assert(semCnpj.getAs[String]("cnpj_if") == null)
    assert(semCnpj.getAs[String]("quantidade_de_clientes_scr") == null)
    assert(semCnpj.getAs[String]("fonte") == "bcb")
  }

  test("schema evolution: same-schema reader arg is byte-for-byte the q09 round-trip") {
    // the evolved-decode machinery with reader == writer must be the
    // identity round-trip — pins that the resolution path itself adds
    // nothing when there is nothing to resolve
    val encoded = AvroCodec.encodeFrame(spark, frame(sample))
    val a = AvroCodec.decodeFrame(spark, encoded).collect().head
    val b = AvroCodec.decodeFrameEvolved(spark, encoded,
      Schemas.reclamacoesAvsc).collect().head
    assert(Schemas.reclamacoesColumns.forall(c =>
      a.getAs[String](c) == b.getAs[String](c)))
  }

  test("fixture CSV through the whole batch pipeline yields decodable values") {
    val dir = tmpDir("pipe_csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      (CsvSource.bcbHeader + "\n" +
        "2022;1º;Cat;Banco;1;B;2;3;4;5;6;7;8;9\n")
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    val values = Pipeline.valuesBatch(spark, dir).collect()
    assert(values.length == 1)
    val back = AvroCodec.decodeFrame(spark,
      Pipeline.valuesBatch(spark, dir)).collect().head
    assert(back.getAs[String]("ano") == "2022")
    assert(back.getAs[String]("quantidade_de_clientes_scr") == "9")
  }
}
