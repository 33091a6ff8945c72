package graft.ingest

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.Schemas

/** The reference input contract end-to-end on the FIXTURES.md §B sample:
  * `;` delimiter, ISO-8859-1 bytes, accented Portuguese headers, empty
  * cells → null, non-schema `Extra` column silently dropped. */
class CanonicalizeSpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = tmpDir("reclamacoes_csv")
    val content =
      CsvSource.bcbHeader + ";Extra\n" +
      "2022;1º;Bancos e financeiras;Banco;00000000;BANCO EXEMPLO S.A.;25,91;130;22;5;157;10000000;9000000;1000000;drop-me\n" +
      "2022;1º;Bancos e financeiras;Banco;;BANCO SEM CNPJ;;0;;;0;500;400;;x\n"
    Files.write(Paths.get(dir, "fixture.csv"),
      content.getBytes(Charset.forName("ISO-8859-1")))
    dir
  }

  test("reclamacoes fixture: headers sanitize, Extra drops, empties null") {
    val canon = Pipeline.canonicalBatch(spark, writeFixture())
    assert(canon.columns.toSeq == Schemas.reclamacoesColumns)

    val rows = canon.orderBy("cnpj_if").collect()
    assert(rows.length == 2)

    val r2 = rows.head // empty cnpj sorts first (null)
    val r1 = rows.last
    assert(r1.getAs[String]("instituicao_financeira") == "BANCO EXEMPLO S.A.")
    assert(r1.getAs[String]("indice") == "25,91")
    assert(r1.getAs[String]("quantidade_total_de_clientes_ccs_e_scr") == "10000000")

    assert(r2.getAs[String]("cnpj_if") == null)
    assert(r2.getAs[String]("indice") == null)
    assert(r2.getAs[String]("quantidade_de_reclamacoes_reguladas_outras") == null)
    assert(r2.getAs[String]("quantidade_de_reclamacoes_nao_reguladas") == null)
    assert(r2.getAs[String]("quantidade_de_clientes_scr") == null)
    assert(r2.getAs[String]("quantidade_de_clientes_ccs") == "400")
  }

  test("typed cast honors settings.py int intent with try_cast nulls") {
    val typed = Canonicalize(
      CsvSource.readBatch(spark, writeFixture()), Schemas.reclamacoesTyped)
    val r = typed.orderBy("cnpj_if").collect().last
    assert(r.getAs[Int]("quantidade_de_reclamacoes_reguladas_procedentes") == 130)
    assert(typed.schema("quantidade_total_de_reclamacoes").dataType.typeName == "integer")
  }

  test("missing schema column materializes as null column") {
    val dir = tmpDir("partial_csv")
    Files.write(Paths.get(dir, "p.csv"),
      "Ano;Tipo\n2023;Banco\n".getBytes(Charset.forName("ISO-8859-1")))
    val canon = Pipeline.canonicalBatch(spark, dir)
    val r = canon.collect().head
    assert(r.getAs[String]("ano") == "2023")
    assert(r.getAs[String]("categoria") == null)
  }
}
