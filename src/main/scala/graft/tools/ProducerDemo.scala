package graft.tools

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.ingest.{AvroCodec, CsvSource, ParquetSink, Pipeline}

/** Runnable demo of the whole producer (the reference's `python -m
  * ex8_producer.app`, Spark-shaped): CSVs appear under a prefix → the
  * streaming pipeline canonicalizes + Avro-encodes → a durable sink.
  * Usage: runMain graft.tools.ProducerDemo [workDir] */
object ProducerDemo {
  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty) args(0)
      else Files.createTempDirectory("graft_producer").toString
    val src = s"$work/incoming"; val out = s"$work/values"
    Files.createDirectories(Paths.get(src))

    val header = CsvSource.bcbHeader + "\n"
    Files.write(Paths.get(src, "t0.csv"),
      (header + "2022;1º;Bancos;Banco;123;BANCO UM;9,5;1;2;3;4;5;6;7\n")
        .getBytes(Charset.forName("ISO-8859-1")))

    val spark = graft.core.GraftSession.getOrCreate("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")

    val q = Pipeline.run(spark, src, ParquetSink(out, s"$work/ckpt"),
      Trigger.ProcessingTime(0))
    q.processAllAvailable()
    // a second file lands mid-flight — ledger must pick up only the delta
    Files.write(Paths.get(src, "t1.csv"),
      (header + "2023;2º;Bancos;Banco;456;BANCO DOIS;8,1;9;8;7;6;5;4;3\n")
        .getBytes(Charset.forName("ISO-8859-1")))
    q.processAllAvailable()
    q.stop()

    val values = spark.read.parquet(out)
    println(s"[demo] value rows: ${values.count()}")
    AvroCodec.decodeFrame(spark, values).orderBy("ano")
      .select("ano", "instituicao_financeira", "cnpj_if").show(false)
    spark.stop()
  }
}
