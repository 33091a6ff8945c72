package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Config parity with the reference's settings surface
  * (`settings.py:1-20`, startup validation `app.py:202-203`) and the
  * S3A mapping that carries its AWS env vars onto Spark's Hadoop
  * config. */
class SettingsSpec extends AnyFunSuite {

  private val fullEnv = Map(
    "AWS_DEFAULT_REGION" -> "us-east-1",
    "AWS_ACCESS_KEY_ID" -> "AKIAEXAMPLE",
    "AWS_SECRET_ACCESS_KEY" -> "secret",
    "AWS_ENDPOINT_URL" -> "http://minio:9000",
    "S3_BUCKET_NAME" -> "bucket",
    "S3_PATH_PREFIX" -> "incoming/csv",
    "KAFKA_BOOTSTRAP_SERVERS" -> "k1:9092",
    "KAFKA_TOPIC" -> "reclamacoes")

  test("fromEnv reads the reference's variable names and defaults") {
    val s = Settings.fromEnv(fullEnv)
    assert(s.s3BucketName.contains("bucket"))
    assert(s.kafkaBootstrapServers == "k1:9092")
    assert(graft.ingest.Sinks.ReferenceCadence ==        // settings.py:5
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("60 seconds"))
    assert(s.sourceRoot == "s3a://bucket/incoming/csv")
  }

  test("validated requires the reference's startup triple (app.py:202-203)") {
    val bad = Settings.fromEnv(fullEnv - "S3_BUCKET_NAME")
    val ex = intercept[IllegalArgumentException](bad.validated)
    assert(ex.getMessage.contains("S3_BUCKET_NAME"))
    Settings.fromEnv(fullEnv).validated // must not throw
  }

  test("s3aConfigs maps every present AWS env var onto fs.s3a.*") {
    val m = Settings.fromEnv(fullEnv).s3aConfigs
    assert(m == Map(
      "spark.hadoop.fs.s3a.access.key" -> "AKIAEXAMPLE",
      "spark.hadoop.fs.s3a.secret.key" -> "secret",
      "spark.hadoop.fs.s3a.endpoint" -> "http://minio:9000",
      "spark.hadoop.fs.s3a.path.style.access" -> "true",
      "spark.hadoop.fs.s3a.endpoint.region" -> "us-east-1"))
  }

  test("s3aConfigs omits absent keys (provider-chain fallback, like boto3)") {
    val m = Settings.fromEnv(fullEnv -- Seq(
      "AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY", "AWS_ENDPOINT_URL",
      "AWS_DEFAULT_REGION")).s3aConfigs
    assert(m.isEmpty)
  }

  test("path-style access follows the custom endpoint (boto3's MinIO fallback)") {
    val withEndpoint = Settings.fromEnv(fullEnv).s3aConfigs
    assert(withEndpoint.get("spark.hadoop.fs.s3a.path.style.access").contains("true"))
    val noEndpoint = Settings.fromEnv(fullEnv - "AWS_ENDPOINT_URL").s3aConfigs
    assert(!noEndpoint.contains("spark.hadoop.fs.s3a.path.style.access"),
      "path-style must not be forced against real AWS (virtual-host default)")
  }

  test("SketchGeometry: defaults match the shipped sf0.001-0.1 geometry") {
    val g = SketchGeometry.defaults
    assert(g == graft.queries.LlmOps.geom)
    assert(g.minhashBands == 4)
    assert(g.simhashBands == 4)
    assert(g.srpBuckets == 256)
  }

  test("SketchGeometry: env overrides change the derived bucket counts") {
    val g = SketchGeometry.defaults.copy(
      srpBits = 12,
      simhashBandBits = 8,
      minhashK = 20,
      minhashRowsPerBand = 4,
      shingleDfCap = 50,
      bandOccupancyCap = 200)
    assert(g.srpBuckets == 4096, "srp bucket count must follow srpBits")
    assert(g.simhashBands == 8)
    assert(g.minhashBands == 5)
    assert(g.shingleDfCap == 50)
    assert(g.bandOccupancyCap == 200)
  }

  test("SketchGeometry: probe radius and embedding dim are env knobs too") {
    val d = SketchGeometry.defaults
    assert(d.srpProbeRadius == 2 && d.embeddingDim == 64)
    assert(d.srpProbeCount == 37, "default 8 bits @ radius 2 = 1+8+28 probes")
    val g = d.copy(srpProbeRadius = 1, embeddingDim = 128)
    assert(g.srpProbeCount == 9, "radius 1 over 8 bits = 1+8 probes")
    assert(g.embeddingDim == 128)
    assert(d.oovVocabSize == 16)
    assert(d.copy(oovVocabSize = 32768).oovVocabSize == 32768)
  }

  test("SketchGeometry rejects inconsistent geometry loudly") {
    val d = SketchGeometry.defaults
    intercept[IllegalArgumentException](
      d.copy(minhashRowsPerBand = 5)) // 12 % 5 != 0
    intercept[IllegalArgumentException](
      d.copy(simhashBandBits = 7)) // 64 % 7 != 0
    intercept[IllegalArgumentException](
      d.copy(srpBits = 0))
    intercept[IllegalArgumentException]( // probing past every bit is nonsense
      d.copy(srpProbeRadius = 9))
    intercept[IllegalArgumentException](
      d.copy(embeddingDim = 0))
    intercept[IllegalArgumentException](
      d.copy(oovVocabSize = 0))
  }
}
