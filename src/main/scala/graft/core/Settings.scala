package graft.core

/** Env-backed runtime config mirroring the reference's settings surface
  * (`settings.py:1-20`): same variable names, same defaults, same
  * required-at-startup triple (`app.py:202-203`). S3 credentials map
  * onto `spark.hadoop.fs.s3a.*` when a real cluster is configured; local
  * runs use `file://` paths. The reference's three pacing constants
  * (`settings.py:4-6`) have no field: chunk pacing is deliberately not
  * reproduced (see [[graft.ingest.Pipeline]]), and the 60 s cadence is
  * [[graft.ingest.Sinks.ReferenceCadence]].
  */
final case class Settings(
    awsDefaultRegion: Option[String],
    awsAccessKeyId: Option[String],
    awsSecretAccessKey: Option[String],
    awsEndpointUrl: Option[String],
    s3BucketName: Option[String],
    s3PathPrefix: String,
    kafkaBootstrapServers: String,
    kafkaTopic: String) {

  /** Startup validation parity with `app.py:202-203`. */
  def validated: Settings = {
    val missing = Seq(
      "S3_BUCKET_NAME" -> s3BucketName.isEmpty,
      "KAFKA_BOOTSTRAP_SERVERS" -> kafkaBootstrapServers.isEmpty,
      "KAFKA_TOPIC" -> kafkaTopic.isEmpty).collect { case (n, true) => n }
    require(missing.isEmpty, s"Missing required settings: ${missing.mkString(", ")}")
    this
  }

  /** `s3a://bucket/prefix` source root (batch or streaming). */
  def sourceRoot: String =
    s"s3a://${s3BucketName.getOrElse("")}/$s3PathPrefix"

  /** Hadoop S3A configuration derived from the reference's AWS env
    * surface (`settings.py:11-16`, consumed by the boto3 client at
    * `app.py:41-57`) — the Spark-native deployment path for the
    * `s3a://` reads behind [[sourceRoot]]. Only present values are
    * emitted: absent keys fall back to the provider-chain default
    * (instance profile etc.), matching boto3's behavior. */
  def s3aConfigs: Map[String, String] = (
    awsAccessKeyId.map("spark.hadoop.fs.s3a.access.key" -> _) ++
      awsSecretAccessKey.map("spark.hadoop.fs.s3a.secret.key" -> _) ++
      awsEndpointUrl.map("spark.hadoop.fs.s3a.endpoint" -> _) ++
      // a custom endpoint (MinIO etc.) usually can't resolve
      // virtual-host bucket names; boto3 auto-falls-back to path-style
      // for such endpoints, so the reference works where virtual-host
      // S3A would fail bucket resolution — mirror that fallback
      awsEndpointUrl.map(_ => "spark.hadoop.fs.s3a.path.style.access" -> "true") ++
      awsDefaultRegion.map("spark.hadoop.fs.s3a.endpoint.region" -> _)
  ).toMap
}

/** [EXT] Sketch geometry for the LLM-pipeline dedup/ANN ops
  * (q81/q88/q89/q91/q92): the knobs that must scale with corpus size.
  * The declared queries run [[SketchGeometry.defaults]]; ScaleProbe and
  * the specs pass other geometries to the `*WithGeometry` cores. The
  * scaling derivations live at the use sites in `graft.queries.LlmOps`;
  * the operational rule of thumb:
  *
  *  - `simhashBandBits`, `srpBits` grow ~log2(corpus) to keep expected
  *    bucket occupancy (n·bands/2^bits resp. n/2^bits) bounded;
  *  - `minhashK`/`minhashRowsPerBand` set the LSH S-curve threshold
  *    (~(1/bands)^(1/rows)) — tune to the target Jaccard cut;
  *  - `shingleDfCap` bounds the q88 inverted-index fan-out (work is
  *    Σ df² per shingle ⇒ capped at df·cap, linear in corpus);
  *  - `srpProbeRadius` is q91's recall-vs-work knob: each ANN query
  *    probes every bucket within that hamming distance of its own code
  *    (Σ C(srpBits, r) probes) — raise it to buy recall, shrink it as
  *    srpBits grows with corpus size to keep the probed fraction of
  *    2^srpBits small;
  *  - `embeddingDim` is the corpus's embedding width (the SRP projection
  *    matrix is embeddingDim wide) — a property of the upstream
  *    embedding model, set once per corpus;
  *  - `bandOccupancyCap` bounds candidate fan-out from hot LSH bands
  *    (boilerplate-heavy corpora): a band with occupancy b yields b²/2
  *    pairs, so dropping bands past the cap keeps candidate generation
  *    linear; near-dup clusters smaller than the cap are unaffected;
  *  - `deconShingleN` is q63's decontamination n-gram width: production
  *    decontamination uses 8–13-token shingles (a 3-gram flags
  *    incidental phrase overlap; a 13-gram only near-verbatim leaks) —
  *    the default stays 3 so the sf0.01 oracle hashes are stable; a
  *    real corpus wants 8..13.
  */
final case class SketchGeometry(
    minhashK: Int,
    minhashRowsPerBand: Int,
    shingleDfCap: Int,
    simhashBandBits: Int,
    srpBits: Int,
    srpProbeRadius: Int,
    embeddingDim: Int,
    bandOccupancyCap: Int,
    deconShingleN: Int,
    oovVocabSize: Int) {
  require(minhashK > 0 && minhashRowsPerBand > 0 && minhashK % minhashRowsPerBand == 0,
    s"minhashK ($minhashK) must be a positive multiple of minhashRowsPerBand ($minhashRowsPerBand)")
  require(simhashBandBits > 0 && 64 % simhashBandBits == 0,
    s"simhashBandBits ($simhashBandBits) must divide 64")
  require(srpBits > 0 && srpBits <= 30, s"srpBits ($srpBits) out of range (1..30)")
  require(srpProbeRadius >= 0 && srpProbeRadius <= srpBits,
    s"srpProbeRadius ($srpProbeRadius) out of range (0..srpBits=$srpBits)")
  require(embeddingDim > 0, s"embeddingDim ($embeddingDim) must be positive")
  require(shingleDfCap > 1, s"shingleDfCap ($shingleDfCap) must exceed 1")
  require(bandOccupancyCap > 1, s"bandOccupancyCap ($bandOccupancyCap) must exceed 1")
  require(deconShingleN >= 2, s"deconShingleN ($deconShingleN) must be at least 2")
  require(oovVocabSize > 0, s"oovVocabSize ($oovVocabSize) must be positive")

  /** LSH bands for MinHash (q81). */
  def minhashBands: Int = minhashK / minhashRowsPerBand
  /** Band slices of the 64-bit SimHash sketch (q89). */
  def simhashBands: Int = 64 / simhashBandBits
  /** SRP bucket count (q91/q92). */
  def srpBuckets: Int = 1 << srpBits
  /** q91 multi-probe masks per query: Σ_{r=0..radius} C(srpBits, r). */
  def srpProbeCount: Int =
    (0 to srpProbeRadius).map(r =>
      (0 until r).foldLeft(1L)((acc, i) => acc * (srpBits - i) / (i + 1)).toInt).sum
}

object SketchGeometry {
  /** The sf0.001–0.1 geometry every CORRECTNESS/BENCH run uses. */
  val defaults: SketchGeometry = SketchGeometry(
    minhashK = 12, minhashRowsPerBand = 3, shingleDfCap = 20,
    simhashBandBits = 16, srpBits = 8, srpProbeRadius = 2, embeddingDim = 64,
    bandOccupancyCap = 1000, deconShingleN = 3,
    // matched to the synthetic corpus's 31-token vocabulary so the OOV
    // tail is non-empty at every test SF; production corpora size this
    // to the tokenizer's vocab budget (32k-128k)
    oovVocabSize = 16)
}

object Settings {
  /** Defaults from `settings.py:17-18`. */
  def fromEnv(env: Map[String, String] = sys.env): Settings = Settings(
    awsDefaultRegion = env.get("AWS_DEFAULT_REGION"),
    awsAccessKeyId = env.get("AWS_ACCESS_KEY_ID"),
    awsSecretAccessKey = env.get("AWS_SECRET_ACCESS_KEY"),
    awsEndpointUrl = env.get("AWS_ENDPOINT_URL"),
    s3BucketName = env.get("S3_BUCKET_NAME"),
    s3PathPrefix = env.getOrElse("S3_PATH_PREFIX", ""),
    kafkaBootstrapServers = env.getOrElse("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"),
    kafkaTopic = env.getOrElse("KAFKA_TOPIC", "my-topic"))
}
