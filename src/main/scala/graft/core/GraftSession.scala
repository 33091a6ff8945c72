package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's session entry point: a SparkSession builder carrying the
  * configuration this library is designed against ([[GraftSession.conf]])
  * and the engine's extension (`graft.GraftExtensions`: SQL functions and
  * the as-of join strategy).
  *
  * Scale posture defaults (overridable via `extra`):
  *  - AQE on (runtime re-plan: skew joins, coalesced shuffles) — Spark 4
  *    default, pinned explicitly because the engine's plans rely on it;
  *  - shuffle partitions sized to the local machine here; on a real
  *    cluster set it ≈ 2-3× total executor cores, and rely on AQE
  *    coalescing for the small stages;
  *  - 128 MB file split target so a 100 TB scan yields ~800 k tasks, not
  *    8 M;
  *  - UTC session timezone (oracle parity and sane event-time math).
  */
object GraftSession {

  /** AQE partition-coalescing floor (spark.sql.adaptive.coalescePartitions
    * .minPartitionSize): 256k. With
    * parallelismFirst (Spark default) AQE coalesces small shuffle/cache
    * outputs only down to this size, so the floor decides how much
    * PARALLELISM a medium-sized frame keeps. The upstream 1 MB default
    * sized q173's 8 MB cached shingle frame at 7 partitions — its
    * verify self-join (6 CPU-s, ~760 ms/MB of compute density) then ran
    * 7-wide on a 32-core box (measured 1.31 s for that stage; 0.46 s at
    * 25 partitions under 256k). 256k keeps per-task overhead negligible
    * (≥ ~50 ms of compute per task at the engine's densest stages)
    * while kilobyte-sized frames still collapse to one partition.
    * A deployment where per-partition fetch overhead dominates (e.g.
    * many-executor clusters with small shuffles) raises it, say to 1m,
    * through [[builder]]'s `extra` map. */
  val AqeMinPartitionSize: String = "256k"

  /** Shuffle scratch directory (spark.local.dir), env-dialed with a
    * measured default. Precedence, first match wins:
    *  1. `SPARK_LOCAL_DIRS` set: `None`. Spark reads that variable
    *     before `spark.local.dir` (`Utils.getConfiguredLocalDirs`), so
    *     setting both would only log Spark's override warning.
    *  2. `GRAFT_LOCAL_DIR=-`: `None`, Spark's default (java.io.tmpdir).
    *  3. `GRAFT_LOCAL_DIR=<path>`: that path.
    *  4. unset: tmpfs (`/dev/shm/graft-spark-local`) when present and
    *     writable, else `None`.
    *
    * Why (r16, jstack-sampled): a local[N]-with-N-shuffle-partitions
    * shuffle opens M×R block segments on read plus M data+index file
    * pairs on write, and EVERY byte of every exchange passes through
    * them. On this sandbox's root ext4 (mounted `discard,resv_strict`)
    * a small-file create+write measures ~143 µs vs ~9 µs on tmpfs
    * (16×), and under 32 concurrent tasks the executor threads
    * serialized in the kernel: 66% of RUNNABLE executor-thread stack
    * samples during q115 sat in FileOutputStream.open0 /
    * FileChannelImpl.map0/unmap0 / delete0 (the shuffle writer, the
    * local-fetch mmap, and the per-query cleanup). Moving
    * spark.local.dir to tmpfs on the same box, same binary,
    * back-to-back: q115 Σ executorRunTime 72→37 s, wall 3.8→2.5 s;
    * the file-syscall frames vanish from the profile.
    *
    * Deployment note: this dial is the LOCAL harness default. tmpfs
    * pages bill against RAM, so it is right only while shuffle spill
    * stays far under memory (here: MBs per query against a 126 GiB
    * tmpfs). A deployment whose shuffles exceed RAM points
    * GRAFT_LOCAL_DIR at the fastest real disks (the standard
    * spark.local.dir guidance: local NVMe, never network/overlay FS) —
    * same knob, same reasoning, different medium. */
  val LocalDir: Option[String] = localDir(sys.env)

  /** [[LocalDir]] as a function of the environment `env`. */
  private[core] def localDir(env: Map[String, String]): Option[String] =
    if (env.contains("SPARK_LOCAL_DIRS")) None
    else env.get("GRAFT_LOCAL_DIR") match {
      case Some("-")              => None
      case Some(d) if d.nonEmpty  => Some(d)
      case _ =>
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.isWritable(shm))
          Some("/dev/shm/graft-spark-local")
        else None
    }

  /** [[LocalDir]] as builder-ready config entries (empty when default). */
  private val localDirConfig: Map[String, String] =
    LocalDir.map("spark.local.dir" -> _).toMap

  /** RocksDB-backed streaming state — the production posture once join/
    * dedup/session state outgrows executor heap (the default HDFS-backed
    * provider keeps every state row as JVM objects on-heap; at 100 TB a
    * stream-stream join's buffer is tens of GB per executor). RocksDB
    * spills to local disk, and changelog checkpointing ships per-batch
    * deltas instead of re-uploading full SST snapshots. Flag-gated via
    * `GRAFT_STATE_STORE=rocksdb` (the reference's env-config idiom) or
    * the `largeState` builder parameter; the provider class is read per
    * query start, so a spec can also opt in via `spark.conf.set`. */
  val RocksDBProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def stateStoreConfigs(rocksdb: Boolean): Map[String, String] =
    if (!rocksdb) Map.empty
    else Map(
      "spark.sql.streaming.stateStore.providerClass" -> RocksDBProviderClass,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** The engine's session settings — every key the shipped session sets
    * besides the per-call geometry (master, shuffle partitions), the
    * scratch directory and the state store. */
  val conf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Let AQE re-plan CACHED plans too (upstream default is false for
    // output-partitioning stability of cache consumers). Off, every
    // `.persist` materializes at the static spark.sql.shuffle.partitions
    // — the engine's scoped caches (pair/shingle/edge frames, graph
    // intermediates) then hold dozens of near-empty blocks, every
    // downstream stage launches shuffle.partitions tasks regardless of
    // data, and a union of k cached frames multiplies (q148's edge
    // checkpoint materialized 4×32 = 128 partitions for ~20 KB; its
    // propagation rounds each paid 128-task stages). On, AQE sizes
    // cached partitions by bytes (advisoryPartitionSizeInBytes), which
    // is the right answer at EVERY scale: measured at sf0.1/local[32]
    // (r16, same contended window, back-to-back) q148 822→78 tasks and
    // Σtask-time 74→2.7 s, q111 428→56 tasks 50→6 s, q115 610→195
    // tasks 81→27 s. The engine never relies on a cache's output
    // partitioning (no co-partitioned cache⋈cache joins; join keys are
    // re-exchanged or broadcast), so the stability caveat is moot here.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // coalescing floor — see AqeMinPartitionSize scaladoc
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> AqeMinPartitionSize,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.compression.codec" -> "zstd")

  /** The one session configuration: the shipped engine, Bench, Verify,
    * the tools and the test suites all build through here, varying only
    * the geometry and `extra` (e.g. `spark.ui.enabled=false`). */
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      extra: Map[String, String] = Map.empty,
      largeState: Boolean = sys.env.get("GRAFT_STATE_STORE").contains("rocksdb"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      // same wiring as spark.sql.extensions=graft.GraftExtensions —
      // as-of join strategy + engine SQL functions at session build
      .withExtensions(new graft.GraftExtensions)
      .config(conf ++ Map("spark.sql.shuffle.partitions" -> shufflePartitions.toString) ++
        localDirConfig ++ stateStoreConfigs(largeState) ++ extra)

  /** Builder pre-wired with the settings' S3A credential mapping — the
    * production path for reading the reference's `s3a://` source root.
    * (spark.hadoop.* keys are read at SparkContext creation, so this
    * must run before the first session exists.) */
  def builderFor(settings: Settings, master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      extra: Map[String, String] = Map.empty): SparkSession.Builder =
    builder(master, shufflePartitions, settings.s3aConfigs ++ extra)

  /** Local core count of the driver mains (Bench, Verify, the tools):
    * `SPARK_GRAFT_CPUS`, default every available processor. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build the session, or attach to the one already running. A session
    * built here carries the engine's functions and as-of strategy via
    * the extension. Attaching to a session built elsewhere WITHOUT the
    * extension (a spark-shell `spark`) only applies the runtime SQL
    * settings — Spark installs extensions at session construction — so
    * the functions and strategy are then installed once, idempotently
    * (`GraftExtensions.install`). */
  def getOrCreate(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = builder(master, shufflePartitions, extra).getOrCreate()
    graft.GraftExtensions.install(spark)
    spark
  }
}
