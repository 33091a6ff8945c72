package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `run.py` builds it, generates the
  * seeded inputs, launches it once per run and checks its outputs.
  *
  * Usage: perfbench.Main --workload <producer|queries> --seed <n> --trace <0|1>
  *   --work <dir> --data <tables dir> --cores <n> --inputs <producer inputs>
  *   --burst-size <files> --burst-interval-ms <ms>
  *
  * It writes `<work>/record.json` (metrics, per-op records) and, when
  * traced, `<work>/spans.jsonl`. */
object Main {

  final case class Args(workload: String, seed: Long, trace: Boolean,
      work: Path, data: String, cores: Int, inputs: Path, burstSize: Int, burstIntervalMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("data")).toAbsolutePath.toString,
      get("cores").toInt, Paths.get(m.getOrElse("inputs", ".")).toAbsolutePath,
      m.getOrElse("burst-size", "5").toInt, m.getOrElse("burst-interval-ms", "1000").toLong)
  }

  /** Times of one setup: session build, then the engine's fixtures
    * (CSV/JSON/ORC copies and q38's bucketed tables). */
  final case class SetupTimes(sessionS: Double, fixturesS: Double) {
    def total: Double = sessionS + fixturesS
  }

  val SetupReps = 3

  /** Build the shipped session and the engine's fixtures from scratch,
    * each time in fresh scratch and warehouse directories so nothing from
    * an earlier repetition is reused. */
  def setupOnce(args: Args, rep: Int): (SparkSession, SetupTimes) = {
    val dir = args.work.resolve(s"setup$rep")
    Files.createDirectories(dir.resolve("tmp"))
    System.setProperty("java.io.tmpdir", dir.resolve("tmp").toString)
    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.getOrCreate(s"local[${args.cores}]", args.cores,
      Map("spark.ui.enabled" -> "false",
        "spark.sql.warehouse.dir" -> dir.resolve("warehouse").toString))
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    graft.ingest.Fixtures.messyLineitemCsv(spark, args.data)
    graft.ingest.Fixtures.lineitemJson(spark, args.data)
    graft.ingest.Fixtures.lineitemOrc(spark, args.data)
    graft.queries.Joins.q38Tables(spark, args.data)
    val t2 = System.nanoTime()
    (spark, SetupTimes((t1 - t0) / 1e9, (t2 - t1) / 1e9))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmBootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Files.createDirectories(args.work)

    // set-up, repeated: all but the last session are stopped again
    val setups = (1 to SetupReps).map { rep =>
      val (spark, times) = setupOnce(args, rep)
      if (rep < SetupReps) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      (spark, times)
    }
    val spark = setups.last._1
    val setupTimes = setups.map(_._2)
    // JVM boot (start to main) is recorded but not part of setup_s: it is
    // one reading per process and was bimodal on a shared 4-core VM
    // (0.4 or 1.2 s), which would decide the median on its own
    val setupS = median(setupTimes.map(_.total))

    Steal.start()
    val spans = new Spans(args.trace, s"${args.workload}-${args.seed}")
    val ctx = new Ctx(args, spark, spans)
    val result = spans(args.workload, "workload") {
      args.workload match {
        case "producer" => Producer.run(ctx)
        case "queries" => QueryPass.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    }._1
    // a traced run also times the layers below its workload: the batch
    // ingest path and the Avro encoder for the producer, the corpus
    // kernels for the query pass (run.py reads 0 for the others)
    val producer = args.workload == "producer"
    val kernels = if (!args.trace) Nil else if (producer) Kernels.producer(ctx) else Kernels.corpus(ctx)
    val layer = if (!args.trace) Nil else Seq(
      "core.session_build_s" -> median(setupTimes.map(_.sessionS)),
      "core.fixtures_s" -> median(setupTimes.map(_.fixturesS))) ++
      (if (producer) IngestLayers.run(ctx, Producer.inputs(args.inputs)) else Nil) ++
      kernels.map(t => s"kernel.${t.name}_ns" -> t.nsPerRow)
    val metrics = Seq("setup_s" -> setupS) ++
      result.metrics ++ layer
    val record = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "cores" -> args.cores,
      "setup_reps" -> setupTimes.map(t =>
        Map("session_s" -> t.sessionS, "fixtures_s" -> t.fixturesS)),
      "jvm_boot_s" -> jvmBootS,
      "steal_cpus" -> Steal.cpus,
      "metrics" -> metrics.map { case (k, v) => k -> Json.num(v) }.toMap,
      "ops" -> result.ops,
      "kernels" -> kernels.map(t => Map("name" -> t.name, "ns_per_row" -> t.nsPerRow,
        "rows" -> t.rows, "input_bytes" -> t.inputBytes)),
      "extra" -> result.extra)
    Files.writeString(args.work.resolve("record.json"), Json.write(record) + "\n")
    if (args.trace) spans.writeJsonl(args.work.resolve("spans.jsonl"))
    spark.stop()
  }
}

/** CPUs stolen by the hypervisor on average since `start` (from
  * /proc/stat; -1 where unreadable), recorded so a contended run shows. */
object Steal {
  private def jiffies(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toLong else -1L
      } finally f.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }
  private var t0 = 0L; private var s0 = -1L
  def start(): Unit = { t0 = System.nanoTime(); s0 = jiffies() }
  def cpus: Double = {
    val s1 = jiffies()
    if (s0 < 0 || s1 < 0) -1.0 else (s1 - s0) / 100.0 / ((System.nanoTime() - t0) / 1e9)
  }
}

/** What one workload run hands back to [[Main]]: metrics, one record per
  * op, and workload-specific fields, as values [[Json]] can write. Which
  * ops failed is judged by run.py's output checks. */
final case class WorkloadResult(metrics: Seq[(String, Double)], ops: Seq[Map[String, Any]],
    extra: Map[String, Any])

/** JSON through the Jackson mapper Spark ships, with its Scala module
  * (Scala maps, sequences and options). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): JsonNode = mapper.readTree(s)

  /** A metric value: JSON has no NaN or infinity, so those become null. */
  def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
}

/** Shared run context: arguments, session, spans and, when traced, the
  * Spark listeners. */
final class Ctx(val args: Main.Args, val spark: SparkSession, val spans: Spans) {
  val runtime: Option[RuntimeListener] =
    if (args.trace) Some(new RuntimeListener(spans)) else None
  val planning: Option[PlanningListener] =
    if (args.trace) Some(new PlanningListener(spans)) else None
  tracing(true)

  /** Attach (or detach) the listeners, so a traced run can also time
    * an untraced stretch for the tracing overhead. */
  def tracing(on: Boolean): Unit = {
    runtime.foreach(l =>
      if (on) spark.sparkContext.addSparkListener(l) else spark.sparkContext.removeSparkListener(l))
    planning.foreach(l =>
      if (on) spark.listenerManager.register(l) else spark.listenerManager.unregister(l))
  }

  /** Make `span` the owner of the jobs and plans submitted next. */
  def own(span: Long): Unit = {
    runtime.foreach(_.owner = span)
    planning.foreach(_.owner = span)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def settle(): Unit = if (args.trace) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** The spark.* runtime metrics over windows of epoch-ms time. */
  def sparkMetrics(windows: Seq[(Double, Double)]): Seq[(String, Double)] = {
    settle()
    def total(f: (Double, Double) => Double) = windows.map { case (a, b) => f(a, b) }.sum
    (runtime, planning) match {
      case (Some(rt), Some(pl)) =>
        val ts = windows.flatMap { case (a, b) => rt.tasksIn(a, b) }
        val wallMs = total((a, b) => b - a)
        Seq(
          "spark.analysis_s" -> total(pl.seconds("analysis", _, _)),
          "spark.optimization_s" -> total(pl.seconds("optimization", _, _)),
          "spark.planning_s" -> total(pl.seconds("planning", _, _)),
          "spark.jobs" -> total(rt.jobsIn(_, _).toDouble),
          "spark.stages" -> total(rt.stagesIn(_, _).toDouble),
          "spark.tasks" -> ts.size.toDouble,
          "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
          "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
          "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0,
          "spark.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
          "spark.spill_mb" -> ts.map(_.spill).sum / 1048576.0,
          "spark.driver_only_s" -> total(rt.idleMs(_, _)) / 1e3,
          "spark.core_busy_share" -> ts.map(_.runMs).sum / (wallMs * args.cores))
      case _ => Nil
    }
  }
}
