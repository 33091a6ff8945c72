package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One pass, in seed-shuffled order, over a fixed sample of the declared
  * queries. Each query's whole output is computed and written to a
  * parquet dump (every column of every row; `run.py` hashes the dumps
  * against the oracle). Each query runs in its own job group under a
  * wall budget; a query that throws or passes the budget is a failed op,
  * and a cut query keeps its time up to the cut. */
object QueryPass {

  /** Every declared query, tagged with the module that declares it. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "ScanProject" -> ScanProject.defs, "Joins" -> Joins.defs,
    "Aggregates" -> Aggregates.defs, "Windows" -> Windows.defs,
    "SortSetOps" -> SortSetOps.defs, "Subqueries" -> Subqueries.defs,
    "Functions" -> Functions.defs, "StreamWindows" -> StreamWindows.defs,
    "Profiling" -> Profiling.defs, "LlmOps" -> LlmOps.defs,
    "CorpusOps" -> CorpusOps.defs, "Composition" -> Composition.defs,
    "CorpusAudit" -> CorpusAudit.defs, "TokenStats" -> TokenStats.defs,
    "Curation" -> Curation.defs, "GraphOps" -> GraphOps.defs,
    "MultiModal" -> MultiModal.defs, "SegmentOps" -> SegmentOps.defs)

  /** The sample, one or more queries from each of the 18 modules, so that
    * every `queries.<Module>_s` layer is measured. Per module it is the
    * query with a DuckDB oracle that ran fastest fully materialized at
    * sf0.01 on a 4-core VM, except where a module's corpus path has its
    * own query: LlmOps is represented by q173 (set-similarity join, the
    * sorted-intersect verify) and CorpusOps by q75 (kNN similarity join);
    * GraphOps' cheapest, q111, runs graph rounds. Added to those: the four
    * queries without an oracle (q25, q28, q106, q89; checked against
    * stored outputs and, for the sketches, against exact answers) and
    * q151, which passes the budget at the seed commit. */
  val Sample: Seq[String] = Seq(
    "q04_null_normalize", "q13_join_semi", "q29_agg_stats", "q30_window_rank",
    "q35_topk", "q44_subquery_exists", "q59_regexp_extract", "q66_stateful_counters",
    "q102_column_profile", "q173_setsim_join", "q75_knn_join", "q137_minwise_panel",
    "q164_pii_prevalence", "q129_token_budget", "q76_curation_pipeline", "q111_pagerank",
    "q93_multimodal_framesample", "q127_iqr_outliers",
    "q25_agg_approx_distinct", "q28_agg_approx_percentile", "q106_hll_rollup",
    "q89_dedup_simhash", "q151_repetition_profile")

  private def all: Seq[(String, String, Q)] =
    modules.flatMap { case (m, defs) => defs.toSeq.map { case (n, q) => (m, n, q) } }.sortBy(_._2)

  def sample: Seq[(String, String, Q)] = {
    val picked = all.filter(e => Sample.contains(e._2))
    val missing = Sample.filterNot(n => picked.exists(_._2 == n))
    val uncovered = modules.map(_._1).filterNot(m => picked.exists(_._1 == m))
    require(missing.isEmpty && uncovered.isEmpty,
      s"query sample: unknown ${missing.mkString(",")}; modules left out ${uncovered.mkString(",")}")
    picked
  }

  /** Run untimed before the pass: three queries outside the sample, one
    * relational and two corpus. A long-lived session has compiled the
    * planner and scheduler paths every query shares; without a warm-up,
    * whichever queries the seed puts first pay for that, and the
    * per-query walls move with the order. */
  val Warmup: Seq[String] = Seq("q61_", "q125_", "q170_")

  /** Per-query wall budget, seconds. */
  val BudgetS: Double = 6.0

  /** `heapMb`: heap in use after a GC with the query's caches held (0 when
    * not read); `heldMb`: that reading minus `beforeMb`, the reading after
    * the previous query released its state; `releasedMb`: the reading
    * after this query released its own. */
  final case class Outcome(module: String, name: String, wallS: Double, status: String,
      error: String, cacheFrames: Int, heapMb: Double, heldMb: Double, releasedMb: Double)

  /** Run one query: build its frame, write its whole output, drain its
    * caches. Returns wall seconds and a status (ok / error / budget). */
  def runOne(ctx: Ctx, module: String, name: String, q: Q, dump: String,
      timer: java.util.concurrent.ScheduledExecutorService, kind: String,
      beforeMb: Double): Outcome = {
    val sc = ctx.spark.sparkContext
    val group = s"perfbench-$name"
    @volatile var cut = false
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val budgetMs = (BudgetS * 1000).toLong
    val alarm = timer.schedule(new Runnable {
      def run(): Unit = { cut = true; sc.cancelJobGroup(group) }
    }, budgetMs, TimeUnit.MILLISECONDS)
    var error = ""
    var frames = 0
    var heldS = 0.0 // the heap reading between action and drain is not the query's time
    var heapMb = 0.0
    val (_, span) = ctx.spans(name, kind) {
      ctx.own(ctx.spans.current)
      try {
        val df: DataFrame = q(ctx.spark, ctx.args.data)
        ctx.planning.foreach(_.record(df.queryExecution))
        df.write.mode("overwrite").parquet(dump)
      } catch {
        case NonFatal(e) => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally {
        alarm.cancel(false)
        frames = graft.core.CacheScope.size
        val h0 = System.nanoTime()
        // a cut query's cancelled tasks may still hold memory: no reading
        if (kind == "query" && !cut) heapMb = HeapPeak.sample()
        heldS = (System.nanoTime() - h0) / 1e9
        graft.core.CacheScope.drain()
      }
    }
    val wall = span - heldS
    sc.clearJobGroup()
    if (cut) awaitIdle(ctx.spark)
    val releasedMb = awaitReleased(ctx.spark)
    val status = if (cut || wall > BudgetS) "budget" else if (error.nonEmpty) "error" else "ok"
    Outcome(module, name, if (status == "budget") math.min(wall, BudgetS) else wall, status, error,
      frames, heapMb, if (heapMb > 0) heapMb - beforeMb else 0.0, releasedMb)
  }

  /** The drain unpersists without blocking, and broadcasts and shuffle
    * files are cleaned only after a GC; wait, untimed, until the released
    * blocks have left the block manager, collect, give the cleaner time to
    * drop what the collection let it find, and collect again. Returns the
    * heap in use after that, MB: what the next query starts from. */
  private def awaitReleased(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (spark.sparkContext.getRDDStorageInfo.exists(_.numCachedPartitions > 0) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    System.gc()
    Thread.sleep(100)
    HeapPeak.sample()
  }

  /** After a cut, let the cancelled tasks leave the cores (a task notices
    * the interrupt only between rows) before the next query is timed. */
  private def awaitIdle(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((tracker.getActiveJobIds().nonEmpty ||
        tracker.getExecutorInfos.exists(_.numRunningTasks > 0)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  def run(ctx: Ctx): WorkloadResult = {
    val order = new scala.util.Random(ctx.args.seed).shuffle(sample)
    val dumps = ctx.args.work.resolve("dumps")
    java.nio.file.Files.createDirectories(dumps)
    val timer = Executors.newSingleThreadScheduledExecutor()
    ctx.tracing(false)
    val warm = try all.filter(e => Warmup.exists(p => e._2.startsWith(p))).map { case (m, n, q) =>
      runOne(ctx, m, n, q, ctx.args.work.resolve("warmup").resolve(n).toString, timer, "warmup", 0)
    } finally ctx.tracing(true)
    val startMb = warm.last.releasedMb
    var beforeMb = startMb
    // traced run: every other query also runs once untraced, alternately
    // before and after its traced run, for trace_overhead_share
    val twins = scala.collection.mutable.ArrayBuffer.empty[(Outcome, Outcome)]
    val (outcomes, _) = ctx.spans("pass", "pass") {
      order.zipWithIndex.map { case ((m, n, q), i) =>
        def one(kind: String) = {
          val o = runOne(ctx, m, n, q, dumps.resolve(n).toString, timer, kind, beforeMb)
          beforeMb = o.releasedMb
          o
        }
        def untraced() = {
          ctx.tracing(false)
          try one("query_untraced") finally ctx.tracing(true)
        }
        val twinFirst = if (ctx.args.trace && i % 4 == 0) Some(untraced()) else None
        val o = one("query")
        val twin = twinFirst.orElse(if (ctx.args.trace && i % 4 == 2) Some(untraced()) else None)
        twin.foreach(u => twins += ((o, u)))
        System.err.println(f"[perfbench] ${o.status}%-6s ${o.wallS}%7.3f s  $n")
        o
      }
    }
    timer.shutdownNow()
    val walls = outcomes.map(_.wallS)
    // the heap at the start of the pass plus the most one query holds above
    // the heap it started from: the retained bookkeeping of the queries
    // before it, which grows with their number and so with the seed's
    // order, does not decide the figure
    val heapPeakMb = startMb + outcomes.filter(_.heapMb > 0).map(_.heldMb).maxOption.getOrElse(0.0)
    val e2e = Seq(
      "heap_peak_mb" -> heapPeakMb,
      "work_wall_s" -> walls.sum,
      // every query's wall enters the geometric mean, so a query's
      // position in the seed's order, which moves its wall (the JVM keeps
      // warming through the pass), cancels out; a median is decided by
      // the few queries near the middle and moves with the order
      "op_geomean_s" -> Main.geomean(walls),
      "op_p90_s" -> Main.quantile(walls, 0.9))
    val traced = if (!ctx.args.trace) Nil else {
      val perModule = modules.map { case (m, _) =>
        s"queries.${m}_s" -> outcomes.filter(_.module == m).map(_.wallS).sum }
      val cache = Seq(
        "core.cache_frames" -> outcomes.map(_.cacheFrames).sum.toDouble,
        "core.cache_peak_mb" -> ctx.runtime.map(_.storagePeak.get / 1048576.0).getOrElse(0.0))
      val windows = ctx.spans.all.filter(_.kind == "query").map(sp => (sp.start, sp.end))
      // geometric mean of traced / untraced over the pairs, so the second
      // run's advantage cancels between the two orders whatever the
      // queries' sizes; pairs with a cut run carry the budget, not tracing
      val logRatios = twins.collect { case (t, u) if t.status == "ok" && u.status == "ok" =>
        math.log(t.wallS / u.wallS) }
      perModule ++ cache ++ ctx.sparkMetrics(windows) ++ Seq(
        "trace_overhead_share" -> (math.exp(logRatios.sum / logRatios.size) - 1))
    }
    val ops = outcomes.map(o => Map("name" -> o.name, "module" -> o.module, "wall_s" -> o.wallS,
      "status" -> o.status, "heap_mb" -> o.heapMb, "heap_held_mb" -> o.heldMb, "error" -> o.error))
    WorkloadResult(e2e ++ traced, ops,
      Map("budget_s" -> BudgetS, "approx_bounds" -> approxBounds(ctx)))
  }

  /** The accuracy contracts of the sketch queries (q25, q28, q106), held
    * against exact answers on the same tables: distinct counts within
    * 5%, percentiles within 2%, and q106's rollup within 5% of both the
    * directly built whole-day sketch and the exact distinct count.
    * Untimed; runs after the pass. */
  def approxBounds(ctx: Ctx): Map[String, Any] = {
    import org.apache.spark.sql.functions._
    val spark = ctx.spark
    val dir = ctx.args.data
    def rel(a: Double, e: Double) = math.abs(a - e) / e
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val approxD = Aggregates.q25ApproxDistinct(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactD = li.groupBy(col("l_returnflag")).agg(countDistinct(col("l_partkey")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q25 = exactD.map { case (f, n) => rel(approxD(f).toDouble, n.toDouble) }.max
    val approxP = Aggregates.q28ApproxPercentile(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exactP = li.groupBy(col("l_returnflag")).agg(
      expr("percentile(l_extendedprice, 0.5)"), expr("percentile(l_extendedprice, 0.95)"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val q28 = exactP.map { case (f, (p50, p95)) =>
      val (a50, a95) = approxP(f)
      math.max(rel(a50, p50), rel(a95, p95)) }.max
    val ev = graft.queries.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    val direct = ev.groupBy(col("day"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactU = ev.groupBy(col("day")).agg(countDistinct(col("user_id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rolled = Aggregates.q106HllRollup(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val q106Direct = rolled.map { case (d, est) => rel(est.toDouble, direct(d).toDouble) }.max
    val q106Exact = rolled.map { case (d, est) => rel(est.toDouble, exactU(d).toDouble) }.max
    graft.core.CacheScope.drain()
    val ok = q25 < 0.05 && q28 < 0.02 && q106Direct < 0.05 && q106Exact < 0.05
    Map("q25_max_rel_err" -> q25, "q28_max_rel_err" -> q28,
      "q106_union_vs_direct_rel" -> q106Direct, "q106_max_rel_err" -> q106Exact, "ok" -> ok)
  }
}
