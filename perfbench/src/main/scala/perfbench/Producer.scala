package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ingest.{AvroCodec, CsvSource, ParquetSink, Pipeline}

/** The `producer` workload: the shipped streaming producer
  * (`Pipeline.run` into a `ParquetSink`, `ProcessingTime(0)`) over a
  * staged backlog (catch-up), then an open-loop tail of bursts renamed
  * into the prefix on a fixed schedule whether or not the stream keeps
  * up. Inputs come from `gen_producer.py`; `run.py` checks the decoded
  * sink against the generator's counts and checksum. */
object Producer {

  /** One `StreamingQueryProgress`, reduced to what the metrics need. */
  final case class Progress(batchId: Long, startMs: Double, rows: Long,
      durations: Map[String, Long]) {
    def commitMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  final class ProgressLog extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def withData: Seq[Progress] = events.asScala.toSeq.filter(_.rows > 0).sortBy(_.batchId)
    def rows: Long = events.asScala.map(_.rows).sum
  }

  final case class Inputs(dir: Path, files: Map[String, (String, Long, Long)]) {
    def names(k: String): Seq[String] = files.filter(_._2._1 == k).keys.toSeq.sorted
    def rows(k: String): Long = files.values.filter(_._1 == k).map(_._2).sum
    def bytes(k: String): Long = files.values.filter(_._1 == k).map(_._3).sum
  }

  /** Read `expected.json`'s per-file kind, rows and bytes. */
  def inputs(dir: Path): Inputs = {
    val files = Json.read(Files.readString(dir.resolve("expected.json"))).get("files")
    Inputs(dir, files.properties.asScala.map { e =>
      val f = e.getValue
      e.getKey -> (f.get("kind").asText, f.get("rows").asLong, f.get("bytes").asLong)
    }.toMap)
  }

  /** Which micro-batch took each file, from the checkpoint's source log
    * (plain and compacted entries). A file listed under two batches is
    * a duplicate delivery. */
  def sourceLog(ckpt: Path): Seq[(String, Long)] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")).map(Json.read))
      .map(e => (e.get("path").asText.split('/').last, e.get("batchId").asLong)).distinct
  }

  private def await(cond: => Boolean, timeoutS: Double, q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    cond
  }

  final case class StreamRun(t0: Double, backlogCommitMs: Double, progress: Seq[Progress],
      log: Seq[(String, Long)], due: Map[String, Double], lateMs: Seq[Double], error: String)

  /** Start `Pipeline.run` over a fresh prefix holding copies of the
    * `backlog` files, wait for them to commit and, if `bursts`, play the
    * burst schedule and wait for it to drain. */
  def stream(ctx: Ctx, in: Inputs, root: Path, backlog: Seq[(String, String)], bursts: Boolean,
      burstSize: Int, intervalMs: Long): StreamRun = {
    val spark = ctx.spark
    val prefix = root.resolve("prefix"); val out = root.resolve("values")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(prefix)
    backlog.foreach { case (kind, n) =>
      Files.copy(in.dir.resolve(kind).resolve(n), prefix.resolve(n)) }
    val log = new ProgressLog
    spark.streams.addListener(log)
    val backlogRows = backlog.map(f => in.files(f._2)._2).sum
    val t0 = Clock.nowMs
    val q = Pipeline.run(spark, prefix.toString, ParquetSink(out.toString, ckpt.toString),
      Trigger.ProcessingTime(0))
    var error = ""
    val due = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val late = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      if (!await(log.rows >= backlogRows, 150, q)) error = "backlog did not commit"
      HeapPeak.sample()
      if (bursts && error.isEmpty) {
        val names = in.names("burst")
        val start = Clock.nowMs + intervalMs
        names.grouped(burstSize).zipWithIndex.foreach { case (group, k) =>
          val at = start + k * intervalMs
          val wait = at - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          late += Clock.nowMs - at
          group.foreach { n =>
            Files.move(in.dir.resolve("burst").resolve(n), prefix.resolve(n),
              StandardCopyOption.ATOMIC_MOVE)
            due(n) = at
          }
        }
        if (!await(log.rows >= backlogRows + in.rows("burst"), 120, q))
          error = "bursts did not drain"
        HeapPeak.sample()
      }
    } finally {
      q.exception.foreach(e => error = s"query failed: ${e.getMessage}".take(300))
      q.stop()
      spark.streams.removeListener(log)
    }
    val batches = log.withData
    val backlogNames = backlog.map(_._2).toSet
    val srcLog = sourceLog(ckpt)
    val backlogBatches = srcLog.filter(e => backlogNames(e._1)).map(_._2).toSet
    val backlogCommit = batches.filter(p => backlogBatches(p.batchId))
      .map(_.commitMs).maxOption.getOrElse(Double.NaN)
    StreamRun(t0, backlogCommit, batches, srcLog, due.toMap, late.toSeq, error)
  }

  /** Decode the sink and reduce it to per-quarter row counts and the
    * canonical-row checksum `gen_producer.py` defines. */
  def sinkSummary(spark: SparkSession, out: Path): (Seq[(String, String, Long)], String) = {
    val rows = AvroCodec.decodeFrame(spark, spark.read.parquet(out.toString))
    val canon = concat_ws("\u001f",
      graft.core.Schemas.reclamacoesColumns.map(c => coalesce(col(c), lit("\\N"))): _*)
    val hashed = rows.withColumn("h",
      conv(substring(md5(canon), 1, 15), 16, 10).cast("decimal(38,0)"))
    val counts = hashed.groupBy("ano", "trimestre").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sortBy(x => (x._1, x._2))
    val total = hashed.agg(sum(col("h"))).collect()(0).getDecimal(0)
    (counts, if (total == null) "0" else total.toBigInteger.toString)
  }

  /** Catch-ups per run over fresh copies of the backlog, after a warm-up;
    * the median is reported, and the last one continues into the burst
    * tail. */
  val CatchUps = 3

  def run(ctx: Ctx): WorkloadResult = {
    val a = ctx.args
    val in = inputs(a.inputs)
    val backlog = in.names("backlog").map("backlog" -> _)
    def dir(name: String) = a.work.resolve("producer").resolve(name)
    // warm-up, untimed: a short catch-up over copies of the first inputs,
    // so the measured streams run on a warm JVM as a long-lived producer does
    ctx.tracing(false)
    stream(ctx, in, dir("warmup"),
      backlog ++ in.names("burst").take(4).map("burst" -> _), bursts = false, 1, 0)
    ctx.tracing(true)
    // traced run: an untraced catch-up after each traced one but the
    // last, for trace_overhead_share
    val untraced = scala.collection.mutable.ArrayBuffer.empty[StreamRun]
    val rounds = (1 to CatchUps).map { r =>
      val run = ctx.spans(s"stream $r", "stream") {
        ctx.own(ctx.spans.current)
        stream(ctx, in, dir(s"round$r"), backlog, bursts = r == CatchUps, a.burstSize,
          a.burstIntervalMs)
      }._1
      if (a.trace && r < CatchUps) {
        ctx.tracing(false)
        try untraced += stream(ctx, in, dir(s"untraced$r"), backlog, bursts = false, 1, 0)
        finally ctx.tracing(true)
      }
      run
    }
    def catchUp(s: StreamRun) = (s.backlogCommitMs - s.t0) / 1000.0
    val catchUpS = Main.median(rounds.map(catchUp))
    val run = rounds.last
    val batchOf = run.log.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2) }
    val byBatch = run.progress.map(p => p.batchId -> p).toMap
    val latencies = in.names("burst").flatMap { f =>
      for (b <- batchOf.get(f).flatMap(_.headOption); p <- byBatch.get(b); d <- run.due.get(f))
        yield (f, (p.commitMs - d) / 1000.0, p.startMs - d)
    }
    val e2e = Seq(
      "heap_peak_mb" -> HeapPeak.mb,
      "work_wall_s" -> catchUpS,
      "op_geomean_s" -> Main.geomean(latencies.map(_._2)))
    val traced = if (!a.trace) Nil else {
      def p50(k: String) = Main.median(run.progress.map(_.durations.getOrElse(k, 0L).toDouble))
      val busy = ctx.runtime.map { rt =>
        ctx.settle()
        rt.tasksIn(run.t0, run.backlogCommitMs).map(_.runMs).sum /
          ((run.backlogCommitMs - run.t0) * a.cores)
      }.getOrElse(0.0)
      val untracedS = Main.median(untraced.toSeq.map(catchUp))
      Seq(
        "stream.batches" -> run.progress.size.toDouble,
        "stream.rows_per_batch_p50" -> Main.median(run.progress.map(_.rows.toDouble)),
        "stream.trigger_ms_p50" -> p50("triggerExecution"),
        "stream.add_batch_ms_p50" -> p50("addBatch"),
        "stream.latest_offset_ms_p50" -> p50("latestOffset"),
        "stream.query_planning_ms_p50" -> p50("queryPlanning"),
        "stream.wal_commit_ms_p50" -> p50("walCommit"),
        "stream.commit_offsets_ms_p50" -> p50("commitOffsets"),
        "stream.detect_delay_ms_p50" -> Main.median(latencies.map(_._3)),
        "stream.core_busy_share" -> busy,
        "trace_overhead_share" -> (catchUpS - untracedS) / untracedS)
    }
    // delivery per round: run.py compares each sink with the generator's
    // counts and checksum for exactly the files that round was given
    val roundRecords = rounds.zipWithIndex.map { case (s, i) =>
      val (counts, checksum) = sinkSummary(ctx.spark, dir(s"round${i + 1}").resolve("values"))
      val given = backlog.map(_._2) ++ (if (i == rounds.size - 1) in.names("burst") else Nil)
      Map(
        "files" -> given,
        "catch_up_s" -> Json.num(catchUp(s)),
        "error" -> s.error,
        "duplicates" -> s.log.groupBy(_._1).collect { case (f, bs) if bs.size > 1 => f }.toSeq,
        "sink_counts" -> counts.map { case (y, t, n) => Seq(y, t, n) },
        "sink_checksum" -> checksum)
    }
    val ops = in.names("burst").map { f =>
      Map("name" -> f,
        "batches" -> batchOf.getOrElse(f, Nil),
        "due_ms" -> run.due.get(f),
        "latency_s" -> latencies.find(_._1 == f).map(_._2))
    }
    val extra = Map(
      "backlog_rows" -> in.rows("backlog"),
      "backlog_bytes" -> in.bytes("backlog"),
      "catch_up_s" -> Json.num(catchUpS),
      "rows_per_s" -> Json.num(in.rows("backlog") / catchUpS),
      "mb_per_s" -> Json.num(in.bytes("backlog") / 1048576.0 / catchUpS),
      "generator_late_ms_max" -> run.lateMs.maxOption.getOrElse(0.0),
      "rounds" -> roundRecords,
      "batches" -> run.progress.map(p => Map("id" -> p.batchId, "start_ms" -> p.startMs,
        "rows" -> p.rows, "durations" -> p.durations)))
    WorkloadResult(e2e ++ traced, ops, extra)
  }
}

/** The batch path's public prefixes over the backlog files, each timed
  * to a noop sink (the sink step writes parquet). One warm-up round, then
  * the median of three interleaved rounds per prefix. Self time of a step
  * is the difference from the prefix before it. */
object IngestLayers {
  def run(ctx: Ctx, in: Producer.Inputs): Seq[(String, Double)] = {
    val spark = ctx.spark
    val src = in.dir.resolve("backlog").toString
    val root = ctx.args.work.resolve("ingest")
    def noop(df: org.apache.spark.sql.DataFrame) =
      df.write.format("noop").mode("overwrite").save()
    def sinkDir(round: Int) = root.resolve(s"sink$round")
    val steps: Seq[(String, Int => Unit)] = Seq(
      "csv_scan" -> (_ => noop(CsvSource.readBatch(spark, src))),
      "canonicalize" -> (_ => noop(Pipeline.canonicalBatch(spark, src))),
      "avro_encode" -> (_ => noop(Pipeline.valuesBatch(spark, src))),
      "sink_write" -> (r => ParquetSink(sinkDir(r).toString, root.resolve("ckpt").toString)
        .writeBatch(Pipeline.valuesBatch(spark, src))))
    val rounds = (0 to 3).map { r =>
      steps.map { case (name, body) =>
        ctx.spans(name, if (r == 0) "ingest_warmup" else "ingest") {
          ctx.own(ctx.spans.current); body(r) }._2
      }
    }.drop(1)
    val med = steps.indices.map(i => Main.median(rounds.map(_(i))))
    val valueBytes = Pipeline.valuesBatch(spark, src).agg(sum(length(col("value"))))
      .collect()(0).getLong(0)
    val sinkBytes = Files.walk(sinkDir(3)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    Seq(
      "ingest.csv_scan_s" -> med(0),
      "ingest.canonicalize_s" -> (med(1) - med(0)),
      "ingest.avro_encode_s" -> (med(2) - med(1)),
      "ingest.sink_write_s" -> (med(3) - med(2)),
      "ingest.value_bytes" -> valueBytes.toDouble,
      "ingest.sink_bytes" -> sinkBytes.toDouble)
  }
}
