package graft.streaming

import java.nio.charset.Charset
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.core.Schemas
import graft.ingest.{AvroCodec, CsvSource, MemorySink, ParquetSink, Pipeline, Sinks}

/** Streaming surface s70–s74 (SURVEY.md §2.2): the reference's polling
  * loop upgraded to Structured Streaming, plus the state/watermark/dedup
  * semantics the reference lacks (it re-reads everything forever,
  * `app.py:190-191`). MemoryStream + processAllAvailable keeps every test
  * deterministic. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L * 24 + min * 60_000L)

  private def writeCsv(dir: String, name: String, rows: String*): Unit =
    Files.write(Paths.get(dir, name),
      ((CsvSource.bcbHeader +: rows).mkString("\n") + "\n").getBytes(Charset.forName("ISO-8859-1")))

  /** Land a CSV into a prefix a running query is listing: write it under
    * a hidden name (the file source skips `.`-files), then rename, so the
    * listing never sees a half-written file. */
  private def landCsv(dir: String, name: String, rows: String*): Unit = {
    writeCsv(dir, s".$name.tmp", rows: _*)
    Files.move(Paths.get(dir, s".$name.tmp"), Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (file name, batch id) pairs of a file-source checkpoint's source
    * log, plain and compacted entries alike. */
  private def sourceLog(ckpt: String): Seq[(String, Long)] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    Files.list(Paths.get(ckpt, "sources", "0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case entry(path, id) => (path.split('/').last, id.toLong) }
      .distinct
  }

  /** Decoded `cnpj_if` of every row in a ParquetSink's committed output. */
  private def sinkKeys(out: String): Seq[String] =
    AvroCodec.decodeFrame(spark, spark.read.parquet(out)).collect()
      .map(_.getAs[String]("cnpj_if")).toSeq.sorted

  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Stage `names` as one-row CSVs whose CNPJ is the file's name, so a
    * sink row names the file it came from. All files have equal size. */
  private def stageFiles(dir: String, names: Seq[String]): Unit =
    names.foreach(n => writeCsv(dir, s"$n.csv", s"2022;1º;C;B;$n;BANCO $n;2;3;4;5;6;7;8;9"))

  test("s70: file-stream ingest — CSV files appear, avro values come out") {
    val dir = tmpDir("s70_src")
    writeCsv(dir, "a.csv", "2022;1º;C;B;1;BANCO A;2;3;4;5;6;7;8;9")
    val q = Sinks.start(
      Pipeline.valuesStream(spark, dir),
      MemorySink("s70_out"), Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      // second file appears later — the FileStreamSource ledger must NOT
      // re-emit the first file (unlike the reference's re-list-everything)
      writeCsv(dir, "b.csv", "2023;2º;C;B;2;BANCO B;3;4;5;6;7;8;9;10")
      q.processAllAvailable()
      val vals = spark.table("s70_out")
      assert(vals.count() == 2)
      val decoded = AvroCodec.decodeFrame(spark, vals).orderBy("ano").collect()
      assert(decoded.map(_.getAs[String]("instituicao_financeira")).toSeq ==
        Seq("BANCO A", "BANCO B"))
    } finally q.stop()
  }

  test("s70b: guarded ingest — a poison row costs one rejected tick, not the query") {
    val dir = tmpDir("s70b_src")
    // row 2 has an empty Trimestre: R5 nullifies it, and Trimestre is one
    // of the 9 REQUIRED wire fields — the strict encoder would fail on it
    writeCsv(dir, "a.csv",
      "2022;1º;C;B;1;BANCO A;2;3;4;5;6;7;8;9",
      "2022;;C;B;2;BANCO RUIM;3;4;5;6;7;8;9;10")
    val q = Sinks.start(Pipeline.valuesStream(spark, dir, guarded = true),
      MemorySink("s70b_out"), Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable() // must NOT throw
      val rejected = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get(Pipeline.observedMetricsName)))
        .map(_.getAs[Long]("rejected"))
      assert(rejected.sum == 1L, s"rejected per batch: $rejected")
      val vals = spark.table("s70b_out")
      assert(vals.count() == 1, "only the good row ships")
      assert(AvroCodec.decodeFrame(spark, vals).collect()
        .head.getAs[String]("instituicao_financeira") == "BANCO A")
      // the query lives on: a later file still lands
      landCsv(dir, "b.csv", "2023;2º;C;B;3;BANCO B;3;4;5;6;7;8;9;10")
      q.processAllAvailable()
      assert(AvroCodec.decodeFrame(spark, spark.table("s70b_out")).collect()
        .map(_.getAs[String]("instituicao_financeira")).sorted.toSeq == Seq("BANCO A", "BANCO B"))
    } finally q.stop()
  }

  test("s70f: the default Pipeline.run stays strict — a poison row ends the query") {
    val dir = tmpDir("s70f_src")
    writeCsv(dir, "a.csv",
      "2022;1º;C;B;1;BANCO A;2;3;4;5;6;7;8;9",
      "2022;;C;B;2;BANCO RUIM;3;4;5;6;7;8;9;10")
    val q = Pipeline.run(spark, dir, MemorySink("s70f_out"), Trigger.AvailableNow())
    val ex = try intercept[StreamingQueryException](q.awaitTermination()) finally q.stop()
    // the encoder's own error: Avro names the required field it found null
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toSeq
    assert(messages.exists(_.contains("trimestre")), messages.mkString("\n"))
  }

  test("s70c: Pipeline.run starts on an empty prefix and decodes the first file to land") {
    val dir = tmpDir("s70c_src"); val out = tmpDir("s70c_out")
    val q = Pipeline.run(spark, dir, ParquetSink(out, tmpDir("s70c_ckpt")),
      Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      landCsv(dir, "a.csv", "2022;1º;C;B;1;BANCO A;2;3;;5;6;7;8;9")
      q.processAllAvailable()
    } finally q.stop()
    val rows = AvroCodec.decodeFrame(spark, spark.read.parquet(out)).collect()
    assert(rows.length == 1)
    // the BCB layout binds all 14 columns by position; R5 nulls the empty one
    assert(Schemas.reclamacoesColumns.map(rows.head.getAs[String]) ==
      Seq("2022", "1º", "C", "B", "1", "BANCO A", "2", "3", null, "5", "6", "7", "8", "9"))
  }

  test("s70d: a backlog is admitted as one task wave of bytes, not one batch per file") {
    val dir = tmpDir("s70d_src")
    val names = (0 until 6).map(i => f"f$i%02d")
    stageFiles(dir, names)
    // each run is a fresh query (own sink and checkpoint) over the same files
    def availableNow(tag: String): (Map[String, Seq[Long]], Seq[String]) = {
      val out = tmpDir(s"s70d_${tag}_out"); val ckpt = tmpDir(s"s70d_${tag}_ckpt")
      val q = Pipeline.run(spark, dir, ParquetSink(out, ckpt), Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      (sourceLog(ckpt).groupMap(_._1)(_._2), sinkKeys(out))
    }
    val files = names.map(_ + ".csv").toSet

    // default budget (cores × 128 MB): the whole backlog is one batch
    val (wide, wideRows) = availableNow("wide")
    assert(wide.keySet == files)
    assert(wide.values.flatten.toSet.size == 1, s"batches: $wide")
    assert(wideRows == names)

    // a budget of `cores` files: the same backlog spreads over several
    // batches, each file admitted once and no batch over its budget
    val fileBytes = Files.size(Paths.get(dir, s"${names.head}.csv"))
    val cores = spark.sparkContext.defaultParallelism
    withMaxPartitionBytes(fileBytes) {
      assert(CsvSource.batchByteBudget(spark) == cores * fileBytes)
      val (narrow, narrowRows) = availableNow("narrow")
      assert(narrow.keySet == files)
      assert(narrow.values.forall(_.size == 1), s"a file under two batches: $narrow")
      val perBatch = narrow.values.flatten.groupBy(identity).values.map(_.size)
      assert(perBatch.size > 1, s"batches: $narrow")
      assert(perBatch.max <= cores, s"batches: $narrow")
      assert(narrowRows == names)
    }
  }

  test("s70e: a producer stopped after its first batch restarts from its checkpoint, no file skipped or repeated") {
    val dir = tmpDir("s70e_src"); val out = tmpDir("s70e_out"); val ckpt = tmpDir("s70e_ckpt")
    val first = (0 until 6).map(i => f"f$i%02d")
    val later = (0 until 3).map(i => f"g$i%02d")
    stageFiles(dir, first)
    val fileBytes = Files.size(Paths.get(dir, s"${first.head}.csv"))
    // a budget below the backlog, so the stop lands mid-prefix
    withMaxPartitionBytes(fileBytes) {
      val q1 = Pipeline.run(spark, dir, ParquetSink(out, ckpt), Trigger.ProcessingTime(0))
      try {
        val deadline = System.currentTimeMillis + 60000
        while (!Files.exists(Paths.get(ckpt, "commits", "0")) && q1.isActive &&
          System.currentTimeMillis < deadline) Thread.sleep(10)
        assert(Files.exists(Paths.get(ckpt, "commits", "0")), "first batch never committed")
      } finally q1.stop()
      stageFiles(dir, later)
      val q2 = Pipeline.run(spark, dir, ParquetSink(out, ckpt), Trigger.ProcessingTime(0))
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(sinkKeys(out) == first ++ later)
    val log = sourceLog(ckpt).groupMap(_._1)(_._2)
    assert(log.keySet == (first ++ later).map(_ + ".csv").toSet)
    assert(log.values.forall(_.size == 1), s"a file under two batches: $log")
  }

  test("s71: watermark drops late rows beyond the 10-minute bound") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s71_out").start()
    try {
      in.addData((ts(0), 1L), (ts(1), 2L), (ts(2), 3L))
      q.processAllAvailable()
      // advance event time far past watermark: closes the first window
      in.addData((ts(60), 9L))
      q.processAllAvailable()
      // late row for the long-closed first window: must be dropped
      in.addData((ts(1), 99L))
      q.processAllAvailable()
      in.addData((ts(120), 9L)) // close everything still open
      q.processAllAvailable()
      val out = spark.table("s71_out").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
      assert(out(ts(0).getTime) == 3L, "first window must not count the late row")
    } finally q.stop()
  }

  test("s72: session windows merge events within the 30-minute gap") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val agg = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s72_out").start()
    try {
      // user 1: two bursts 3h apart -> two sessions of sizes 3 and 1
      in.addData((ts(0), 1L), (ts(5), 1L), (ts(20), 1L), (ts(200), 1L))
      in.addData((ts(600), 9L)) // advance watermark to flush sessions
      q.processAllAvailable()
      val sessions = spark.table("s72_out")
        .filter(col("user") === 1L).collect().map(_.getLong(1)).sorted.toSeq
      assert(sessions == Seq(1L, 3L))
    } finally q.stop()
  }

  test("s73: dropDuplicatesWithinWatermark fixes the reference's re-delivery") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val dedup = in.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = dedup.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s73_out").start()
    try {
      in.addData((ts(0), 100L), (ts(1), 101L))
      q.processAllAvailable()
      in.addData((ts(2), 100L)) // duplicate re-delivery within watermark
      q.processAllAvailable()
      in.addData((ts(60), 102L))
      q.processAllAvailable()
      val ids = spark.table("s73_out").collect().map(_.getLong(1)).toSeq
      assert(ids.count(_ == 100L) == 1, "duplicate must be suppressed")
      assert(ids.toSet == Set(100L, 101L, 102L))
    } finally q.stop()
  }

  test("s74: flatMapGroupsWithState keeps per-user running counters") {
    // the transition function is the SHARED RunningCounters.updateGroup —
    // q66_stateful_counters folds the same code per event in batch and is
    // hash-gated against DuckDB, so this operator's semantics (not just
    // its plumbing) carry a CORRECTNESS row
    val in = MemoryStream[(Long, Double)](spark)
    val counted = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunningCounters.State, (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        RunningCounters.updateGroup _
      ).toDF("user", "n", "total")
    val q = counted.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("s74_out").start()
    try {
      in.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
      q.processAllAvailable()
      in.addData((1L, 3.0))
      q.processAllAvailable()
      val last = spark.table("s74_out")
        .groupBy("user").agg(max("n").as("n"), max("total").as("total"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(last(1L) == ((3L, 6.0)))
      assert(last(2L) == ((1L, 10.0)))
    } finally q.stop()
  }

  test("s80: event-time state TTL evicts idle users and a returnee restarts from zero") {
    // s74's operator with RunningCounters.updateGroupTtl: state carries a
    // 30-minute event-time timeout past the user's newest event. The
    // unbounded-state failure mode at 100 TB is key-cardinality growth —
    // without a TTL the state store holds every user EVER seen; with it,
    // only users active inside the TTL window
    val in = MemoryStream[(Timestamp, Long, Double)](spark)
    val counted = in.toDF().toDF("ts", "user", "v")
      .withWatermark("ts", "10 minutes")
      .as[(Timestamp, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[RunningCounters.TtlState, (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        RunningCounters.updateGroupTtl(30 * 60_000L)
      ).toDF("user", "n", "total")
    val q = counted.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("s80_out").start()
    try {
      in.addData((ts(0), 1L, 1.0), (ts(5), 1L, 2.0))
      q.processAllAvailable() // user 1: n=2, newest event ts(5), timeout ts(35)
      // an OUT-OF-ORDER row (older than the newest already folded, still
      // above the watermark) must not move the timeout earlier: the TTL
      // anchors to the newest event EVER seen (stored in state), not to
      // the current batch's max
      in.addData((ts(1), 1L, 4.0))
      q.processAllAvailable() // n=3, timeout still ts(35)
      in.addData((ts(42), 9L, 5.0))
      q.processAllAvailable() // watermark → ts(32): past a buggy ts(31) timeout
      in.addData((ts(33), 1L, 7.0))
      q.processAllAvailable()
      // a batch-max timeout would have evicted at watermark ts(32) and
      // restarted here at n=1; the stored-max timeout (ts(35)) must resume
      val afterOoo = spark.table("s80_out").filter(col("user") === 1L)
        .select(col("n"), col("total")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(afterOoo.last == ((4L, 14.0)),
        s"out-of-order row moved the TTL earlier (premature eviction): $afterOoo")
      // advance the watermark far past user 1's ts(33)+30min timeout: the
      // timeout batch must EVICT user 1's state
      in.addData((ts(600), 9L, 5.0))
      q.processAllAvailable()
      // user 1 returns after eviction: the counter must restart at 1,
      // not resume at 5 — the TTL semantic, distinguishable from s74
      in.addData((ts(620), 1L, 7.0))
      q.processAllAvailable()
      val user1 = spark.table("s80_out").filter(col("user") === 1L)
        .select(col("n"), col("total")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(user1.last == ((1L, 7.0)),
        s"returning user did not restart from zero after TTL eviction: $user1")
      // and the state store really shrank: eviction is observable in the
      // operator metrics, not just in the restart semantics
      val removed = q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 1, s"no state row was evicted by the TTL: $removed")
    } finally q.stop()
  }

  test("s81: windowed quality drift — finalized QA rows, late rows dropped, math equals batch") {
    val good = "the a of and the cat sat. the a of and again!"
    val bad = "zzz qqq zzz qqq zzz"
    val in = MemoryStream[(Timestamp, String)](spark)
    val q = QualityMonitor.driftStream(in.toDF().toDF("ts", "text"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s81_out").start()
    try {
      in.addData((ts(0), good), (ts(10), bad), (ts(20), good))
      q.processAllAvailable()
      assert(spark.table("s81_out").isEmpty,
        "a QA window must not finalize before the watermark passes its end")
      in.addData((ts(180), good)) // watermark -> 170 min: hour-0 window emits
      q.processAllAvailable()
      in.addData((ts(5), bad)) // late for hour 0 — the finalized row must stand
      q.processAllAvailable()
      in.addData((ts(400), bad))
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      val out = rows(spark.table("s81_out"))
      val h0 = ts(0).getTime / 1000
      assert(out(h0)._1 == 3L, "late row must not join the finalized hour-0 window")
      // the emitted row's math is QualityMonitor.drift — the exact
      // function q49 hash-gates against DuckDB — over the on-time rows
      val batch = rows(QualityMonitor.drift(
        Seq((ts(0), good), (ts(10), bad), (ts(20), good)).toDF("ts", "text")))
      assert(out(h0) == batch(h0), "stream window math must equal the batch mirror")
      val (n, p, ppm, mq) = out(h0)
      assert(p >= 1 && p < n, s"gate must separate good from junk (n_pass=$p of $n)")
      assert(ppm == 1000000L * p / n && mq > 0.0 && mq < 1.0)
    } finally q.stop()
  }

  test("s75: stream-stream interval join matches within the band, drops outside") {
    // clicks attributed to a view by the same user within the previous
    // 5 minutes — the canonical stream-stream interval join; watermarks
    // on BOTH sides bound the join state
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val views = MemoryStream[(Timestamp, Long)](spark)
    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "10 minutes")
    val v = views.toDF().toDF("vts", "vuser").withWatermark("vts", "10 minutes")
    val joined = c.join(v,
      expr("cuser = vuser AND vts BETWEEN cts - interval 5 minutes AND cts"))
      .select(col("cuser").as("user"), col("cts"), col("vts"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s75_out").start()
    try {
      views.addData((ts(0), 1L), (ts(0), 2L), (ts(20), 1L))
      clicks.addData((ts(3), 1L), (ts(3), 2L), (ts(8), 1L), (ts(22), 1L))
      q.processAllAvailable()
      val rows = spark.table("s75_out")
        .select(col("user"), col("cts"), col("vts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      // ts(3) clicks match the ts(0) views (3 min gap, in band); the
      // ts(8) click does NOT match ts(0) (8 min > 5); ts(22) matches ts(20)
      assert(rows == Set(
        (1L, ts(3), ts(0)),
        (2L, ts(3), ts(0)),
        (1L, ts(22), ts(20))), rows)

      // the 100 TB streaming risk is UNBOUNDED join state: without the
      // watermarks every view/click buffers forever. The progress history
      // proves the bound: the data batch buffers all 7 input rows, then
      // the watermark-driven no-data batch evicts everything older than
      // (watermark − band), leaving only the newest view/click pair
      val totals = q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(totals.max >= 7, s"expected all 7 input rows buffered at the peak: $totals")
      assert(totals.last < totals.max,
        s"join state never shrank after watermark advance: $totals")
      val removed = q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 5,
        s"watermark advance should evict the 5 out-of-band rows, removed=$removed")
      // and a further watermark jump evicts the stragglers too — state
      // stays O(rows-in-band), never O(rows-seen)
      views.addData((ts(600), 9L))
      clicks.addData((ts(600), 9L))
      q.processAllAvailable() // data batch + the no-data batch applying eviction
      // the eviction no-data batch is scheduled after the watermark
      // update; give the poller a bounded window to run it before
      // asserting the floor
      def stateNow = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val deadline = System.currentTimeMillis + 10000
      while (stateNow > 2 && System.currentTimeMillis < deadline) Thread.sleep(100)
      val s1 = stateNow
      assert(s1 <= 2, s"pre-watermark rows survived eviction: $s1 rows still in state")
    } finally q.stop()
  }

  test("s76: stream-static broadcast enrichment joins each micro-batch against the dim") {
    val sf = "/root/testdata/sf0.001"
    val dim = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("user_key"), col("c_mktsegment"))
    val in = MemoryStream[(Long, Double)](spark)
    val enriched = in.toDF().toDF("user_key", "v")
      .join(broadcast(dim), Seq("user_key"), "left")
    val q = enriched.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s76_out").start()
    try {
      in.addData((1L, 1.0), (2L, 2.0), (999999L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("s76_out").collect()
        .map(r => r.getLong(0) -> Option(r.getAs[String]("c_mktsegment"))).toMap
      assert(rows.size == 3)
      assert(rows(1L).nonEmpty && rows(2L).nonEmpty)
      assert(rows(999999L).isEmpty) // unmatched stream row survives (left join)
    } finally q.stop()
  }

  test("s78: streaming dedup state runs on the RocksDB store (large-state posture)") {
    import scala.jdk.CollectionConverters._
    // the default HDFS-backed provider holds state as on-heap JVM objects;
    // GraftSession.stateStoreConfigs(rocksdb = true) is the flag-gated
    // production posture for state that outgrows the heap. The provider
    // class is read at query start, so opt in on the shared session here.
    val key = "spark.sql.streaming.stateStore.providerClass"
    assert(graft.core.GraftSession.stateStoreConfigs(rocksdb = true)(key) ==
      graft.core.GraftSession.RocksDBProviderClass)
    assert(graft.core.GraftSession.stateStoreConfigs(rocksdb = false).isEmpty)
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    val in = MemoryStream[(Timestamp, Long)](spark)
    val dedup = in.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = dedup.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s78_out").start()
    try {
      in.addData((ts(0), 100L), (ts(1), 101L), (ts(2), 100L))
      q.processAllAvailable()
      // same dedup semantics as s73, now with state in RocksDB
      assert(spark.table("s78_out").collect().map(_.getLong(1)).toSet == Set(100L, 101L))
      // and the progress proves which provider actually ran: RocksDB
      // publishes its own custom metrics (sst file sizes, memtable etc.)
      val metrics = q.lastProgress.stateOperators(0).customMetrics.keySet.asScala
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in state operator progress: $metrics")
    } finally {
      q.stop()
      spark.conf.unset(key)
    }
  }

  test("s79: the stream-stream join's state runs on RocksDB with the same eviction bound") {
    import scala.jdk.CollectionConverters._
    // s78 proves the RocksDB provider wiring on dedup state; the
    // operator whose state actually outgrows the heap at 100 TB is the
    // stream-stream join (it buffers BOTH sides within the watermark
    // band). Same topology and eviction assertions as s75, now with the
    // state store that spills to disk instead of growing the JVM heap.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val views = MemoryStream[(Timestamp, Long)](spark)
    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "10 minutes")
    val v = views.toDF().toDF("vts", "vuser").withWatermark("vts", "10 minutes")
    val joined = c.join(v,
      expr("cuser = vuser AND vts BETWEEN cts - interval 5 minutes AND cts"))
      .select(col("cuser").as("user"), col("cts"), col("vts"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s79_out").start()
    try {
      views.addData((ts(0), 1L), (ts(0), 2L), (ts(20), 1L))
      clicks.addData((ts(3), 1L), (ts(3), 2L), (ts(8), 1L), (ts(22), 1L))
      q.processAllAvailable()
      val rows = spark.table("s79_out")
        .select(col("user"), col("cts"), col("vts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(rows == Set(
        (1L, ts(3), ts(0)),
        (2L, ts(3), ts(0)),
        (1L, ts(22), ts(20))), rows)
      // the provider that actually ran is RocksDB: its state operator
      // publishes rocksdb-specific custom metrics
      val metrics = q.lastProgress.stateOperators(0).customMetrics.keySet.asScala
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb metrics in state operator progress: $metrics")
      // and the watermark still bounds the join state exactly as on the
      // heap provider: state shrinks after the no-data eviction batch
      val totals = q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(totals.max >= 7, s"expected all 7 input rows buffered at the peak: $totals")
      val removed = q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 5,
        s"watermark advance should evict the 5 out-of-band rows, removed=$removed")
      views.addData((ts(600), 9L))
      clicks.addData((ts(600), 9L))
      q.processAllAvailable()
      def stateNow = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val deadline = System.currentTimeMillis + 10000
      while (stateNow > 2 && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(stateNow <= 2,
        s"pre-watermark rows survived eviction on RocksDB: $stateNow rows still in state")
    } finally {
      q.stop()
      spark.conf.unset(key)
    }
  }

  test("s82: stateless decontamination gate flags leaked eval text in-stream") {
    // eval set: two benchmark sentences; their shingle fingerprints are
    // the static probe set (Decontaminator.shingleFingerprints — the
    // same kernel q103's oracled batch mirror hash-gates)
    val evalDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val n = graft.queries.LlmOps.geom.deconShingleN
    val evalSh = evalDocs
      .select(explode(Decontaminator.shingleFingerprints(
        split(col("text"), " "), n)).as("sh"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val flagged = Decontaminator.flag(in.toDF().toDF("doc_id", "text"), evalSh, n)
    val q = flagged.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s82_out").start()
    try {
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
        (11L, "quick brown fox jumps over the lazy"),         // truncated leak
        (12L, "completely unrelated training document text here"),
        (13L, "ok"))                                          // too short to score
      q.processAllAvailable()
      val rows = spark.table("s82_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(4)))).toMap
      assert(rows.size == 4, "the gate must emit a verdict per doc — none dropped")
      assert(rows(10L)._3, "verbatim eval copy not flagged")
      assert(rows(11L)._3, "truncated eval copy not flagged")
      assert(!rows(12L)._3, "clean doc flagged")
      assert(rows(13L) == ((0, 0, false)), "short doc must gate clean with 0 shingles")
      // the operational claim: the gate is a pure projection — nothing
      // entered a state store, so output mode / recovery are untouched
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(q.lastProgress.stateOperators.isEmpty || stateRows == 0,
        s"decontamination gate is supposed to be stateless, found $stateRows state rows")
    } finally q.stop()
  }

  test("s83: near-dup ingest gate flags re-crawled copies per micro-batch, admits fresh docs") {
    // static corpus: two "already admitted" documents → the persisted
    // band/shingle index a production pipeline appends to per batch
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val g = graft.queries.LlmOps.geom
    val index = NearDupGate.index(spark, corpus, g)
    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map[Long, Seq[(Long, Int, Boolean)]]()
    val q = NearDupGate.stream(spark, in.toDF().toDF("doc_id", "text"), index, g) {
      (verdicts, batchId) =>
        got.synchronized {
          got(batchId) = verdicts.collect()
            .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(4))).toSeq
        }
    }.start()
    try {
      in.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // verbatim
        (11L, "alpha beta gamma delta epsilon zeta eta theta iota"),       // truncated
        (12L, "totally fresh document content nothing shared here at all"),
        (13L, "hi"))                                                       // unscorable
      q.processAllAvailable()
      // second trigger: the gate re-evaluates against the same index —
      // batch-local semantics, no cross-batch state
      in.addData((14L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      val all = got.synchronized(got.values.flatten.toSeq).map(t => t._1 -> t).toMap
      assert(all.size == 5, s"one verdict per ingested doc, got ${all.keySet}")
      assert(!all(10L)._3, "verbatim re-crawl admitted")
      assert(!all(11L)._3, "truncated re-crawl admitted")
      assert(all(12L)._3 && all(12L)._2 == 0, "fresh doc flagged")
      assert(all(13L)._3, "unscorably-short doc must pass the gate")
      assert(!all(14L)._3, "second-trigger re-crawl admitted — index not consulted")
      // the gate holds no stream state: batch semantics live in
      // foreachBatch, recovery is the sink's idempotence story (s77)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(q.lastProgress.stateOperators.isEmpty || stateRows == 0,
        s"near-dup gate is supposed to be stateless, found $stateRows state rows")
    } finally q.stop()
  }

  test("s84: self-growing ingest-dedup loop — batch self-dedup, gate, index append") {
    val g = graft.queries.LlmOps.geom
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val baseIndex = NearDupGate.index(spark, corpus, g)
    val idxDir = tmpDir("s84_index")
    def storedIndex() = {
      val files = new java.io.File(idxDir).listFiles()
      if (files == null || !files.exists(_.getName.endsWith(".parquet"))) baseIndex
      else baseIndex.unionByName(spark.read.parquet(idxDir))
    }
    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map[Long, Map[Long, Boolean]]()
    val q = NearDupGate.ingest(spark, in.toDF().toDF("doc_id", "text"),
      () => storedIndex(),
      idx => idx.write.mode("append").parquet(idxDir), g) { (verdicts, batchId) =>
      got.synchronized {
        got(batchId) = verdicts.collect()
          .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      }
    }.start()
    try {
      // trigger 1: a within-batch near-dup pair (20, 21) + a fresh doc
      in.addData(
        (20L, "one two three four five six seven eight nine ten"),
        (21L, "one two three four five six seven eight nine"), // loses to 20
        (22L, "crimson amber violet indigo teal maroon ochre jade pearl onyx"))
      q.processAllAvailable()
      // trigger 2: near-copies of an EARLIER-TRIGGER admission (22) and
      // of the base corpus (1), plus a fresh doc
      in.addData(
        (30L, "crimson amber violet indigo teal maroon ochre jade pearl"),
        (31L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (32L, "quartz basalt granite shale marble slate flint obsidian gneiss chert"))
      q.processAllAvailable()
      val t1 = got.synchronized(got(0L)); val t2 = got.synchronized(got(1L))
      assert(t1.keySet == Set(20L, 22L),
        s"within-batch loser 21 must be gone before the gate, got ${t1.keySet}")
      assert(t1(20L) && t1(22L), "fresh trigger-1 docs must be admitted")
      assert(!t2(30L), "near-copy of a trigger-1 ADMISSION re-admitted — index did not grow")
      assert(!t2(31L), "near-copy of the base corpus re-admitted")
      assert(t2(32L), "fresh trigger-2 doc rejected")
      // the index store holds fingerprints for exactly the admissions
      val stored = spark.read.parquet(idxDir).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(stored == Set(20L, 22L, 32L), s"index store: $stored")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(q.lastProgress.stateOperators.isEmpty || stateRows == 0,
        "ingest loop must hold no stream state — the index table IS the state")
    } finally q.stop()
  }

  test("s85: stateless line-dedup gate strips corpus chrome from ingested docs") {
    // reference corpus: 30 docs sharing a chrome line (well over the
    // cap) plus unique content — the persisted chrome index a
    // production pipeline rebuilds periodically
    val chrome = "home about contact privacy sitemap careers press blog"
    val corpus = (1L to 30L)
      .map(i => (i, s"$chrome unique content line number $i stays here intact"))
      .toDF("doc_id", "text")
    val lined = graft.streaming.LineDeduper.withLines(corpus, 8)
    val head = graft.streaming.LineDeduper.commonHead(lined, cap = 25)
    assert(head.nonEmpty, "the planted chrome line must cross the df cap")
    val in = MemoryStream[(Long, String)](spark)
    val cleaned = graft.streaming.LineDeduper.rewrite(
      graft.streaming.LineDeduper.withLines(in.toDF().toDF("doc_id", "text"), 8),
      head)
    val q = cleaned.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s85_out").start()
    try {
      in.addData(
        (100L, s"$chrome fresh eight token payload arrives here with more text"),
        (101L, "entirely original document with no chrome at all here"),
        (102L, chrome)) // pure-chrome page → rewritten to empty
      q.processAllAvailable()
      val rows = spark.table("s85_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
      assert(rows.size == 3, "one rewritten doc per ingested doc — none dropped")
      assert(rows(100L)._2 == 1 &&
        rows(100L)._3 == "fresh eight token payload arrives here with more text",
        s"chrome not stripped cleanly: ${rows(100L)}")
      assert(rows(101L) == ((2, 0,
        "entirely original document with no chrome at all here")),
        "chrome-free doc must pass through byte-identical")
      assert(rows(102L) == ((1, 1, "")), "pure-chrome page must rewrite to empty")
      // stateless: the rewrite is a pure projection against the static
      // head — no state store rows, s82's operational contract
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(q.lastProgress.stateOperators.isEmpty || stateRows == 0,
        s"line-dedup gate is supposed to be stateless, found $stateRows state rows")
    } finally q.stop()
  }

  test("s86: streaming anomaly gate equals the oracled q113 batch verdict across micro-batches") {
    // the equivalence trick (q62/s72): stream the REAL sf0.001 events
    // through the gate in three ts-ordered micro-batches and demand
    // flag-for-flag equality with q113's hash-oracled batch answer —
    // the oracle gate then carries the streaming operator's semantics,
    // state handoff across batch boundaries included
    val sf = "/root/testdata/sf0.001"
    val batch = graft.queries.Windows.q113AnomalyZscore(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(6)))).toMap
    assert(batch.values.exists(_._3), "fixture has no anomalies — test is vacuous")
    val ev = graft.queries.events(spark, sf).select(
        col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._3, r._2))
    val cuts = Seq(ev.length / 3, 2 * ev.length / 3, ev.length)
    val in = MemoryStream[(String, Long, Long, Long)](spark)
    val gated = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[Long], (String, Long, Long, Long, Boolean)](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        AnomalyGate.updateGroup _
      ).toDF("event_type", "event_id", "epoch_s", "cents", "is_anomaly")
    val q = gated.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("s86_out").start()
    try {
      var from = 0
      cuts.foreach { to =>
        in.addData(ev.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      val streamed = spark.table("s86_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      assert(streamed.size == ev.length, "one verdict per event")
      assert(streamed == batch,
        "streaming verdicts diverged from the oracled batch verdicts")
    } finally q.stop()
  }

  test("s87: streaming Misra-Gries equals the sequential fold and keeps every guaranteed hitter") {
    // skewed stream: 'hot' is half of all tokens, a 13-token cold tail
    // cycles under it — the shape where Misra-Gries' guarantee bites
    // (a uniform stream is MG's vacuous worst case: nothing must survive)
    val toks = (0 until 3000).map(i =>
      if (i % 2 == 0) "hot" else s"cold${i % 13}")
    val rows = toks.zipWithIndex.map { case (tk, i) =>
      (HeavyHitterGate.bucketOf(tk), i.toLong, tk) }
    // sequential re-derivation, per bucket in stream order
    val expected = rows.groupBy(_._1).map { case (b, rs) =>
      var s = Map.empty[String, Long]
      rs.sortBy(_._2).foreach(r => s = HeavyHitterGate.fold(s, r._3))
      b -> ((rs.length.toLong, s))
    }
    val in = MemoryStream[(Int, Long, String)](spark)
    val gated = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Map[String, Long]), (Int, String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        HeavyHitterGate.updateGroup _
      ).toDF("bucket", "tok", "weight_lb", "n_bucket")
    val q = gated.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("s87_out").start()
    try {
      var from = 0
      Seq(rows.length / 3, 2 * rows.length / 3, rows.length).foreach { to =>
        in.addData(rows.slice(from, to))
        q.processAllAvailable()
        from = to
      }
      // latest snapshot per bucket = rows carrying the bucket's max n
      val all = spark.table("s87_out").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val got = all.groupBy(_._1).map { case (b, rs) =>
        val nMax = rs.map(_._4).max
        b -> ((nMax, rs.filter(_._4 == nMax).map(r => r._2 -> r._3).toMap))
      }
      assert(got == expected,
        "streamed summaries diverged from the sequential Misra-Gries fold")
      // the MG guarantee against exact truth: any token above
      // n_b/(Slots+1) in its bucket holds a slot, understated by at
      // most n_b/(Slots+1)
      val exact = rows.groupBy(_._1).map { case (b, rs) =>
        b -> rs.groupBy(_._3).view.mapValues(_.length.toLong).toMap }
      exact.foreach { case (b, counts) =>
        val (nB, summary) = got(b)
        val slack = nB / (HeavyHitterGate.Slots + 1)
        counts.filter(_._2 > slack).foreach { case (tk, cnt) =>
          assert(summary.contains(tk),
            s"bucket $b: token $tk with count $cnt > $slack must survive")
          assert(summary(tk) >= cnt - slack,
            s"bucket $b: $tk weight ${summary(tk)} understates $cnt by > $slack")
        }
      }
      assert(got(HeavyHitterGate.bucketOf("hot"))._2.contains("hot"),
        "the dominant token must be in the summary")
    } finally q.stop()
  }

  test("s86b: the anomaly ring survives a query restart from its checkpoint") {
    // the last v1-API recovery surface: s88b-s94b pin every
    // transformWithState primitive; this pins flatMapGroupsWithState
    // VALUE state through the same parquet-sink recipe. A post-restart
    // event must be judged against the PRE-restart ring: 12 identical
    // readings fill past MinFill=10 with zero variance, so the first
    // post-restart outlier flags IFF the ring carried — a reset ring
    // sits at n=1 < MinFill and stays silent.
    val ckpt = tmpDir("s86b_ckpt")
    val out = tmpDir("s86b_out")
    val in = MemoryStream[(String, Long, Long, Long)](spark)
    def start() = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[Long], (String, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        AnomalyGate.updateGroup _
      ).toDF("event_type", "event_id", "epoch_s", "cents", "is_anomaly")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    def rows() = spark.read.parquet(out).collect()
      .map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    val q1 = start()
    try {
      in.addData((1L to 12L).map(i => ("m", i, i, 1000L)))
      q1.processAllAvailable()
      assert(rows() == (1L to 12L).map(_ -> false).toMap,
        s"flat pre-restart readings must not flag: ${rows()}")
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData(("m", 13L, 13L, 5000L), ("m", 14L, 14L, 1000L))
      q2.processAllAvailable()
      val got = rows()
      assert(got(13L),
        s"outlier after restart must flag against the recovered ring: $got")
      assert(!got(14L), s"post-outlier normal reading must not flag: $got")
      assert(got.size == 14, s"one verdict per event: $got")
    } finally q2.stop()
  }

  test("s87b: the Misra-Gries slots survive a query restart from its checkpoint") {
    // s86b's twin for the MAP-shaped v1 state: the slot weights and the
    // bucket counter must carry — a post-restart occurrence of the
    // pre-restart hitter reads weight 21, not a fresh slot at 1.
    val ckpt = tmpDir("s87b_ckpt")
    val out = tmpDir("s87b_out")
    val in = MemoryStream[(Int, Long, String)](spark)
    def start() = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Map[String, Long]), (Int, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        HeavyHitterGate.updateGroup _
      ).toDF("bucket", "tok", "weight_lb", "n_bucket")
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val b = HeavyHitterGate.bucketOf("hot")
    def latest() = {
      val all = spark.read.parquet(out).collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      val nMax = all.map(_._3).max
      (nMax, all.filter(_._3 == nMax).map(r => r._1 -> r._2).toMap)
    }
    val q1 = start()
    try {
      in.addData((0L until 20L).map(i => (b, i, "hot")))
      q1.processAllAvailable()
      assert(latest() == ((20L, Map("hot" -> 20L))), s"pre-restart: ${latest()}")
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData((b, 20L, "hot"))
      q2.processAllAvailable()
      assert(latest() == ((21L, Map("hot" -> 21L))),
        s"slots did not recover across restart: ${latest()}")
    } finally q2.stop()
  }

  test("s77: foreachBatch sink receives batch ids and every row exactly once") {
    val in = MemoryStream[Long](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val sink = graft.ingest.ForeachBatchSink((df, id) =>
      seen.add(id -> df.collect().map(_.getLong(0)).toSeq.sorted))
    val q = Sinks.start(in.toDF(), sink, Trigger.ProcessingTime(0))
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      in.addData(4L)
      q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Seq[Long])]).toSeq
        .filter(_._2.nonEmpty)
      assert(batches.map(_._2) == Seq(Seq(1L, 2L, 3L), Seq(4L)))
      assert(batches.map(_._1).distinct.size == batches.size, "batch ids must be unique")
    } finally q.stop()
  }

  test("s88: transformWithState token-budget meter equals the oracled q129 batch answer") {
    import scala.jdk.CollectionConverters._
    // Spark 4's arbitrary-stateful-processing v2 (transformWithState):
    // typed per-key ValueState through a StatefulProcessor handle, TTL
    // and timers in the API, RocksDB-backed store REQUIRED — the
    // successor of s74/s80's flatMapGroupsWithState. The semantics
    // proof is q66's pattern: the same per-key transition
    // (TokenBudget.step) answered by the DuckDB-oracled batch window
    // (q129) and by this stateful stream, pinned row-identical.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val sf = "/root/testdata/sf0.001"
      val batch = graft.SparkEntry.queries("q129_token_budget")(spark, sf)
        .collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_tokens"), r.getAs[Boolean]("admitted"),
          r.getAs[Long]("meter_after"))).toSet
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        .as[(String, Long, Long)].collect().sortBy(_._2)
      assert(docs.nonEmpty && batch.nonEmpty)
      // two micro-batches, split on the doc_id order — disjoint
      // ascending ranges per key, the s86/s87 input contract
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val in = MemoryStream[(String, Long, Long)](spark)
      val q = TokenBudget.meter(in.toDS())
        .toDF("lang", "doc_id", "n_tokens", "admitted", "meter_after")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s88_out").start()
      try {
        in.addData(b1.toIndexedSeq: _*)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq: _*)
        q.processAllAvailable()
        val got = spark.table("s88_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getBoolean(3), r.getLong(4))).toSet
        assert(got == batch,
          s"stream fold diverged from the oracled batch window:\n" +
            s"stream-only=${(got -- batch).take(5)}\nbatch-only=${(batch -- got).take(5)}")
        // admission must actually bisect the fixture (a quota that
        // admits or rejects everything proves nothing)
        assert(got.exists(_._4) && got.exists(!_._4),
          "fixture quota must both admit and reject")
        // state is O(languages), not O(docs): one meter row plus one
        // ordering high-water register per lang (numRowsTotal counts
        // every state variable's rows)
        val langs = docs.map(_._1).distinct.length
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows == 2 * langs,
          s"expected ${2 * langs} state rows (meter + high-water per lang), got $stateRows")
        // and the provider that ran is RocksDB (the TWS requirement +
        // the engine's large-state posture, s78's proof)
        val metrics = q.lastProgress.stateOperators(0).customMetrics.keySet.asScala
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in state operator progress: $metrics")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("s88b: the token meter survives a query restart from its checkpoint") {
    // the recovery property a deployment actually depends on: a
    // streaming job restarts (executor loss, upgrade, rebalance) and
    // the v2 state store must resume from the checkpoint — meters
    // CONTINUE, they do not reset. Same topology rebuilt over the same
    // source, same checkpoint dir, a fresh query instance.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val ckpt = tmpDir("s88b_ckpt")
      val out = tmpDir("s88b_out")
      val in = MemoryStream[(String, Long, Long)](spark)
      // a fault-tolerant sink is part of the property: the memory sink
      // DECLINES recovery (Spark refuses the checkpoint), which is
      // itself the exactly-once story — recovery needs a replayable
      // sink, so the pin drives the parquet file sink
      def start() = TokenBudget.meter(in.toDS(), quota = 100L)
        .toDF("lang", "doc_id", "n_tokens", "admitted", "meter_after")
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      def rows() = spark.read.parquet(out).collect()
        .map(r => r.getLong(1) -> ((r.getBoolean(3), r.getLong(4)))).toMap
      val q1 = start()
      try {
        in.addData(("en", 1L, 60L), ("en", 2L, 30L))
        q1.processAllAvailable()
        assert(rows() == Map(1L -> ((true, 60L)), 2L -> ((true, 90L))))
      } finally q1.stop()
      // restart: the recovered meter (90) must carry — doc 3 tips the
      // quota and is rejected; a reset meter would admit it
      val q2 = start()
      try {
        in.addData(("en", 3L, 20L), ("en", 4L, 5L))
        q2.processAllAvailable()
        assert(rows() == Map(1L -> ((true, 60L)), 2L -> ((true, 90L)),
          3L -> ((false, 110L)), 4L -> ((false, 115L))),
          s"state did not recover across restart: ${rows()}")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s89: left-outer stream-stream join emits the NULL row only after the watermark closes the band") {
    // the attribution question s75 cannot answer: which views got NO
    // click within the band? Inner join state eviction (s75/s79) just
    // drops them; the LEFT OUTER spelling must hold the unmatched view
    // until the watermark proves no in-band click can still arrive,
    // then emit exactly one (view, NULL) row — emitting it any earlier
    // would be wrong (a late in-band click could still match), so the
    // NULL row's timing is itself the semantic under test.
    val views = MemoryStream[(Timestamp, Long)](spark)
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val v = views.toDF().toDF("vts", "vuser").withWatermark("vts", "5 minutes")
    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "5 minutes")
    val joined = v.join(c,
      expr("vuser = cuser AND cts BETWEEN vts AND vts + interval 5 minutes"),
      "leftOuter")
      .select(col("vuser").as("user"), col("vts"), col("cts"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s89_out").start()
    try {
      views.addData((ts(0), 1L), (ts(0), 2L))
      clicks.addData((ts(3), 1L))
      q.processAllAvailable()
      def rows() = spark.table("s89_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)))).toSet
      // user 1 matched in-band — emits now; user 2's band is still open
      // (a click at ts(4) could arrive), so NO row for user 2 yet
      assert(rows() == Set((1L, ts(0), Some(ts(3)))), rows())
      // advance event time far past the band: the watermark moves to
      // ts(55), proving user 2's [ts0, ts5] band is closed
      views.addData((ts(60), 9L))
      clicks.addData((ts(60), 9L))
      q.processAllAvailable()
      // outer-result emission rides the watermark-driven state cleanup
      // (a no-data batch scheduled after the update) — poll bounded
      val deadline = System.currentTimeMillis + 10000
      while (!rows().exists(r => r._1 == 2L && r._3.isEmpty) &&
          System.currentTimeMillis < deadline) Thread.sleep(100)
      val got = rows()
      assert(got.contains((2L, ts(0), None)),
        s"unmatched view must surface with a NULL click after the band closes: $got")
      // and exactly once — the NULL row is not re-emitted by later batches
      views.addData((ts(70), 9L))
      clicks.addData((ts(70), 9L))
      q.processAllAvailable()
      val nullRows = spark.table("s89_out").collect()
        .count(r => r.getLong(0) == 2L && r.getTimestamp(2) == null)
      assert(nullRows == 1, s"NULL attribution row emitted $nullRows times")
    } finally q.stop()
  }

  test("s90: transformWithState event-time timers close ingest sessions from the timer path") {
    // s80's session-expiry semantics on the v2 API: composite MapState
    // (per-lang counts) + ValueState (newest event) per source, expiry
    // through an explicit event-time timer re-armed at newest+gap. The
    // summary emits from handleExpiredTimer ONLY — a session row exists
    // because the watermark proved the source quiet (gap = 10 min,
    // watermark delay = 5 min).
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val in = MemoryStream[(String, Long, Timestamp, String)](spark)
      val wm = in.toDS().toDF("source", "doc_id", "ts", "lang")
        .withWatermark("ts", "5 minutes")
        .as[(String, Long, Timestamp, String)]
      val q = SourceSessions.summarize(wm, gapMs = 10 * 60 * 1000)
        .toDF("source", "n_docs", "n_langs", "session_end")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s90_out").start()
      try {
        def rows() = spark.table("s90_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getTimestamp(3))).toSet
        // crawlA: 3 docs over two langs; crawlB: 1 doc. Watermark after
        // this batch = ts(2) - 5 min < both expiries — nothing may emit
        in.addData(("crawlA", 1L, ts(0), "en"), ("crawlA", 2L, ts(1), "en"),
          ("crawlB", 10L, ts(0), "fr"), ("crawlA", 3L, ts(2), "de"))
        q.processAllAvailable()
        assert(rows().isEmpty,
          s"summary emitted before the watermark closed any session: ${rows()}")
        // a third source's activity at ts(40) moves the watermark to
        // ts(35) — past crawlA's ts(2)+10 and crawlB's ts(0)+10, so BOTH
        // sessions must close, each exactly once, from the timer path
        in.addData(("crawlC", 90L, ts(40), "zh"))
        q.processAllAvailable()
        val deadline = System.currentTimeMillis + 10000
        while (rows().size < 2 && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(rows() == Set(
          ("crawlA", 3L, 2L, ts(2)),
          ("crawlB", 1L, 1L, ts(0))), rows())
        // a returning source restarts from zero: crawlA again, then a
        // watermark jump past its new expiry — the new summary counts
        // ONLY the new session's docs
        in.addData(("crawlA", 4L, ts(41), "es"))
        q.processAllAvailable()
        in.addData(("crawlC", 91L, ts(100), "zh"))
        q.processAllAvailable()
        val deadline2 = System.currentTimeMillis + 10000
        while (!rows().exists(r => r._1 == "crawlA" && r._4 == ts(41)) &&
            System.currentTimeMillis < deadline2) Thread.sleep(100)
        assert(rows().contains(("crawlA", 1L, 1L, ts(41))),
          s"returning source must restart its session from zero: ${rows()}")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("s90b: pending event-time timers survive a restart and fire after recovery") {
    // s88b pins VALUE-state recovery; timers live in their own store
    // partition, and a session that went quiet just before a crash must
    // still close after the restart — the summary's driver is the
    // recovered TIMER, re-fired by post-restart watermark advance.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val ckpt = tmpDir("s90b_ckpt")
      val out = tmpDir("s90b_out")
      val in = MemoryStream[(String, Long, Timestamp, String)](spark)
      def start() = SourceSessions.summarize(
          in.toDF().toDF("source", "doc_id", "ts", "lang")
            .withWatermark("ts", "5 minutes")
            .as[(String, Long, Timestamp, String)],
          gapMs = 10 * 60 * 1000)
        .toDF("source", "n_docs", "n_langs", "session_end")
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      def rows() = spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3))).toSet
      val q1 = start()
      try {
        in.addData(("crawlA", 1L, ts(0), "en"), ("crawlA", 2L, ts(2), "de"))
        q1.processAllAvailable()
        assert(rows().isEmpty, s"session closed before any watermark: ${rows()}")
      } finally q1.stop() // crash point: timer armed at ts(12), unfired
      val q2 = start()
      try {
        // watermark advance AFTER the restart: the recovered timer (and
        // the recovered MapState behind the counts) must produce the
        // summary of the PRE-restart session
        in.addData(("crawlC", 90L, ts(40), "zh"))
        q2.processAllAvailable()
        val deadline = System.currentTimeMillis + 10000
        while (rows().isEmpty && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2))),
          s"recovered timer did not close the pre-restart session: ${rows()}")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s91: in-stream funnel tracking equals the oracled q112 batch answer") {
    // q112's strictly-after view->click->purchase progression as a live
    // per-user fold on transformWithState (ValueState of three longs).
    // The real sf events fixture streams in three ascending micro-
    // batches; each user's FINAL emitted row must equal the DuckDB-
    // oracled batch answer — the in-order fold's first qualifying event
    // per stage IS the batch min, so any divergence is a state bug.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val sf = "/root/testdata/sf0.001"
      val batch = graft.SparkEntry.queries("q112_funnel")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      val ev = graft.queries.events(spark, sf)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tus"), col("event_id"))
        .as[(Long, String, Long, Long)].collect()
        .sortBy(r => (r._3, r._4))
      val chunks = ev.grouped((ev.length + 2) / 3).toSeq
      assert(chunks.size == 3)
      val in = MemoryStream[(Long, String, Long, Long)](spark)
      val q = FunnelTracker.track(in.toDS())
        .toDF("user_id", "stage", "t_view", "t_click", "t_purchase")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s91_out").start()
      try {
        chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
        // a user's rows evolve monotonically (stage never regresses,
        // a set time never changes), so the final state row is the
        // per-user maximum in (stage, t_view, t_click, t_purchase)
        val got = spark.table("s91_out").collect()
          .map(r => (r.getLong(0), r.getInt(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])))
          .groupBy(_._1).map(_._2.maxBy(t => (t._2, t._3, t._4, t._5))).toSet
        assert(got == batch,
          s"stream funnel diverged from the oracled batch answer:\n" +
            s"stream-only=${(got -- batch).take(5)}\nbatch-only=${(batch -- got).take(5)}")
        // every sf0.001 user happens to complete the funnel, so the
        // fixture proves full-depth folding but not the gates — the
        // planted scenario below covers the depths
        assert(got.map(_._2) == Set(3), s"fixture stages ${got.map(_._2)}")
        // state is two rows per user ever seen: the funnel value plus
        // the ordering high-water register
        val users = ev.map(_._1).distinct.length
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows == 2 * users,
          s"expected ${2 * users} state rows (funnel + high-water per user), got $stateRows")
      } finally q.stop()
      // planted depth coverage, hand-checked against q112's semantics:
      // 1 stalls at view, 2 at click, 3 completes, 4 clicks with no
      // view (stage 0), 5's click TIES its view timestamp — the strict
      // `>` gate must reject it at any fold order
      val in2 = MemoryStream[(Long, String, Long, Long)](spark)
      val q2 = FunnelTracker.track(in2.toDS())
        .toDF("user_id", "stage", "t_view", "t_click", "t_purchase")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s91b_out").start()
      try {
        in2.addData(
          (1L, "view", 100L, 1L),
          (2L, "view", 100L, 2L), (2L, "click", 200L, 3L),
          (3L, "view", 100L, 4L), (3L, "click", 200L, 5L))
        q2.processAllAvailable()
        in2.addData(
          (3L, "purchase", 300L, 6L),
          (4L, "click", 100L, 7L), (4L, "purchase", 200L, 8L),
          (5L, "view", 100L, 9L), (5L, "click", 100L, 10L))
        q2.processAllAvailable()
        val fin = spark.table("s91b_out").collect()
          .map(r => (r.getLong(0), r.getInt(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])))
          .groupBy(_._1).map(_._2.maxBy(t => (t._2, t._3, t._4, t._5))).toSet
        assert(fin == Set(
          (1L, 1, Some(100L), None, None),
          (2L, 2, Some(100L), Some(200L), None),
          (3L, 3, Some(100L), Some(200L), Some(300L)),
          (4L, 0, None, None, None),
          (5L, 1, Some(100L), None, None)), fin)
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s92: ListState recent-dup ring equals the sequential fold and evicts at the window edge") {
    // the burst-duplicate catcher: per source a bounded ring of the
    // last K content fingerprints in transformWithState's ListState.
    // Pinned two ways: row-identical to a driver-side reference fold
    // over the real sf documents fixture (which carries natural exact
    // dups — q80's groups), and hand-built eviction cases at the
    // window boundary.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val sf = "/root/testdata/sf0.001"
      val base = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("source"), col("doc_id"), xxhash64(col("text")).as("fp"))
        .as[(String, Long, Long)].collect().sortBy(_._2)
      // the sf0.001 fixture has no same-source exact dups (checked), so
      // plant the burst the gate exists for: every 25th doc re-delivered
      // 3 id-slots later — a re-queued fetch. The reference fold runs on
      // the SAME planted stream, so the pin stays honest.
      val docs = base.zipWithIndex.flatMap { case ((src, _, fp), i) =>
        Seq((src, i * 10L, fp)) ++
          (if (i % 25 == 7) Seq((src, i * 10L + 3L, fp)) else Seq())
      }.sortBy(_._2)
      // reference: the same step fold, sequentially per source
      val expected = {
        var rings = Map.empty[String, Vector[Long]].withDefaultValue(Vector.empty)
        docs.map { case (src, id, fp) =>
          val (r1, hit) = RecentDupGate.step(rings(src), fp, RecentDupGate.Window)
          rings += src -> r1
          (src, id, fp, hit)
        }.toSet
      }
      assert(expected.count(_._4) == docs.length - base.length &&
        expected.exists(!_._4),
        s"planted stream must flag exactly the ${docs.length - base.length} " +
          s"re-deliveries: ${expected.count(_._4)}")
      val chunks = docs.grouped((docs.length + 2) / 3).toSeq
      val in = MemoryStream[(String, Long, Long)](spark)
      val q = RecentDupGate.gate(in.toDS())
        .toDF("source", "doc_id", "fp", "is_recent_dup")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s92_out").start()
      try {
        chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
        val got = spark.table("s92_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .toSet
        assert(got == expected,
          s"ring gate diverged from the sequential fold:\n" +
            s"stream-only=${(got -- expected).take(5)}\nexpected-only=${(expected -- got).take(5)}")
      } finally q.stop()
      // window-edge eviction, window = 3: the dup 3 arrivals later sits
      // AT the ring edge (flagged); one arrival past that is evicted
      val in2 = MemoryStream[(String, Long, Long)](spark)
      val q2 = RecentDupGate.gate(in2.toDS(), window = 3)
        .toDF("source", "doc_id", "fp", "is_recent_dup")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s92b_out").start()
      try {
        in2.addData(("s", 1L, 77L), ("s", 2L, 10L), ("s", 3L, 11L))
        q2.processAllAvailable()
        // 77 is 3 back — still in the 3-ring — and the batch boundary
        // must not reset the ring
        in2.addData(("s", 4L, 77L), ("s", 5L, 12L), ("s", 6L, 13L),
          ("s", 7L, 14L), ("s", 8L, 77L))
        q2.processAllAvailable()
        val flags = spark.table("s92b_out").collect()
          .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
        assert(flags == Map(1L -> false, 2L -> false, 3L -> false,
          4L -> true, 5L -> false, 6L -> false, 7L -> false, 8L -> false),
          s"window-edge eviction wrong: $flags")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s93: the stateless chunker streams at ingest, row-identical to the oracled q130 batch") {
    // chunking is safe to run AT INGEST because it is a pure projection
    // (graft.streaming.Chunker — the s82/s85 shared-code-object
    // convention): no state store, no watermark, each arriving doc fans
    // out to its chunk rows in its own micro-batch. The pin: the real
    // sf documents fixture streamed in three micro-batches must produce
    // EXACTLY the DuckDB-oracled q130 batch answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q130_chunk_windows")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(docs.nonEmpty && batch.nonEmpty)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.Chunker.chunk(
        in.toDF().toDF("doc_id", "text"),
        graft.queries.LlmOps.ChunkWindow, graft.queries.LlmOps.ChunkStride)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s93_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s93_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      assert(got == batch,
        s"stream chunker diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      // and it really is stateless: no state operator in the progress
      assert(q.lastProgress.stateOperators.isEmpty,
        "the chunker must not create a state operator")
    } finally q.stop()
  }

  test("s95: the stateless classifier gate streams at ingest, row-identical to the oracled q147 batch") {
    // quality classification is safe to run AT INGEST because it is a
    // pure projection (graft.streaming.ClassifierGate — the s82/s85/s93
    // shared-code-object convention): no state store, no watermark,
    // each arriving doc carries its verdict out of its own micro-batch.
    // The pin: the real sf documents fixture streamed in three
    // micro-batches must produce EXACTLY the DuckDB-oracled q147 batch
    // answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q147_quality_classifier")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // both verdict classes must occur, or the parity pin is vacuous
    assert(batch.exists(_._4) && batch.exists(!_._4),
      "fixture scores never cross the threshold — the gate pin is vacuous")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(docs.nonEmpty)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.ClassifierGate.gate(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s95_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s95_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(got == batch,
        s"stream classifier diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      // and it really is stateless: no state operator in the progress
      assert(q.lastProgress.stateOperators.isEmpty,
        "the classifier gate must not create a state operator")
    } finally q.stop()
  }

  test("s96: stream-side BPE encode with the learned merge artifact matches the oracled q149 batch") {
    // the production posture q149's scaladoc promises, made literal:
    // train ships the ordered merge list (learnMerges, computed in
    // batch), and ingest runs ONLY the stateless artifact-fold encode
    // (graft.streaming.BpeEncoder — the shared batch/stream code
    // object). The pin: the real sf documents fixture streamed in three
    // micro-batches must produce EXACTLY the DuckDB-oracled q149 batch
    // answer's rows — the stream rides q149's oracle.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q149_bpe_encode")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // some doc must actually carry a merge, or the artifact pin is vacuous
    assert(batch.exists(_._4 > 0),
      "no merges applied on the fixture — the artifact parity pin is vacuous")
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
    val merges = graft.queries.CorpusOps.learnMerges(docsDf,
      graft.queries.CorpusOps.BpeRounds)
    assert(merges.nonEmpty)
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.BpeEncoder
      .encode(in.toDF().toDF("doc_id", "text"), merges)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s96_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s96_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == batch,
        s"stream encode diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the artifact encoder must not create a state operator")
    } finally q.stop()
  }

  test("s97: the stateless PII scrub gate streams at ingest, row-identical to the oracled q79 batch") {
    // redaction is the one gate that MUST run at ingest — scrubbing in
    // a later batch sweep means unredacted text already landed in the
    // lake. It is safe there because it is a pure projection
    // (graft.streaming.PiiScrubber — the s82/s85/s93/s95 shared
    // code-object convention): no state store, no watermark, each
    // arriving doc carries its redaction report out of its own
    // micro-batch. The pin: the real sf documents fixture streamed in
    // three micro-batches must produce EXACTLY the DuckDB-oracled q79
    // batch answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q79_pii_scrub")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getBoolean(6)))
      .toSet
    // every pattern family must fire somewhere, or the scrub pin is
    // vacuous; and every scrubbed doc must be clean
    assert(batch.exists(_._2 > 0) && batch.exists(_._3 > 0) &&
      batch.exists(_._4 > 0), "no plant fired — the scrub pin is vacuous")
    assert(batch.forall(_._7), "a scrubbed doc still matches a PII pattern")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(docs.nonEmpty)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.PiiScrubber.scrub(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s97_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s97_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getInt(5), r.getBoolean(6)))
        .toSet
      assert(got == batch,
        s"stream scrub diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      // and it really is stateless: no state operator in the progress
      assert(q.lastProgress.stateOperators.isEmpty,
        "the scrub gate must not create a state operator")
    } finally q.stop()
  }

  test("s98: the split router assigns at ingest against the static label table, row-identical to the oracled q158 batch") {
    // the label table (the nightly materialized artifact) rides as a
    // STATIC dimension; each arriving doc stream-static-broadcast-joins
    // it and leaves with its cluster-aware split — placement decided
    // BEFORE the doc lands in any shard (the s95/s97 gate-at-ingest
    // argument applied to routing). Stateless: a stream-static
    // broadcast join keeps no state store. The pin: the planted
    // universe streamed in three micro-batches must produce EXACTLY
    // the DuckDB-oracled q158 batch answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q158_split_assign")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
      .toSet
    // the routing must be non-trivial: clustered docs exist (at this
    // fixture every planted doc pairs with its re-crawl, so ALL rows
    // are clustered — the singleton arm is CorpusAuditSpec's hand
    // graph), every split class occurs, and at least one cluster id
    // differs from its member's doc id (a label actually moved an
    // assignment)
    assert(batch.exists(_._3))
    assert(Set("train", "val", "test").subsetOf(batch.map(_._4)))
    assert(batch.exists(t => t._2 != t._1),
      "no doc inherited a foreign cluster id — the router pin is vacuous")
    val labels = graft.queries.LlmOps.LabelTable.of(spark, sf)
    val ids = batch.toSeq.map(_._1).sorted
    val chunks = ids.grouped((ids.length + 2) / 3).toSeq
    val in = MemoryStream[Long](spark)
    val q = graft.streaming.SplitRouter.assign(in.toDF().toDF("doc_id"), labels)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s98_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s98_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
        .toSet
      assert(got == batch,
        s"stream router diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the split router must not create a state operator")
    } finally q.stop()
  }

  test("s99: the QI suppression gate admits at ingest against the static class table, row-identical to the oracled q161 batch") {
    // the class-size table (q160's grouping — the nightly artifact)
    // rides as a STATIC dimension; each arriving doc stream-static-
    // broadcast-joins its own quasi-identifier class and leaves with
    // its suppression verdict — the s95/s97 gate-at-ingest argument
    // applied to metadata privacy. Stateless: no state store, no
    // watermark. The pin: the real sf corpus streamed in three
    // micro-batches must produce EXACTLY the DuckDB-oracled q161
    // batch answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q161_anonymity_gate")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
      .toSet
    // the verdict must be non-trivial: both admit classes occur
    assert(batch.exists(_._6) && batch.exists(!_._6),
      "fixture must exercise both admit and suppress verdicts")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    val classes = graft.streaming.QiGate.classTable(
      spark.read.parquet(s"$sf/documents.parquet"))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String, String, Long)](spark)
    val q = graft.streaming.QiGate.gate(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars"),
      classes, graft.streaming.QiGate.kDial)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s99_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s99_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))
        .toSet
      assert(got == batch,
        s"stream gate diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the QI gate must not create a state operator")
    } finally q.stop()
  }

  test("s100: the composed gate stack admits at ingest, row-identical to the frame whose funnel is the oracled q162 batch") {
    // the production curation posture: ONE stream projection pays all
    // five gate verdicts (repetition + quality + classifier row-local,
    // decon a broadcast set probe, k-anonymity a stream-static join on
    // the nightly class table) and the admit verdict is their
    // conjunction — the s95/s97/s99 gates COMPOSED, still stateless.
    // Two pins: (1) the streamed verdict frame is row-identical to the
    // batch GateStack frame; (2) folding the streamed frame through
    // q162's funnel reproduces EXACTLY the DuckDB-oracled q162 answer.
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val n = graft.queries.LlmOps.geom.deconShingleN
    val k = graft.streaming.QiGate.kDial
    val evalSh = graft.streaming.Decontaminator.evalShingleSet(d, n)
    val classes = graft.streaming.QiGate.classTable(d).cache()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))
    val batch = graft.streaming.GateStack
      .verdicts(d, evalSh, n, classes, k).collect().map(key).toSet
    // the fixture must exercise both admit classes and at least one
    // drop per stage family (repetition flags are the rarest — 2+ at
    // sf0.001 suffices for observability)
    assert(batch.exists(_._8) && batch.exists(!_._8),
      "fixture must exercise both admit and suppress verdicts")
    val docs = d.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = graft.streaming.GateStack.verdicts(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      evalSh, n, classes, k)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s100_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("s100_out")
      val got = streamed.collect().map(key).toSet
      assert(got == batch,
        s"stream gate stack diverged from the batch frame:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the gate stack must not create a state operator")
      // (2) the streamed frame folds to the oracled q162 funnel
      val funnelGot = graft.queries.CorpusAudit.gateFunnel(streamed)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toSet
      val funnelExp = graft.SparkEntry.queries("q162_gate_funnel")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toSet
      assert(funnelGot == funnelExp,
        s"streamed funnel diverged from the oracled batch funnel:\n" +
          s"stream-only=${(funnelGot -- funnelExp).take(3)}")
    } finally { q.stop(); classes.unpersist() }
  }

  test("s101: evolved-reader Avro decode at ingest, row-identical to the oracled q09b batch") {
    // the consumer side of a schema change, where it actually bites:
    // the producer still ships WRITER-schema bytes (s70's value bodies)
    // while the consumer already reads with the evolved schema —
    // Avro's writer→reader resolution must hold per record, inside the
    // micro-batch, with no state (a pure projection, the s95/s97
    // gate-at-ingest class; AvroCodec.decodeFrameEvolved is the shared
    // code object q09b's DuckDB oracle certifies). The pin: the exact
    // q09b canonical frame, encoded once, streamed in three
    // micro-batches, decodes row-identically to the oracled batch
    // answer — dropped field skipped, both defaults materialized.
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row): Seq[Option[String]] =
      (0 until r.length).map(i => Option(r.getString(i)))
    val batch = graft.SparkEntry.queries("q09b_avro_evolution")(spark, sf)
      .collect().map(key).toSeq.sorted(
        Ordering.Implicits.seqOrdering[Seq, Option[String]](
          Ordering.Option(Ordering.String)))
    assert(batch.nonEmpty)
    val encoded = graft.ingest.AvroCodec.encodeFrame(spark,
      graft.queries.ScanProject.reclamacoesCanon(spark, sf))
      .collect().map(_.getAs[Array[Byte]]("value"))
    assert(encoded.length == batch.length)
    val chunks = encoded.grouped((encoded.length + 2) / 3).toSeq
    val in = MemoryStream[Array[Byte]](spark)
    val q = graft.ingest.AvroCodec.decodeFrameEvolved(spark,
        in.toDF().toDF("value"),
        graft.core.Schemas.reclamacoesEvolvedAvsc)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s101_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s101_out").collect().map(key).toSeq.sorted(
        Ordering.Implicits.seqOrdering[Seq, Option[String]](
          Ordering.Option(Ordering.String)))
      assert(got == batch,
        s"streamed evolved decode diverged from the oracled q09b batch " +
          s"(${got.length} vs ${batch.length} rows)")
      assert(q.lastProgress.stateOperators.isEmpty,
        "evolved decode must not create a state operator")
    } finally q.stop()
  }

  test("s102: stateless winnow fingerprinting at ingest, row-identical to the oracled q165 batch") {
    // the production posture for a winnowed copy-detection index: each
    // arriving document's MOSS fingerprint set is computed ONCE, at
    // ingest, and appended to the inverted index — the nightly q166
    // overlap pass then never re-tokenizes the corpus (s96's learned-
    // BPE amortization argument). Safe at ingest because it is a pure
    // projection (graft.streaming.WinnowFingerprinter — the
    // s82/s85/s95/s97 shared code-object convention; q165 batch-orders
    // the SAME frame, q166 explodes its fps column): no state store,
    // no watermark. The pin: the real sf documents fixture streamed in
    // three micro-batches must produce EXACTLY the DuckDB-oracled q165
    // batch answer's rows.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q165_winnow_stats")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // selection must be REAL somewhere (neither all grams kept nor
    // none), or the density pin is vacuous
    assert(batch.exists(t => t._3 > 0 && t._3 < t._2),
      "no doc with a strict winnow selection — the density pin is vacuous")
    assert(batch.forall(t => t._3 <= t._2),
      "selected fingerprints exceed gram count")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(docs.nonEmpty)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.WinnowFingerprinter.stats(
        in.toDF().toDF("doc_id", "text"),
        graft.queries.LlmOps.winnowK, graft.queries.LlmOps.winnowW)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s102_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val got = spark.table("s102_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == batch,
        s"stream fingerprinting diverged from the oracled batch answer:\n" +
          s"stream-only=${(got -- batch).take(3)}\nbatch-only=${(batch -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "winnow fingerprinting must not create a state operator")
      // the HOF-inlining pin on the STREAM's own micro-batch plan
      // (ADVICE r14): the documented regression class (CollapseProject
      // inlining the codes transform into the gram fold) is consumer-
      // context-dependent, and PlanSpec's pin only sees batch plans —
      // an ingest-path-only plan regression would pass the row-identity
      // check above and show up only as wall-clock. A healthy plan
      // carries winnowTokenCode's 3 Ascii probes exactly once.
      val streamAscii = org.apache.spark.sql.GraftTestBridge.countAscii(
        org.apache.spark.sql.GraftTestBridge.lastExecutedPlan(q))
      assert(streamAscii == 3,
        s"the micro-batch plan carries the codes transform " +
          s"${streamAscii / 3.0} times — HOF inlining on the ingest path")
    } finally q.stop()
    // totality facet through the same code object (row-local, so the
    // stream equivalence above carries it): empty and sub-k-token docs
    // report 0/0/0 instead of erroring or dropping
    val short = graft.streaming.WinnowFingerprinter.stats(
        Seq((1L, ""), (2L, "a b")).toDF("doc_id", "text"),
        graft.queries.LlmOps.winnowK, graft.queries.LlmOps.winnowW)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(short == Set((1L, 0L, 0L, 0L), (2L, 0L, 0L, 0L)),
      s"short-doc totality broke: $short")
    // reserved-name guard (ADVICE r14): withColumn replaces by name, so
    // a caller's pre-existing toks/codes/grams/fps would be silently
    // clobbered — the shared entry point must refuse loudly instead.
    // "Toks"/"FPS" pin the case-INSENSITIVE compare (withColumn
    // resolves case-insensitively under default spark.sql.caseSensitive)
    for (bad <- Seq("toks", "codes", "grams", "fps", "Toks", "FPS")) {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.WinnowFingerprinter.stats(
          Seq((1L, "a b c d e", 0L)).toDF("doc_id", "text", bad),
          graft.queries.LlmOps.winnowK, graft.queries.LlmOps.winnowW)
      }
      assert(e.getMessage.contains(bad),
        s"reserved-name error for '$bad' names the clash: ${e.getMessage}")
    }
  }

  test("s103: stateless rerank-feature scoring at ingest matches the oracled q172 batch scores") {
    // the ONLINE half of the two-stage retrieval stack: production
    // rerank serving scores arriving documents against the
    // artifact-served query panel at ingest (index-time feature
    // tagging) — safe at ingest because it is a pure projection
    // (graft.streaming.RerankScorer, the s95/s102 shared-constants
    // convention: the four Composition packing vals are referenced,
    // never copied). The pin: streaming q172's own candidate bodies
    // through the row-local fold spelling must reproduce EXACTLY the
    // DuckDB-oracled q172 batch answer's (n_match, ce_e9) per (query,
    // doc) — the two spellings (explode+groupBy there, per-row array
    // fold here) cannot drift without failing this.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q172_rerank_cross")(spark, sf)
      .collect()
      .map(r => ((r.getInt(0), r.getLong(2)), (r.getLong(5), r.getLong(6))))
      .toMap
    assert(batch.nonEmpty, "q172 produced no candidates — fixture degenerated")
    // the proximity arm (n_match >= 2) and the no-bonus arm must both
    // occur, or the packing-parity pin is vacuous on one branch
    assert(batch.values.exists(_._1 >= 2) && batch.values.exists(_._1 < 2),
      s"candidate matches never cross the proximity threshold both ways: " +
        s"${batch.values.map(_._1).toSeq.distinct.sorted}")
    val candIds = batch.keySet.map(_._2)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .filter(d => candIds.contains(d._1)).sortBy(_._1)
    assert(docs.nonEmpty)
    val panel = graft.streaming.RerankScorer.panelOf(spark, sf)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.RerankScorer.score(
        in.toDF().toDF("doc_id", "text"), panel)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s103_out").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      // the stream scores every (doc × panel query); the batch scored
      // only its fused candidate pairs — restrict to those and require
      // identical features
      val got = spark.table("s103_out").collect()
        .map(r => ((r.getInt(1), r.getLong(0)), (r.getLong(2), r.getLong(6))))
        .toMap
      val restricted = got.view.filterKeys(batch.keySet).toMap
      assert(restricted == batch,
        s"stream scores diverged from the oracled q172 batch:\n" +
          s"stream=${restricted.toSeq.sortBy(_._1).take(3)}\n" +
          s"batch=${batch.toSeq.sortBy(_._1).take(3)}")
      assert(got.size == docs.length * panel.size,
        s"expected ${docs.length}×${panel.size} scored rows, got ${got.size}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "rerank scoring must not create a state operator")
    } finally q.stop()
    // reserved-name guard (the WinnowFingerprinter convention): the
    // shared entry point refuses a frame already carrying one of its
    // intermediate names instead of silently clobbering it
    for (bad <- Seq("pos", "Terms")) {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.RerankScorer.score(
          Seq((1L, "x", 0L)).toDF("doc_id", "text", bad), panel)
      }
      assert(e.getMessage.contains(bad),
        s"reserved-name error for '$bad' names the clash: ${e.getMessage}")
    }
  }

  test("s94: the minwise panel's CDC stream reconstructs exactly the oracled q137 batch answer") {
    // per-source K-minwise audit sample in transformWithState ListState,
    // emitted as an enter/evict event log (the evict row IS the
    // retraction, so Append mode carries a reconstructable panel). The
    // pin: folding the event stream over the real sf fixture must yield
    // EXACTLY the DuckDB-oracled q137 batch panel — the kernel is
    // order-independent, so no ordering contract mediates the equality.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val sf = "/root/testdata/sf0.001"
      val batch = graft.SparkEntry.queries("q137_minwise_panel")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("source"), col("doc_id"))
        .as[(String, Long)].collect().sortBy(_._2)
      assert(docs.nonEmpty && batch.nonEmpty)
      val chunks = docs.grouped((docs.length + 2) / 3).toSeq
      val in = MemoryStream[(String, Long)](spark)
      val q = graft.streaming.MinwisePanel.panel(in.toDS())
        .toDF("source", "doc_id", "prio", "event")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s94_out").start()
      try {
        chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
        val events = spark.table("s94_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        val panel = events.foldLeft(Set.empty[(String, Long, Long)]) {
          case (s, (src, id, p, "enter")) => s + ((src, id, p))
          case (s, (src, id, p, _))      => s - ((src, id, p))
        }
        assert(panel == batch,
          s"reconstructed panel diverged from the oracled batch answer:\n" +
            s"stream-only=${(panel -- batch).take(5)}\nbatch-only=${(batch -- panel).take(5)}")
      } finally q.stop()
      // hand-built edges at k=2 (priorities: id8 < id5 < id2 < id7 <
      // id4 < id1 < id6 < id3): an above-max arrival leaves no trace, a
      // below-max arrival evicts the max, a re-delivered panel member
      // is a no-op — and none of it resets at batch boundaries
      val p = graft.streaming.MinwisePanel.priority _
      val in2 = MemoryStream[(String, Long)](spark)
      val q2 = graft.streaming.MinwisePanel.panel(in2.toDS(), k = 2)
        .toDF("source", "doc_id", "prio", "event")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s94b_out").start()
      try {
        in2.addData(("s", 1L), ("s", 2L)); q2.processAllAvailable()
        in2.addData(("s", 3L), ("s", 5L)); q2.processAllAvailable()
        in2.addData(("s", 5L), ("s", 8L)); q2.processAllAvailable()
        val got = spark.table("s94b_out").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
        val expected = Seq(
          (1L, p(1L), "enter"), (2L, p(2L), "enter"),
          (5L, p(5L), "enter"), (1L, p(1L), "evict"),
          (8L, p(8L), "enter"), (2L, p(2L), "evict"))
        assert(got.toSet == expected.toSet && got.length == expected.length,
          s"edge event log wrong:\ngot=$got\nexpected=$expected")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s94b: the minwise panel survives a restart — recovered members still evict and dedupe") {
    // s92c pins ListState recovery mechanically; this pins the panel's
    // SEMANTIC recovery: after restart the recovered members must still
    // (a) absorb a re-delivered member as a no-op (idempotent replay)
    // and (b) lose their max to a smaller post-restart arrival — a
    // reset panel would instead re-admit the re-delivery and never
    // emit the evict for the pre-restart member.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val p = graft.streaming.MinwisePanel.priority _
      val ckpt = tmpDir("s94b_ckpt")
      val out = tmpDir("s94b_out")
      val in = MemoryStream[(String, Long)](spark)
      def start() = graft.streaming.MinwisePanel.panel(in.toDS(), k = 2)
        .toDF("source", "doc_id", "prio", "event")
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      def events() = spark.read.parquet(out).collect()
        .map(r => (r.getLong(1), r.getString(3))).toSeq.sorted
      val q1 = start()
      try {
        in.addData(("s", 1L), ("s", 2L))
        q1.processAllAvailable()
        assert(events() == Seq((1L, "enter"), (2L, "enter")))
      } finally q1.stop() // crash point: panel holds {prio(2), prio(1)}
      val q2 = start()
      try {
        // id 2 re-delivered (recovered member → no-op) and id 5
        // (prio(5) < prio(2) < prio(1)) must displace the RECOVERED max
        in.addData(("s", 2L), ("s", 5L))
        q2.processAllAvailable()
        assert(events() == Seq((1L, "enter"), (1L, "evict"),
          (2L, "enter"), (5L, "enter")),
          s"recovered panel mishandled the post-restart batch: ${events()}")
        assert(p(5L) < p(2L) && p(2L) < p(1L), "fixture priority order moved")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s92c: the ListState dup ring survives a query restart from its checkpoint") {
    // completes the state-primitive recovery matrix: s88b pins
    // ValueState, s90b MapState + timers, s89b join state — this pins
    // ListState. The ring's memory of pre-restart fingerprints is the
    // recovered artifact: doc 3 re-delivers doc 1's fingerprint after
    // the restart and must flag; a reset ring would admit it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val ckpt = tmpDir("s92c_ckpt")
      val out = tmpDir("s92c_out")
      val in = MemoryStream[(String, Long, Long)](spark)
      def start() = RecentDupGate.gate(in.toDS(), window = 3)
        .toDF("source", "doc_id", "fp", "is_recent_dup")
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      def flags() = spark.read.parquet(out).collect()
        .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
      val q1 = start()
      try {
        in.addData(("s", 1L, 77L), ("s", 2L, 10L))
        q1.processAllAvailable()
        assert(flags() == Map(1L -> false, 2L -> false))
      } finally q1.stop() // crash point: ring holds [77, 10]
      val q2 = start()
      try {
        // 77 sits 2 back in the RECOVERED ring — must flag; and the
        // high-water register recovered too: doc 4 below doc 3 is a
        // contract violation even across the restart boundary
        in.addData(("s", 3L, 77L))
        q2.processAllAvailable()
        assert(flags() == Map(1L -> false, 2L -> false, 3L -> true),
          s"recovered ring must flag the pre-restart fingerprint: ${flags()}")
      } finally q2.stop()
    } finally spark.conf.unset(key)
  }

  test("s88c: the ordered-fold gates fail fast on a cross-batch ordering violation") {
    // s88/s91/s92 are correct only under the disjoint-ascending input
    // contract; a source that violates it must surface as a QUERY ERROR,
    // not as a silently wrong admitted/stage/dup verdict — the per-batch
    // sort cannot repair cross-batch disorder once state has folded.
    // Each processor keeps a per-key high-water register and throws.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    def contractError(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => Option(c.getMessage).exists(_.contains("ordering contract violated")))
    try {
      // TokenBudget: doc 9 arrives after doc 10 already folded
      val in1 = MemoryStream[(String, Long, Long)](spark)
      val q1 = TokenBudget.meter(in1.toDS())
        .toDF("lang", "doc_id", "n_tokens", "admitted", "meter_after")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s88c_a").start()
      try {
        in1.addData(("en", 10L, 5L)); q1.processAllAvailable()
        in1.addData(("en", 9L, 5L))
        val e = intercept[Exception] { q1.processAllAvailable() }
        assert(contractError(e), s"expected the contract error, got: $e")
      } finally q1.stop()
      // FunnelTracker: an event at the already-folded (tus, id) edge
      val in2 = MemoryStream[(Long, String, Long, Long)](spark)
      val q2 = FunnelTracker.track(in2.toDS())
        .toDF("user_id", "stage", "t_view", "t_click", "t_purchase")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s88c_b").start()
      try {
        in2.addData((1L, "view", 100L, 1L)); q2.processAllAvailable()
        in2.addData((1L, "click", 100L, 1L))
        val e = intercept[Exception] { q2.processAllAvailable() }
        assert(contractError(e), s"expected the contract error, got: $e")
      } finally q2.stop()
      // RecentDupGate: a doc_id below the folded high-water mark
      val in3 = MemoryStream[(String, Long, Long)](spark)
      val q3 = RecentDupGate.gate(in3.toDS())
        .toDF("source", "doc_id", "fp", "is_recent_dup")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s88c_c").start()
      try {
        in3.addData(("s", 5L, 77L)); q3.processAllAvailable()
        in3.addData(("s", 4L, 78L))
        val e = intercept[Exception] { q3.processAllAvailable() }
        assert(contractError(e), s"expected the contract error, got: $e")
      } finally q3.stop()
    } finally spark.conf.unset(key)
  }

  test("s90c: a batch arriving wholly past the gap closes the old session from the data path") {
    // the same-batch merge hazard: rows are processed against the
    // BATCH-START watermark, so a quiet-for-more-than-gap source whose
    // next rows land in the very batch that would advance the watermark
    // past expiry reaches handleInputRows with the old timer still
    // pending. Strict gap sessionization requires those rows to open a
    // NEW session — the old one must close with only its own docs, not
    // merge across a 38-minute silence.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val in = MemoryStream[(String, Long, Timestamp, String)](spark)
      val wm = in.toDF().toDF("source", "doc_id", "ts", "lang")
        .withWatermark("ts", "5 minutes")
        .as[(String, Long, Timestamp, String)]
      val q = SourceSessions.summarize(wm, gapMs = 10 * 60 * 1000)
        .toDF("source", "n_docs", "n_langs", "session_end")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s90c_out").start()
      try {
        def rows() = spark.table("s90c_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getTimestamp(3))).toSet
        in.addData(("crawlA", 1L, ts(0), "en"), ("crawlA", 2L, ts(2), "de"))
        q.processAllAvailable()
        assert(rows().isEmpty, s"nothing may emit while the session is open: ${rows()}")
        // one batch, 38 minutes past the session edge: the old session
        // [ts0, ts2] must close NOW with 2 docs / 2 langs — timer-path
        // handling would merge ts(40) into it
        in.addData(("crawlA", 3L, ts(40), "es"))
        q.processAllAvailable()
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2))),
          s"old session must close from the data path, unmerged: ${rows()}")
        // and the batch's rows opened a fresh session that closes by
        // timer as usual — exactly one more summary, counting only doc 3
        in.addData(("crawlB", 90L, ts(100), "zh"))
        q.processAllAvailable()
        val deadline = System.currentTimeMillis + 10000
        while (!rows().exists(r => r._4 == ts(40)) &&
            System.currentTimeMillis < deadline) Thread.sleep(100)
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2)), ("crawlA", 1L, 1L, ts(40))),
          s"new session must hold only the post-gap doc: ${rows()}")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("s90d: a late old-session row after a data-path close folds into the successor (the attribution boundary)") {
    // the documented limit of strict early emission: the data-path
    // close emits the old session BEFORE the watermark proves it
    // quiet, so a later batch can legally deliver a row whose event
    // time belonged to the CLOSED session (above the lagging global
    // watermark, below the old expiry edge). With the summary already
    // out and Append unable to retract, the row's only owner is the
    // successor session — this pins that behavior as a contract, so a
    // change to it is a deliberate decision, not drift. (Exact
    // attribution is s72's built-in session_window, which buffers
    // sessions until the watermark — the scaladoc's pointer.)
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, graft.core.GraftSession.RocksDBProviderClass)
    try {
      val in = MemoryStream[(String, Long, Timestamp, String)](spark)
      // 30-minute delay keeps the global watermark (max event − 30 min)
      // BELOW the old session's expiry edge when the ts(40) batch
      // early-closes it — the window in which a late row is legal
      val wm = in.toDF().toDF("source", "doc_id", "ts", "lang")
        .withWatermark("ts", "30 minutes")
        .as[(String, Long, Timestamp, String)]
      val q = SourceSessions.summarize(wm, gapMs = 10 * 60 * 1000)
        .toDF("source", "n_docs", "n_langs", "session_end")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("s90d_out").start()
      try {
        def rows() = spark.table("s90d_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getTimestamp(3))).toSet
        in.addData(("crawlA", 1L, ts(0), "en"), ("crawlA", 2L, ts(2), "de"))
        q.processAllAvailable()
        in.addData(("crawlA", 3L, ts(40), "es"))
        q.processAllAvailable()
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2))),
          s"data-path close must emit the old session: ${rows()}")
        // ts(11): above the watermark (40 − 30 = 10), below the old
        // expiry edge (2 + 10 = 12) — an old-session row by event time,
        // but the old summary is out; it must fold into the successor
        in.addData(("crawlA", 4L, ts(11), "en"))
        q.processAllAvailable()
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2))),
          s"the late row may not re-emit or retract anything: ${rows()}")
        // advance the watermark past the successor's edge (40 + 10):
        // the successor closes with BOTH docs and ends at ts(40) — the
        // late row extended its language mix, not its end
        in.addData(("crawlB", 90L, ts(100), "zh"))
        q.processAllAvailable()
        val deadline = System.currentTimeMillis + 10000
        while (!rows().exists(r => r._4 == ts(40)) &&
            System.currentTimeMillis < deadline) Thread.sleep(100)
        assert(rows() == Set(("crawlA", 2L, 2L, ts(2)),
          ("crawlA", 2L, 2L, ts(40))),
          s"successor must own the late row (2 docs, en+es): ${rows()}")
      } finally q.stop()
    } finally spark.conf.unset(key)
  }

  test("s89b: the left-outer join's watermark-timed NULL row survives a restart") {
    // s88b pins value-state recovery and s90b timer recovery; this pins
    // the subtlest recovery surface in the streaming set — an UNMATCHED
    // outer-join row held in join state across a checkpoint restart. The
    // query dies while user 2's band is still open; after recovery the
    // watermark closes the band and the (view, NULL) attribution row
    // must emit exactly once, from recovered state.
    val ckpt = tmpDir("s89b_ckpt")
    val out = tmpDir("s89b_out")
    val views = MemoryStream[(Timestamp, Long)](spark)
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    def start() = {
      val v = views.toDF().toDF("vts", "vuser").withWatermark("vts", "5 minutes")
      val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "5 minutes")
      v.join(c,
        expr("vuser = cuser AND cts BETWEEN vts AND vts + interval 5 minutes"),
        "leftOuter")
        .select(col("vuser").as("user"), col("vts"), col("cts"))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
    }
    def rows() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)))).toSet
    val q1 = start()
    try {
      views.addData((ts(0), 1L), (ts(0), 2L))
      clicks.addData((ts(3), 1L))
      q1.processAllAvailable()
      assert(rows() == Set((1L, ts(0), Some(ts(3)))), rows())
    } finally q1.stop() // crash point: user 2's view held in join state, band open
    val q2 = start()
    try {
      // watermark advance AFTER the restart closes user 2's band; the
      // NULL row's inputs exist only in the recovered state store
      views.addData((ts(60), 9L))
      clicks.addData((ts(60), 9L))
      q2.processAllAvailable()
      val deadline = System.currentTimeMillis + 10000
      while (!rows().exists(r => r._1 == 2L && r._3.isEmpty) &&
          System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(rows().contains((2L, ts(0), None)),
        s"recovered join state must emit the NULL attribution row: ${rows()}")
      // exactly once, across further batches on the recovered query
      views.addData((ts(70), 9L))
      clicks.addData((ts(70), 9L))
      q2.processAllAvailable()
      val nullRows = spark.read.parquet(out).collect()
        .count(r => r.getLong(0) == 2L && r.getTimestamp(2) == null)
      assert(nullRows == 1, s"NULL attribution row emitted $nullRows times")
    } finally q2.stop()
  }
}
