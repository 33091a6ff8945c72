package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * one epoch anchor, then the monotonic clock. Listener events carry
  * epoch-ms stamps, so every span shares this time base. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Double, end: Double)

/** In-memory span store, written out as JSON lines when the run ends.
  * Disabled (every call a no-op except timing the body) when tracing is
  * off, so the untraced run pays nothing for it. */
final class Spans(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def current: Long = stack.get.headOption.getOrElse(0L)

  def reserve(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, kind: String, start: Double, end: Double,
      id: Long = reserve()): Long = {
    if (enabled) done.add(Span(id, parent, name, kind, start, end))
    id
  }

  /** Time `body` as a span under the calling thread's current span. */
  def apply[T](name: String, kind: String)(body: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = current
    stack.set(id :: stack.get)
    val t0 = Clock.nowMs
    try {
      val r = body
      (r, (Clock.nowMs - t0) / 1000.0)
    } finally {
      val t1 = Clock.nowMs
      stack.set(stack.get.tail)
      if (enabled) done.add(Span(id, parent, name, kind, t0, t1))
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** One JSON line per span, with its self time: its duration minus the
    * union of the intervals its direct children cover. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val spans = all
    val byParent = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))).filter(i => i._2 > i._1)
      val self = s.end - s.start - Intervals.union(kids)
      Json.write(scala.collection.immutable.ListMap("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind, "start" -> s.start,
        "end" -> s.end, "self_ms" -> self))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) covered += curE - curS
    covered
  }
}

final case class TaskRec(finish: Double, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)

/** Spark runtime counters from the public listener API: per-task
  * executor metrics, job/stage spans (parented on whichever benchmark
  * span was current when the job was submitted), stage-activity
  * intervals for driver-only time, and the storage-memory peak from
  * block updates. */
final class RuntimeListener(spans: Spans) extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stageIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
  val jobTimes = new ConcurrentLinkedQueue[Double]()
  @volatile var owner: Long = 0L // benchmark span that submits the next jobs
  // job id -> (start, owner span, reserved span id of the job)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val storageNow = new AtomicLong()
  val storagePeak = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobTimes.add(e.time.toDouble)
    jobStart.put(e.jobId, (e.time.toDouble, owner, spans.reserve()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, id) =>
      spans.add(parent, s"job ${e.jobId}", "job", t0, e.time.toDouble, id)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime) {
      stageIntervals.add((s.toDouble, c.toDouble))
      val parent = Option(jobStart.get(stageJob.getOrDefault(info.stageId, -1)))
        .map(_._3).getOrElse(owner)
      spans.add(parent, s"stage ${info.stageId}", "stage", s.toDouble, c.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.taskInfo.finishTime.toDouble, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.diskBytesSpilled))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.executorId + "/" + info.blockId.name
    val now = if (info.storageLevel.isValid) info.memSize else 0L
    val prev = Option(blocks.put(key, now)).map(_.longValue).getOrElse(0L)
    val cur = storageNow.addAndGet(now - prev)
    storagePeak.accumulateAndGet(cur, math.max)
  }

  def jobsIn(t0: Double, t1: Double): Int = jobTimes.asScala.count(t => t >= t0 && t <= t1)

  def stagesIn(t0: Double, t1: Double): Int =
    stageIntervals.asScala.count { case (s, _) => s >= t0 && s <= t1 }

  def tasksIn(t0: Double, t1: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq

  /** Milliseconds of [t0, t1] during which no stage was running. */
  def idleMs(t0: Double, t1: Double): Double = {
    val clipped = stageIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter(i => i._2 > i._1)
    (t1 - t0) - Intervals.union(clipped)
  }
}

/** Planning-phase times (analysis, optimization, planning) of every
  * executed query, from `QueryPlanningTracker`. */
final class PlanningListener(spans: Spans) extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  @volatile var owner: Long = 0L

  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      phases.add((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      spans.add(owner, phase, "phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def seconds(phase: String, t0: Double, t1: Double): Double =
    phases.asScala.filter(p => p._1 == phase && p._2 >= t0 && p._2 <= t1)
      .map(p => p._3 - p._2).sum / 1000.0
}

/** Heap in use right after a full GC, read at fixed points of a run
  * (before and after each query; after the producer's catch-up and
  * tail), so the readings do not depend on when the collector happens to
  * run. The peak is the largest reading. */
object HeapPeak {
  private val peak = new AtomicLong(0)

  /** Collect, read, and return the reading in MB. */
  def sample(): Double = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, math.max)
    used / 1048576.0
  }

  def mb: Double = peak.get / 1048576.0
}
