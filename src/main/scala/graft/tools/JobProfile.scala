package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-JOB / per-STAGE breakdown of one declared query at the bench
  * session geometry (`local[SPARK_GRAFT_CPUS]` with as many shuffle
  * partitions, default every available processor — [[graft.Bench]]'s
  * spelling), so per-job fixed costs show at the width they are paid.
  * Prints, per rep: wall, #jobs, #stages, #tasks, Σ executorRunTime,
  * Σ jvmGcTime, and the per-stage table (duration, tasks, run/gc ms,
  * shuffle bytes, name) sorted by submission.
  * Usage: runMain graft.tools.JobProfile <sfDir> <query> [reps] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = graft.core.GraftSession.localCpus
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus,
      Map("spark.ui.enabled" -> "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — valid: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))

    case class StageRow(id: Int, attempt: Int, submitted: Long, durMs: Long,
      tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long, shufReadB: Long,
      shufWriteB: Long, fetchWaitMs: Long, shufWriteMs: Long, name: String)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
    val jobStarts = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRow(si.stageId, si.attemptNumber(),
            si.submissionTime.getOrElse(0L),
            (for {c <- si.completionTime; s <- si.submissionTime} yield c - s).getOrElse(-1L),
            si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.fetchWaitTime,
            m.shuffleWriteMetrics.writeTime / 1000000,
            si.name.linesIterator.next().take(90))
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.synchronized { jobStarts(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs += ((e.jobId, jobStarts.getOrElse(e.jobId, e.time), e.time))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to reps).foreach { i =>
        stages.clear(); jobs.clear(); jobStarts.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        graft.core.CacheScope.drain()
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggling listener events land before reading the buffers
        Thread.sleep(300)
        val ss = stages.synchronized(stages.sortBy(_.submitted).toVector)
        val js = jobs.synchronized(jobs.toVector)
        println(f"[jobprofile] $name rep $i: $wall%.2f s ($n rows), " +
          f"jobs=${js.size} stages=${ss.size} tasks=${ss.map(_.tasks).sum} " +
          f"runMs=${ss.map(_.runMs).sum} cpuMs=${ss.map(_.cpuMs).sum} " +
          f"gcMs=${ss.map(_.gcMs).sum}")
        js.sortBy(_._2).foreach { case (id, s, e) =>
          println(f"  job $id%3d  ${e - s}%6d ms") }
        ss.foreach { r =>
          println(f"  stage ${r.id}%4d dur=${r.durMs}%6d ms tasks=${r.tasks}%3d " +
            f"run=${r.runMs}%6d cpu=${r.cpuMs}%6d gc=${r.gcMs}%5d " +
            f"shufR=${r.shufReadB}%9d shufW=${r.shufWriteB}%9d " +
            f"fw=${r.fetchWaitMs}%5d sw=${r.shufWriteMs}%5d  ${r.name}")
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
        System.gc(); System.gc()
      }
    } finally spark.stop()
  }
}
