package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._

/** Minimal bridge into the sql package: `Dataset.ofRows` is private[sql],
  * and it is the only supported way to wrap a custom LogicalPlan (the
  * graft AsOfJoin node) into a user-facing DataFrame. No Spark internals
  * are reimplemented here. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StateStore.unloadAll` is sql-private; ScaleProbe's streaming cells
    * call it between same-JVM reps because the maintenance thread
    * unloads a stopped query's RocksDB providers lazily, and stale
    * provider instances (native memtables included) inflated later
    * reps 3× in measurement. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** Waits until the asynchronous listener bus delivered every event
    * posted so far (`waitUntilEmpty` is spark-private). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The distinct operation-scope names (`Exchange`, `WholeStageCodegen
    * (2)`, ...) of a stage's RDDs, in RDD id order
    * (`RDDOperationScope` is spark-private). */
  def stageScopes(si: org.apache.spark.scheduler.StageInfo): Seq[String] =
    si.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct.toSeq
}
