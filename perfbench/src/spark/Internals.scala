package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * counters of a finished action are complete before they are read.
  * The bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

/** Executor CPU of every stage the jobs of one job group ran, in seconds,
  * from the status store Spark keeps in every session. Reading it needs
  * no listener of the benchmark's own, so an untraced run registers none.
  * Call after [[BusDrain]]. */
object GroupCpu {
  def apply(sc: SparkContext, group: String): Double = {
    val store = sc.statusStore
    val stages = store.jobsList(null).filter(_.jobGroup.contains(group)).flatMap(_.stageIds).distinct
    stages.flatMap(id => store.stageData(id)).map(_.executorCpuTime).sum / 1e9
  }
}
