package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark reads: draining the listener bus
  * (so counters are complete when a lifecycle returns) and an RDD's
  * operation-scope name (so a stage can be tied to the scan it runs). */
object BenchAccess {

  /** Blocks until every posted event reached the listeners, at most
    * `timeoutMillis`; throws `TimeoutException` past that. */
  def drain(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Operation-scope names of a stage's RDDs, e.g. `Scan csv `. */
  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name))
}
