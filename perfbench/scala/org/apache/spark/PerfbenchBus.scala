package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Bridge to package-private Spark state the benchmark reads. */
object PerfbenchBus {
  /** Wait until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (one exchange). */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
