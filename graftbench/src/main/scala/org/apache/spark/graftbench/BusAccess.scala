package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two package-private Spark members the harness reads. */
object BusAccess {
  /** The listener bus delivers events asynchronously; per-layer numbers
    * are read only after every event posted so far has been handled. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMapStage(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
