package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two engine internals the traced run reads. They live in
  * Spark's package because neither is public. */
object Internals {

  /** Blocks until every event posted so far has reached the bench's
    * listeners, so a traced run reads complete job and stage records. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (one per exchange run). */
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
