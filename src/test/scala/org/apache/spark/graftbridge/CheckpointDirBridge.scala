package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only bridge: `SparkContext.checkpointDir` can be set but not
  * cleared through the public API, and the first reliable lineage cut
  * fixes it for the whole shared test session. Specs that turn reliable
  * cuts on restore the previous value, so a later spec that checks its
  * own checkpoint directory still sees its files land there. */
object CheckpointDirBridge {
  def get(sc: SparkContext): Option[String] = sc.checkpointDir
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
