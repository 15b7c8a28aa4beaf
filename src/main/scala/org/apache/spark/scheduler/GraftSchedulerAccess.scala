package org.apache.spark.scheduler

/** Minimal accessor for `StageInfo.shuffleDepId`, which is
  * `private[spark]` at the Scala level (public in bytecode). A stage
  * with a shuffle dependency id is a shuffle-map stage — the signal
  * [[graft.mr.JobProgress]] uses to classify MAP vs REDUCE phases
  * robustly under AQE. Kept to this one field; no other
  * Spark internals are touched.
  */
object GraftSchedulerAccess {
  def isShuffleMapStage(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
