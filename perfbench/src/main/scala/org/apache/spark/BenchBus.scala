package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark-internal facts the benchmark's tracing needs. */
object BenchBus {
  /** Waits until every listener event of the actions issued so far has been
    * delivered, so a pass's stage metrics are complete when it is summarised. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)

  /** True for a shuffle-map stage, false for a result stage. */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined

  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
