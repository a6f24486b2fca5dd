package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Driver internals the harness reads. `SparkContext.listenerBus`,
  * `SparkContext.dagScheduler` and `DAGScheduler.numTotalJobs` are
  * package-private, hence this package. */
object BenchBus {
  /** Waits until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs submitted since the context started. Read without a listener, so
    * counting jobs costs an untraced run nothing. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
