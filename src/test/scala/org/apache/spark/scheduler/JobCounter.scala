package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Spark jobs submitted so far on `sc`, read from the scheduler's own
  * counter: exact the moment a call returns, where a listener's count
  * (and `sc.statusTracker`, which a listener feeds) lags until its event
  * bus drains. `SparkContext.dagScheduler` and `DAGScheduler.numTotalJobs`
  * are package-private, hence this package. It is the same one-line read
  * as graftbench's `BenchBus.jobsSubmitted`: graftbench is a separate
  * build that depends on the engine, so the engine's tests cannot use
  * it. */
object JobCounter {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
