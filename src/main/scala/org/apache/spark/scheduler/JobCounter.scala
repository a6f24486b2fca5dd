package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Spark jobs submitted so far on `sc`, read from the scheduler's own
  * counter: exact the moment a call returns, where a listener's count
  * (and `sc.statusTracker`, which a listener feeds) lags until its event
  * bus drains, so a listener's window around one call can miss that
  * call's last jobs or catch the previous call's. `graft.Bench` reads it
  * around each query. `SparkContext.dagScheduler` and
  * `DAGScheduler.numTotalJobs` are package-private, hence this package.
  * It is the same one-line read as graftbench's `BenchBus.jobsSubmitted`. */
object JobCounter {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
