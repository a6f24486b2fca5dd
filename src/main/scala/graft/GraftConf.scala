package graft

import org.apache.spark.sql.SparkSession

/** Session-conf scale knobs (VERDICT r13 #6): bounds that were
  * compile-time literals, promoted to `spark.graft.*` confs with
  * validated defaults — a cluster operator tunes them per deployment
  * without a rebuild, and an invalid value fails LOUDLY at read time
  * (the literal-knob discipline GraftExtensionsSpec enforces for the
  * SQL kernels, applied to session confs). Reads resolve against the
  * active (else default) session on the DRIVER; closures capture the
  * value, never the lookup — executors have no session. */
object GraftConf {

  private def long(key: String, default: Long, min: Long): Long =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(key)) match {
      case None => default
      case Some(v) =>
        val n =
          try v.trim.toLong
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$key must be a long, got '$v'")
          }
        require(n >= min, s"$key must be >= $min, got $n")
        n
    }

  /** Byte bound past which a REOPEN-able pipes exchange's replay
    * buffer spills to a framed side file
    * ([[graft.operators.WorkerPool]], VERDICT r13 #1). 0 spills every
    * record — the forced-storage path the specs exercise. */
  def reopenSpillBytes: Long =
    long("spark.graft.pipes.reopenSpillBytes",
      operators.WorkerPool.defaultReopenSpillBytes, 0L)

  /** Target input bytes per STATE-STORE partition for the live streaming
    * rows ([[graft.streaming.Streams.statePartitions]]): a stateful
    * streaming query pins one state store per shuffle partition per
    * stateful operator for its whole lifetime, so the store count should
    * follow the data, not the core count — `ceil(inputBytes / this)`,
    * floored at `Streams.stateMinPartitions` and capped at the session's
    * `spark.sql.shuffle.partitions` (at 100 TB the cap always wins; at
    * gate scale the floor does, cutting per-micro-batch task-launch +
    * store-commit rounds measured 2x on the stateful floor probe —
    * OPTIMIZATION_r14.md §1). */
  def streamStateBytesPerPartition: Long =
    long("spark.graft.stream.stateBytesPerPartition", 64L << 20, 1L)
}
