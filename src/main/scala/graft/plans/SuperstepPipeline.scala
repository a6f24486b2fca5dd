package graft.plans

import org.apache.spark.sql.Dataset

/** Composable superstep chain — the Spark analogue of Hama's
  * `Superstep`/`SuperstepBSP` (`core/src/main/java/org/apache/hama/bsp/
  * Superstep.java:24-53`, `SuperstepBSP.java:38-83`, wired by
  * `BSPJob.setSupersteps:114`): an ordered list of state transforms executed
  * round-robin, each able to halt the computation, with recovery-style
  * resume supported by starting at any (round, stage) offset — the
  * equivalent of `attempt.superstep` fast-forward (`SuperstepBSP.java:61-77`).
  * The rounds run on [[Iterate]]'s loop, with its checkpoint cadence and
  * release of superseded checkpoints.
  */
final class SuperstepPipeline[S](
    stages: Seq[(Dataset[S], Int) => (Dataset[S], Boolean)],
    checkpointEvery: Int = 10) {

  require(stages.nonEmpty, "pipeline needs at least one stage")

  /** Run up to `maxSupersteps` stage executions starting from
    * `startSuperstep` (for resume); superstep i runs stage (i % stages.size). */
  def run(init: Dataset[S], maxSupersteps: Int, startSuperstep: Int = 0): (Dataset[S], Int) = {
    val (out, steps, _) = Iterate.loop(init, startSuperstep, maxSupersteps,
      checkpointEvery, reliable = false)((ds, i) => stages(i % stages.size)(ds, i))
    (out, steps)
  }
}
