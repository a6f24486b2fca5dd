package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge

/** Driver-side superstep loop: the Spark shape of Hama's BSP barrier
  * (`core/src/main/java/org/apache/hama/bsp/BSPPeerImpl.java:390-452` —
  * each `peer.sync()` becomes one Spark job boundary). Periodic
  * `localCheckpoint` truncates the growing iterative lineage — the one
  * physical obligation Hama never had with its mutable in-memory vertices
  * (SURVEY.md §4): without it, plan depth grows linearly with supersteps
  * and analysis/codegen time dominates at high iteration counts.
  *
  * ONE loop body runs every superstep loop: [[apply]] (declared rounds),
  * [[untilFixpointChecked]] (rounds discovered by a changed-count halt)
  * and [[SuperstepPipeline]] (staged rounds with a resume offset) all
  * delegate to [[loop]], so a round begins and ends at one site. Every
  * pin here — the loop's cadence checkpoint, [[pin]] and the observed
  * pins built on it — is eager, and every pin-and-swap keeps one rule:
  * a superseded state is released only after the next pin has
  * materialized, because until then the new state's plan still reads the
  * old blocks. [[advance]] is that rule for a step that pins its own
  * state.
  */
object Iterate {

  /** Free the block-store copy behind a localCheckpoint once a LATER
    * checkpoint has been eagerly materialized from it — otherwise every
    * superstep's blocks pile up for the whole job (Hama frees a superstep's
    * queues at the barrier; this is the same hygiene).
    *
    * Deliberately releases ONLY a dataset whose plan root is itself the
    * checkpoint (i.e. the exact value `localCheckpoint()` returned) and
    * no-ops otherwise: scanning the whole plan for LogicalRDDs would also
    * destroy checkpoints a caller merely DERIVED from — truncated lineage
    * means those blocks are the only copy (ADVICE r1). */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Eager localCheckpoint of `df`. `freshIds` re-roots the checkpointed
    * blocks under NEW attribute ids (zero recompute — same RDD): loops
    * that repeatedly join/union descendants of their own state need this
    * to dodge Catalyst's stale-id traps. The new root scans the
    * checkpointed RDD itself, not a row conversion over it, so
    * [[release]] frees it. */
  def pin(df: DataFrame, freshIds: Boolean = false): DataFrame = {
    val ck = df.localCheckpoint()
    if (!freshIds) ck
    else ck.queryExecution.analyzed match {
      case l: LogicalRDD =>
        bridge.frameOver(ck.sparkSession, l.output.map(_.newInstance()), l.rdd)
    }
  }

  /** [[pin]] with a scalar metric OBSERVED during the materializing job
    * itself (optimization r15, guide §1/§5): every discovered-fixpoint
    * loop here used to pay one checkpoint job plus one narrow count/max
    * job per round for its halt condition; a `Dataset.observe` metric is
    * collected by the checkpoint's own action, so the round costs ONE
    * job. Returns (pinned frame, metric value — None for an all-null
    * aggregate, e.g. sum over zero rows). The observed column never lands
    * in the schema, so downstream plan shapes are untouched. */
  def pinObserved(df: DataFrame, metric: Column,
      freshIds: Boolean = false): (DataFrame, Option[Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val pinned = pin(df.observe(obs, metric.as("m")), freshIds)
    (pinned, Option(obs.get.getOrElse("m", null)))
  }

  /** [[pinObserved]] counting rows that satisfy `flag` — the changed-row
    * halt condition of the frontier loops. */
  def pinCountTrue(df: DataFrame, flag: Column,
      freshIds: Boolean = false): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{sum, when}
    val (pinned, m) =
      pinObserved(df, sum(when(flag, 1L).otherwise(0L)), freshIds)
    (pinned, m.map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** [[pinObserved]] counting ALL rows — loop gates that only need "is
    * the relation empty / how many rows landed" fold into the pin. */
  def pinCountAll(df: DataFrame, freshIds: Boolean = false): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    val (pinned, m) = pinObserved(df, count(lit(1)), freshIds)
    (pinned, m.map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** One round's pin-and-swap: evaluate `pinNext` (a [[pin]] or an
    * observed pin of the state that supersedes `prev`), then [[release]]
    * `prev` — in that order, since `pinNext`'s plan reads `prev`'s blocks
    * until it has materialized. Returns what `pinNext` returned: the pin
    * alone, or the pin with its observed count, max or sum. */
  def advance[A](prev: Dataset[_])(pinNext: => A): A = {
    val pinned = pinNext
    release(prev)
    pinned
  }

  /** [[advance]] with [[pinCountTrue]] on `next`: returns (pinned next,
    * changed count) — the shape an [[untilFixpointChecked]] step returns. */
  def advance(prev: Dataset[_], next: DataFrame, flag: Column,
      freshIds: Boolean = false): (DataFrame, Long) =
    advance(prev)(pinCountTrue(next, flag, freshIds))

  /** The superstep loop. Runs `step` for rounds `start` until `maxIter`,
    * stopping early after a round that reports halt. After a round that
    * leaves the count of rounds run a multiple of `checkpointEvery`, with
    * rounds still ahead and no halt, the state is checkpointed and the
    * previous cadence checkpoint released. Returns (state, rounds run,
    * halted) — the round count includes `start` and the halting round. */
  private[plans] def loop[T](init: Dataset[T], start: Int, maxIter: Int,
      checkpointEvery: Int, reliable: Boolean)(
      step: (Dataset[T], Int) => (Dataset[T], Boolean)): (Dataset[T], Int, Boolean) = {
    var cur = init
    var prevCkpt: Dataset[T] = null
    var i = start
    var halted = false
    while (i < maxIter && !halted) {
      val (next, halt) = step(cur, i)
      cur = next
      halted = halt
      i += 1
      if (!halted && checkpointEvery > 0 && i % checkpointEvery == 0 && i < maxIter) {
        cur = if (reliable) cur.checkpoint() else cur.localCheckpoint()
        if (prevCkpt != null) release(prevCkpt)
        prevCkpt = cur
      }
    }
    (cur, i, halted)
  }

  /** `maxIter` declared rounds. `reliable = true` swaps the
    * executor-local checkpoint for Spark's reliable `Dataset.checkpoint()`
    * (files under `sc.setCheckpointDir` — HDFS on a cluster): blocks lost
    * with an executor are recomputed from the checkpoint FILES instead of
    * killing the job — the analogue of the reference's superstep
    * checkpoint recovery
    * (`core/.../bsp/ft/AsyncRcvdMsgCheckpointImpl.java:69-260`). Costs one
    * filesystem write of the loop state per cadence; cadence × state size
    * is the knob (BASELINE.md records the measured overhead). */
  def apply(init: DataFrame, maxIter: Int, checkpointEvery: Int = 10,
      reliable: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, 0, maxIter, checkpointEvery, reliable)(
      (df, i) => (step(df, i), false))._1

  /** Result of a discovered-fixpoint loop: `converged` is the EXPLICIT
    * halt flag — callers guarding against exhaustion must require it, not
    * infer it from `iters < maxIter`: a loop whose confirming zero-change
    * round lands exactly on round maxIter has iters == maxIter AND
    * converged (ADVICE r9 — the inferred form misreported that boundary
    * as guard exhaustion). */
  final case class Fixpoint(out: DataFrame, iters: Int, converged: Boolean) {
    def requireConverged(what: String): Fixpoint = {
      require(converged,
        s"$what: guard exhausted after $iters rounds without convergence")
      this
    }
  }

  /** Loop with a halt condition evaluated between supersteps (the Spark
    * analogue of Hama's global `updated` flag + aggregator-driven halt,
    * `graph/src/main/java/org/apache/hama/graph/GraphJobRunner.java:163-181`).
    * `step` returns (next, changedCount); halts when changedCount == 0.
    * `iters` counts the confirming round. */
  def untilFixpointChecked(init: DataFrame, maxIter: Int, checkpointEvery: Int = 10)(
      step: (DataFrame, Int) => (DataFrame, Long)): Fixpoint = {
    val (out, iters, converged) =
      loop(init, 0, maxIter, checkpointEvery, reliable = false) { (df, i) =>
        val (next, changed) = step(df, i)
        (next, changed == 0)
      }
    Fixpoint(out, iters, converged)
  }
}
