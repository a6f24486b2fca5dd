package graft

import graft.plans.Pregel
import graft.plans.Pregel.{ComputeResult, GlobalAggregator}
import org.scalatest.funsuite.AnyFunSuite

/** Vertex value for SSSP: current distance + adjacency (Hama's Vertex owns
  * its edge list, `graph/.../VertexInterface.java:38-135`). */
case class SsspV(dist: Long, adj: Seq[(Long, Long)])
case class SumV(value: Long)
/** A BSP peer's state: its input split's summary and what it has summed. */
case class PeerState(localHits: Long, total: Long)

class PregelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val INF = Long.MaxValue / 4

  test("SSSP: vote-to-halt + reactivation + min combiner reach exact distances") {
    // 5-vertex weighted digraph, source 0; hand-checked distances
    val verts = Seq(
      0L -> SsspV(0, Seq((1L, 2L), (2L, 5L))),
      1L -> SsspV(INF, Seq((2L, 1L), (4L, 10L))),
      2L -> SsspV(INF, Seq((3L, 2L))),
      3L -> SsspV(INF, Seq((4L, 1L))),
      4L -> SsspV(INF, Seq((0L, 1L)))).toDS()

    val res = Pregel.run[SsspV, Long, Unit](spark, verts, maxIter = 30,
      combiner = Some((a, b) => math.min(a, b)))(
      (id, v, msgs, step, _) =>
        if (step == 0) {
          if (id == 0L) ComputeResult(v, voteToHalt = true,
            messages = v.adj.map { case (d, w) => (d, w) })
          else ComputeResult(v, voteToHalt = true)
        } else {
          val m = msgs.min // combiner guarantees one message, min is safe anyway
          if (m < v.dist) ComputeResult(v.copy(dist = m), voteToHalt = true,
            messages = v.adj.map { case (d, w) => (d, m + w) })
          else ComputeResult(v, voteToHalt = true)
        })

    val dists = res.collect().map { case (id, v) => id -> v.dist }.toMap
    assert(dists === Map(0L -> 0L, 1L -> 2L, 2L -> 3L, 3L -> 5L, 4L -> 6L))
  }

  test("dynamic topology: vertices remove themselves into a fresh sum vertex") {
    // DynamicGraph semantics (examples/.../DynamicGraph.java:71-119)
    val verts = Seq(1L -> SumV(1), 2L -> SumV(2), 3L -> SumV(3), 4L -> SumV(4)).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 10)(
      (id, v, msgs, step, _) =>
        if (step == 0 && id != 100L)
          ComputeResult(v, remove = true, messages = Seq((100L, v.value)),
            add = Seq((100L, SumV(0))))
        else if (msgs.nonEmpty)
          ComputeResult(SumV(v.value + msgs.sum), voteToHalt = true)
        else ComputeResult(v, voteToHalt = true))

    val out = res.collect().toMap
    assert(out === Map(100L -> SumV(10)))
  }

  test("competing adds of one id resolve deterministically: lowest adder wins") {
    val verts = Seq(5L -> SumV(5), 9L -> SumV(9), 2L -> SumV(2)).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 2)(
      (id, v, _, step, _) =>
        if (step == 0)
          // every vertex tries to create vertex 100 seeded with its own value
          ComputeResult(v, voteToHalt = true, add = Seq((100L, SumV(v.value))))
        else ComputeResult(v, voteToHalt = true))
    val out = res.collect().toMap
    // adder 2 has the lowest id, so its seed value wins regardless of
    // partitioning or task order
    assert(out(100L) === SumV(2))
  }

  test("global aggregator value is visible next superstep and can halt") {
    // every vertex doubles its value; aggregator = max value, halts at >= 8
    val verts = Seq(1L -> SumV(1), 2L -> SumV(2)).toDS()
    val res = Pregel.run[SumV, Long, Long](spark, verts, maxIter = 100,
      aggregator = Some(GlobalAggregator[SumV, Long](
        observe = ds => ds.map(_._2.value).reduce(math.max),
        haltOn = _ >= 8)))(
      (id, v, _, step, agg) => {
        if (step > 0) assert(agg.isDefined, "aggregated value must be visible")
        ComputeResult(SumV(v.value * 2), messages = Seq((id, 1L)))
      })
    val out = res.collect().toMap
    // halts the superstep after max*2 >= 8: values 1,2 -> 2,4 -> 4,8 (halt)
    assert(out === Map(1L -> SumV(4), 2L -> SumV(8)))
  }

  test("sorted inbox delivery (SortedMemoryQueue behaviour)") {
    // vertex 0 receives 5 messages sent from differently-keyed senders;
    // with inboxOrdering they must arrive ascending
    val verts = (0L to 5L).map(i => (i, SumV(i))).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 3,
      inboxOrdering = Some(Ordering.Long))(
      (id, v, msgs, step, _) =>
        if (step == 0 && id > 0) ComputeResult(v, voteToHalt = true,
          messages = Seq((0L, (7 * id) % 5)))
        else if (msgs.nonEmpty) {
          assert(msgs == msgs.sorted, s"inbox must be sorted, got $msgs")
          ComputeResult(SumV(msgs.sum), voteToHalt = true)
        } else ComputeResult(v, voteToHalt = true))
    assert(res.collect().toMap.apply(0L) === SumV((1L to 5L).map(i => (7 * i) % 5).sum))
  }

  test("messages to unknown vertex ids are dropped") {
    val verts = Seq(1L -> SumV(5)).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 5)(
      (_, v, msgs, step, _) =>
        if (step == 0) ComputeResult(v, messages = Seq((999L, 1L)), voteToHalt = true)
        else ComputeResult(SumV(v.value + msgs.sum), voteToHalt = true))
    assert(res.collect().toMap === Map(1L -> SumV(5)))
  }

  test("persistent inbox: unconsumed messages survive idle supersteps (TestPersistQueue)") {
    // mirrors core/src/test/.../TestPersistQueue.java: the receiver only
    // drains its inbox on some supersteps; carried messages must neither be
    // lost nor allow the job to halt while any inbox is non-empty
    val verts = Seq(0L -> SumV(0), 1L -> SumV(0)).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 10)(
      (id, v, msgs, step, _) =>
        if (id == 1L) {
          // sender: one message at superstep 0, then halted forever
          if (step == 0) ComputeResult(v, voteToHalt = true, messages = Seq((0L, 5L)))
          else ComputeResult(v, voteToHalt = true)
        } else {
          // receiver: refuses to consume before superstep 3 — the message
          // must ride the persistent queue across two idle supersteps
          if (step < 3) ComputeResult(v, voteToHalt = true, unconsumed = msgs)
          else ComputeResult(SumV(v.value + msgs.sum), voteToHalt = true)
        })
    assert(res.collect().toMap === Map(0L -> SumV(5), 1L -> SumV(0)))
  }

  // ring-passing job shared by the checkpoint/resume tests: 4 vertices,
  // each superstep every vertex folds its inbox into its value and sends
  // (value+1) around the ring — never halts, state depends on every
  // superstep, so any fast-forward error changes the result
  private def ringRun(maxIter: Int,
      ckpt: Option[Pregel.Checkpointing] = None,
      resume: Option[Pregel.Snapshot[SumV, Long]] = None): Map[Long, SumV] = {
    val verts = (0L to 3L).map(i => (i, SumV(i))).toDS()
    Pregel.run[SumV, Long, Unit](spark, verts, maxIter = maxIter,
      checkpointing = ckpt, resumeFrom = resume)(
      (id, v, msgs, _, _) => {
        val nv = v.value + msgs.sum
        ComputeResult(SumV(nv), messages = Seq(((id + 1) % 4, nv + 1)))
      }).collect().toMap
  }

  test("durable checkpoint + resume fast-forwards from the last committed superstep") {
    // the reference's superstep recovery (AsyncRcvdMsgCheckpointImpl.java:
    // 69-260 + SuperstepBSP.java:61-77 fast-forward): full run == snapshot
    // restore + remaining supersteps
    val dir = GraftSession.tempDirCleanedOnExit("pregel-ckpt").toString
    val full = ringRun(8, ckpt = Some(Pregel.Checkpointing(dir, every = 3)))

    val snap = Pregel.latestSnapshot[SumV, Long](spark, dir)
    assert(snap.isDefined && snap.get.superstep === 6,
      "cadence 3 over 8 supersteps must commit step=3 and step=6")
    val resumed = ringRun(8, resume = snap)
    assert(resumed === full)

    // durability: blow away every block-store copy (the executor-loss that
    // kills a localCheckpoint-only job) — the snapshot is parquet-backed,
    // so resume must not depend on any cached block
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(ringRun(8, resume = Pregel.latestSnapshot[SumV, Long](spark, dir)) === full)
  }

  test("resume reconstructs the aggregator value from the restored state") {
    val dir = GraftSession.tempDirCleanedOnExit("pregel-ckpt-agg").toString
    def run(resume: Option[Pregel.Snapshot[SumV, Long]]): Map[Long, SumV] =
      Pregel.run[SumV, Long, Long](spark,
        Seq(1L -> SumV(1), 2L -> SumV(2)).toDS(), maxIter = 6,
        aggregator = Some(GlobalAggregator[SumV, Long](
          observe = ds => ds.map(_._2.value).reduce(math.max),
          haltOn = _ >= 32)),
        checkpointing = Some(Pregel.Checkpointing(dir, every = 2)),
        resumeFrom = resume)(
        (id, v, _, step, agg) => {
          if (step > 0) assert(agg.isDefined, "aggregated value must be visible")
          ComputeResult(SumV(v.value * 2), messages = Seq((id, 1L)))
        }).collect().toMap
    val full = run(None)
    val snap = Pregel.latestSnapshot[SumV, Long](spark, dir)
    assert(snap.isDefined && snap.get.superstep === 2)
    assert(run(snap) === full) // halt at the same superstep via recomputed agg
  }

  test("persistent inbox: carried messages merge with newly arriving ones") {
    // sender emits 1 per superstep for 4 supersteps; receiver consumes only
    // on even supersteps, carrying odd-superstep arrivals — total must be
    // exactly the number sent (nothing lost, nothing duplicated)
    val verts = Seq(0L -> SumV(0), 1L -> SumV(0)).toDS()
    val res = Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 10)(
      (id, v, msgs, step, _) =>
        if (id == 1L) {
          // stays active while sending (a halted vertex does not compute)
          if (step < 4) ComputeResult(v, messages = Seq((0L, 1L)))
          else ComputeResult(v, voteToHalt = true)
        } else {
          if (step % 2 == 1) ComputeResult(v, voteToHalt = true, unconsumed = msgs)
          else ComputeResult(SumV(v.value + msgs.sum), voteToHalt = true)
        })
    assert(res.collect().toMap === Map(0L -> SumV(4), 1L -> SumV(0)))
  }

  test("sizedPartitions clamps between 1 and the session shuffle parallelism") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Pregel.sizedPartitions(spark, 0L) === 1)
    assert(Pregel.sizedPartitions(spark, 200L) === 1)
    assert(Pregel.sizedPartitions(spark, 20000L) === 1)
    assert(Pregel.sizedPartitions(spark, 20001L) === 2)
    assert(Pregel.sizedPartitions(spark, Long.MaxValue / 2) === cap)
  }

  test("a data-sized partitioner computes the same result as the default") {
    // 3-vertex accumulate-from-neighbors, run at partitions=1 and default
    val verts = Seq(0L -> SumV(1), 1L -> SumV(2), 2L -> SumV(3)).toDS()
    def go(p: Option[Int]) =
      Pregel.run[SumV, Long, Unit](spark, verts, maxIter = 3,
        combiner = Some(_ + _), partitions = p)((id, v, msgs, step, _) =>
        if (step == 0) ComputeResult(v, messages = Seq(((id + 1) % 3, v.value)))
        else ComputeResult(SumV(v.value + msgs.sum), voteToHalt = true))
        .collect().toMap
    assert(go(Some(1)) === go(None))
  }

  // The reference's core BSP program shape, with peers as vertices keyed
  // by peer index: PiEstimator-style master collection
  // (`examples/src/main/java/org/apache/hama/examples/PiEstimator.java:55-95`
  // — peers compute locally, send to the master peer, master sums in
  // cleanup) + counter parity.
  test("BSP peers message local results to the master peer which sums them") {
    val nPeers = 8
    // peer i's "input split summary": local hit count = (i+1)*10
    val peers = (0L until nPeers.toLong).map(i => (i, PeerState((i + 1) * 10, 0L))).toDS()
    val stats = scala.collection.mutable.ArrayBuffer.empty[Pregel.SuperstepStats]

    val res = Pregel.run[PeerState, Long, Unit](spark, peers, maxIter = 4,
      onSuperstep = stats += _) {
      case (id, s, _, 0, _) => // superstep 0: everyone reports to master peer 0
        ComputeResult(s, voteToHalt = true, messages = Seq((0L, s.localHits)))
      case (id, s, msgs, _, _) if msgs.nonEmpty => // master reactivated by inbox
        ComputeResult(s.copy(total = s.total + msgs.sum), voteToHalt = true)
      case (_, s, _, _, _) => ComputeResult(s, voteToHalt = true)
    }

    val out = res.collect().toMap
    assert(out(0L).total === (1 to nPeers).map(_ * 10).sum)
    assert(out.values.count(_.total > 0) === 1, "only the master accumulated")

    // counter parity: superstep 0 sent one message per peer, then quiesced.
    // Counters are at-least-once (accumulators updated in a transformation;
    // see SuperstepStats), so assert the lower bound, not exact equality —
    // a task retry/speculative attempt may inflate them on a real cluster
    assert(stats.head.messagesSent >= nPeers)
    assert(stats.last.messagesSent === 0) // zero can't be inflated: quiesced
    assert(stats.forall(_.seconds > 0))
  }

  test("BSP unordered delivery: result is order-insensitive (sum combiner optional)") {
    val peers = (0L until 4L).map(i => (i, PeerState(i + 1, 0L))).toDS()
    val combined = Pregel.run[PeerState, Long, Unit](spark, peers, maxIter = 3,
      combiner = Some(_ + _)) {
      case (_, s, _, 0, _) =>
        ComputeResult(s, voteToHalt = true, messages = Seq((0L, s.localHits)))
      case (_, s, msgs, _, _) if msgs.nonEmpty =>
        ComputeResult(s.copy(total = s.total + msgs.sum), voteToHalt = true)
      case (_, s, _, _, _) => ComputeResult(s, voteToHalt = true)
    }
    assert(combined.collect().toMap.apply(0L).total === 10L)
  }
}
