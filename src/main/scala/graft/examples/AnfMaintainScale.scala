package graft.examples

import graft.GraftSession
import graft.streaming.{Streams, TxLog}
import org.apache.spark.sql.functions._

/** Scale evidence for the DELTA-FRONTIER streaming ANF maintainer
  * (VERDICT r11 #1 acceptance): drive ≥20 micro-batches of new edges
  * through [[Streams.runAnfMaintain]] over a growing random graph and
  * measure, per delta round, the edge-join output against the two
  * ceilings —
  *
  *   - the FRONTIER bound (what the active-set contract promises):
  *     joined rows ≤ frontier rows × max in-degree, REQUIRED per round;
  *   - the FULL-JOIN cost (what the r11 implementation paid):
  *     E × K joined rows per round — reported as a ratio, expected ≪ 1
  *     in steady state.
  *
  * The maintained registers are then checked BIT-IDENTICAL against a
  * cold [[graft.operators.Graph.anfSketch]] on the full accumulated
  * edge set — the monotone-fixpoint guarantee, certified at probe scale.
  *
  * Corpus: a deterministic md5-derived random graph (V vertices,
  * `baseEdges` in batch 0, then `deltaEdges` per batch) — the crawl
  * shape where a converged summary absorbs small daily increments.
  *
  * Run: ANF_BATCHES=24 sbt "runMain graft.examples.AnfMaintainScale"
  */
object AnfMaintainScale {
  def main(args: Array[String]): Unit = {
    val nBatches = sys.env.getOrElse("ANF_BATCHES", "24").toInt
    val nV = sys.env.getOrElse("ANF_V", "5000").toLong
    val baseEdges = sys.env.getOrElse("ANF_BASE_EDGES", "20000").toLong
    val deltaEdges = sys.env.getOrElse("ANF_DELTA_EDGES", "100").toLong
    val spark = GraftSession.get()
    val k = 8L // anfK — register count per vertex

    // one parquet FILE per micro-batch, mtimes ascending so the file
    // source replays them in arrival order; endpoints are md5 draws
    // keyed by a global edge index, so the graph is deterministic —
    // distinct INDICES, not distinct edges: (src,dst) pairs can
    // collide across batches, which is exactly the duplicate-tolerant
    // contract the append-only store claims (bit_or no-ops)
    val stage = GraftSession.tempDirCleanedOnExit("anfscale-in").toString
    val scratch = GraftSession.tempDirCleanedOnExit("anfscale-raw").toString
    def endpoints(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(
        expr(s"CAST(conv(substring(md5(concat('s', id)), 1, 12), 16, 10) AS BIGINT) % $nV")
          .as("src"),
        expr(s"CAST(conv(substring(md5(concat('d', id)), 1, 12), 16, 10) AS BIGINT) % $nV")
          .as("dst"))
    for (b <- 0 until nBatches) {
      val lo = if (b == 0) 0L else baseEdges + (b - 1) * deltaEdges
      val hi = if (b == 0) baseEdges else lo + deltaEdges
      endpoints(lo, hi).coalesce(1).write.parquet(s"$scratch/b$b")
      val f = new java.io.File(s"$scratch/b$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$stage/part$b%04d.parquet"))
      new java.io.File(f"$stage/part$b%04d.parquet")
        .setLastModified(1000000L * (b + 1)): Unit
    }

    val t0 = System.nanoTime()
    val (masks, rounds, roundStats, batchStoreFiles) =
      Streams.runAnfMaintain(spark, stage)
    val secs = (System.nanoTime() - t0) / 1e9

    val allEdges = spark.read.parquet(stage)
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val eCount = allEdges.count()
    // the frontier ceiling must be the RAW store's in-degree: the
    // maintainer's edge store is append-only and never re-distincted,
    // so a frontier register pulls across every stored copy of an edge
    // (md5-drawn endpoints CAN collide across batches — ~10 expected
    // duplicate pairs at these sizes, ADVICE r12), and a distinct()-ed
    // in-degree would make the per-round require flake
    val maxInDeg = spark.read.parquet(stage).groupBy("dst").count()
      .agg(max("count")).head.getLong(0)

    // REQUIRED: every delta round's join output within the frontier's
    // pull — the active-set contract, not a full-relation round
    val deltaBatches = roundStats.drop(1).filter(_.nonEmpty)
    require(deltaBatches.size >= nBatches - 1,
      s"expected ${nBatches - 1} delta batches with round stats")
    deltaBatches.zipWithIndex.foreach { case (st, b) =>
      st.foreach { r =>
        require(r.joinedRows <= r.frontierRows * maxInDeg,
          s"batch ${b + 1}: joined ${r.joinedRows} rows from a " +
            s"${r.frontierRows}-row frontier (max in-degree $maxInDeg)")
      }
    }
    // steady state: per-batch joined work vs the E·K a full-join round
    // would have paid (× rounds run) — the r11 cost this probe retires
    val steady = deltaBatches.takeRight(10)
    val steadyJoined = steady.map(_.map(_.joinedRows).sum)
    val steadyRounds = steady.map(_.size)
    val fullCost = steady.map(_.size.toLong * eCount * k)
    val ratio = steadyJoined.sum.toDouble / fullCost.sum
    val maxFrontier = steady.flatMap(_.map(_.frontierRows)).max

    // bit-identical to the cold fixpoint on everything seen
    val (coldMasks, coldRounds, _, curve) =
      graft.operators.Graph.anfSketch(allEdges)
    val drift = masks.as("w").join(coldMasks.as("c"),
        col("w.v") === col("c.v") && col("w.k") === col("c.k"), "full")
      .filter(col("w.mask").isNull || col("c.mask").isNull ||
        col("w.mask") =!= col("c.mask")).count()
    require(drift == 0L,
      s"maintained registers must equal the cold fixpoint bit for bit, $drift differ")

    println(f"""{"metric":"anf_maintain_scale","batches":$nBatches,""" +
      f""""v":$nV,"edges":$eCount,"k":$k,"max_in_degree":$maxInDeg,""" +
      f""""cold_rounds":$coldRounds,""" +
      f""""mean_delta_rounds":${steadyRounds.sum.toDouble / steadyRounds.size}%.1f,""" +
      f""""steady_joined_per_batch":${steadyJoined.sum / steady.size},""" +
      f""""steady_joined_to_fulljoin":$ratio%.5f,""" +
      f""""max_steady_frontier_rows":$maxFrontier,""" +
      f""""register_rows":${masks.count()},"drift":$drift,"secs":$secs%.1f}""")
    graft.plans.Iterate.release(curve)

    // POINT-delta workload (the near-dup point-probe symmetry): the
    // same base graph followed by 5 SINGLE-EDGE batches — the "one
    // update arrives" maintenance path. Here the register-store
    // partition pruning is visible: a one-edge frontier touches a few
    // v-buckets, so each round's state read opens a FRACTION of the
    // store's partitions (reported; the batch workload above touches
    // most buckets, which is correct for its frontier sizes).
    val pstage = GraftSession.tempDirCleanedOnExit("anfscale-pt-in").toString
    endpoints(0L, baseEdges).coalesce(1).write.parquet(s"$scratch/pb0")
    val pf0 = new java.io.File(s"$scratch/pb0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf0.toPath,
      java.nio.file.Paths.get(f"$pstage/part0000.parquet"))
    new java.io.File(f"$pstage/part0000.parquet").setLastModified(1000000L): Unit
    for (b <- 1 to 5) {
      endpoints(baseEdges + nBatches * deltaEdges + b,
        baseEdges + nBatches * deltaEdges + b + 1)
        .coalesce(1).write.parquet(s"$scratch/pb$b")
      val f = new java.io.File(s"$scratch/pb$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$pstage/part$b%04d.parquet"))
      new java.io.File(f"$pstage/part$b%04d.parquet")
        .setLastModified(1000000L * (b + 1)): Unit
    }
    // BUCKET-WIDTH AXIS (VERDICT r12 #5): the register-bucket count is
    // a store-creation knob, not a constant — run the identical point
    // workload at the default width and at 16× it. The frontier touches
    // the same near-constant number of buckets either way, so the
    // FRACTION of the store a point delta opens should shrink ~16× —
    // the evidence that at production V the layout knob, not the code,
    // sets the probe cost.
    for (rBk <- Seq(graft.operators.Graph.anfRegBuckets, 256)) {
      val (pmasks, _, pstats, _) =
        Streams.runAnfMaintain(spark, pstage, regBuckets = rBk)
      val ptRounds = pstats.drop(1).flatten
      val meanBk = ptRounds.map(_.stateBuckets).sum.toDouble / ptRounds.size
      require(ptRounds.forall(r => r.stateBuckets >= 0 && r.stateBuckets <= rBk))
      println(f"""{"metric":"anf_point_delta","point_batches":5,""" +
        f""""mean_state_buckets":$meanBk%.1f,"total_buckets":$rBk,""" +
        f""""mean_state_fraction":${meanBk / rBk}%.4f,""" +
        f""""register_rows":${pmasks.count()}}""")
    }

    // FOLD-BOUND segment (VERDICT r12 missing #2 acceptance): ≥50
    // micro-batches against ONE store with tiered folds on — the edge
    // store's live snapshot files, counted after every batch, must stay
    // bounded by the fold geometry (live commits ≤ compactEvery singles
    // + maxFolds folds + 1, each ≤ dstBuckets files, one per bucket),
    // while an unfolded store would grow one commit per batch forever.
    // The maintained registers must still land bit-identical to the cold
    // fixpoint — folding is storage maintenance, never semantics.
    val fBatches = sys.env.getOrElse("ANF_FOLD_BATCHES", "56").toInt
    val fEvery = 8
    val fMax = 4
    val fstage = GraftSession.tempDirCleanedOnExit("anfscale-fold-in").toString
    for (b <- 0 until fBatches) {
      val off = 2 * (baseEdges + nBatches * deltaEdges) // disjoint index range
      val lo = if (b == 0) off else off + baseEdges + (b - 1) * deltaEdges
      val hi = if (b == 0) off + baseEdges else lo + deltaEdges
      endpoints(lo, hi).coalesce(1).write.parquet(s"$scratch/fb$b")
      val f = new java.io.File(s"$scratch/fb$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$fstage/part$b%04d.parquet"))
      new java.io.File(f"$fstage/part$b%04d.parquet")
        .setLastModified(1000000L * (b + 1)): Unit
    }
    val fstore = GraftSession.tempDirCleanedOnExit("anfscale-fold-store").toString
    val (fmasks, _, _, fFiles) = Streams.runAnfMaintain(spark, fstage,
      storeDir0 = Some(fstore), compactEvery = fEvery, maxFolds = fMax)
    require(fFiles.size == fBatches)
    val nDb = graft.operators.Graph.anfDstBuckets
    val fBound = (fEvery + fMax + 1).toLong * nDb
    require(fFiles.max <= fBound,
      s"edge-store files must stay fold-bounded: max ${fFiles.max} > $fBound")
    val (fcold, _, _, fcurve) = graft.operators.Graph.anfSketch(
      Streams.readMergeTable(spark, fstore).select("src", "dst"))
    val fdrift = fmasks.as("w").join(fcold.as("c"),
        col("w.v") === col("c.v") && col("w.k") === col("c.k"), "full")
      .filter(col("w.mask").isNull || col("c.mask").isNull ||
        col("w.mask") =!= col("c.mask")).count()
    require(fdrift == 0L,
      s"folded-store registers must equal the cold fixpoint, $fdrift differ")
    println(f"""{"metric":"anf_fold_bound","batches":$fBatches,""" +
      f""""compact_every":$fEvery,"max_folds":$fMax,""" +
      f""""max_store_files":${fFiles.max},"final_store_files":${fFiles.last},""" +
      f""""bound":$fBound,"unfolded_files_would_be":${fBatches.toLong * nDb},""" +
      f""""drift":$fdrift}""")
    graft.plans.Iterate.release(fcurve)

    // LOG-RETENTION segment: ≥100 micro-batches against ONE pair of
    // stores — each store's log must stay O(checkpoint cadence): every
    // 10 commits a checkpoint carries the live files and batch records,
    // and the entries and older checkpoints below it expire, so replay
    // reads at most 10 entries however long the stream ran. A FULL
    // REPLAY of all batches must then skip every one from the
    // checkpointed records, with zero recompute rounds and zero drift.
    val cBatches = sys.env.getOrElse("ANF_RETAIN_BATCHES", "104").toInt
    val cstage = GraftSession.tempDirCleanedOnExit("anfscale-retain-in").toString
    val cOff = 4 * (baseEdges + nBatches * deltaEdges)
    for (b <- 0 until cBatches) {
      val lo = if (b == 0) cOff else cOff + 500 + (b - 1)
      val hi = if (b == 0) cOff + 500 else lo + 1
      endpoints(lo, hi).coalesce(1).write.parquet(s"$scratch/cb$b")
      val f = new java.io.File(s"$scratch/cb$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$cstage/part$b%04d.parquet"))
      new java.io.File(f"$cstage/part$b%04d.parquet")
        .setLastModified(1000000L * (b + 1)): Unit
    }
    val cstore = GraftSession.tempDirCleanedOnExit("anfscale-retain-store").toString
    val creg = GraftSession.tempDirCleanedOnExit("anfscale-retain-reg").toString
    val (cm1, cr1, _, _) = Streams.runAnfMaintain(spark, cstage,
      storeDir0 = Some(cstore), regDir0 = Some(creg))
    require(cr1.size == cBatches && cr1.head > 0)
    graft.plans.Iterate.release(cm1)
    val logs = Seq(cstore, creg).map(d =>
      (TxLog.versions(d).size, TxLog.checkpointVersions(d).size))
    logs.foreach { case (entries, checkpoints) =>
      require(entries <= 10 && checkpoints <= 1,
        s"store logs must stay O(checkpoint cadence): $entries entries, " +
          s"$checkpoints checkpoints after $cBatches batches")
    }
    val (cm2, cr2, _, _) = Streams.runAnfMaintain(spark, cstage,
      storeDir0 = Some(cstore), regDir0 = Some(creg))
    require(cr2.size == cBatches && cr2.forall(_ == 0),
      "a full replay must skip every batch from the checkpointed records")
    val (ccold, _, _, ccurve) = graft.operators.Graph.anfSketch(
      spark.read.parquet(cstage).select("src", "dst"))
    val cdrift = cm2.as("w").join(ccold.as("c"),
        col("w.v") === col("c.v") && col("w.k") === col("c.k"), "full")
      .filter(col("w.mask").isNull || col("c.mask").isNull ||
        col("w.mask") =!= col("c.mask")).count()
    require(cdrift == 0L,
      s"a checkpoint-skipped replay must hold the fixpoint, $cdrift differ")
    println(f"""{"metric":"anf_log_retention","batches":$cBatches,""" +
      f""""edge_log":"${logs(0)._1} entries/${logs(0)._2} checkpoints",""" +
      f""""register_log":"${logs(1)._1} entries/${logs(1)._2} checkpoints",""" +
      f""""replay_rounds":${cr2.sum},"drift":$cdrift}""")
    graft.plans.Iterate.release(ccurve)
    spark.stop()
  }
}
