package graft.examples

import graft.GraftSession
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Scale evidence for the STREAMING near-dup ingest store layout
  * (VERDICT r10 #1/#6 acceptance): drive ≥100 micro-batches through
  * [[Streams.runNearDupIngest]] and measure, per batch, how many store
  * files the PRUNED probe opened vs how many the store held — the
  * number the unpruned r10 layout read every batch. Two workloads:
  *
  *   - BATCH probe (the ingest loop itself): pruning factor is
  *     `cells_touched / total_cells`, so `sigBuckets` must be sized
  *     above the per-batch distinct-signature count — the IVF
  *     cell-count discipline. Measured here at numBands × sigBuckets
  *     cells ≫ batch sigs.
  *   - POINT probe (the dedup-service query path — "is this one doc a
  *     dup?"): one doc touches ≤ numBands cells, so the probe opens
  *     O(numBands / total_cells) of the store regardless of its size.
  *
  * Corpus: unique md5-derived bodies with every `dupEvery`-th doc
  * repeating an earlier body (a crawl's real shape — a few percent
  * dups, not all-dup) — so match volume is controlled and nonzero.
  * Tiered compaction (`compactEvery`, maxFolds) bounds the live
  * commits of the store's snapshot; its final live files are reported.
  *
  * Run: NEARDUP_BATCHES=100 sbt "runMain graft.examples.NearDupIngestScale"
  */
object NearDupIngestScale {
  def main(args: Array[String]): Unit = {
    val nBatches = sys.env.getOrElse("NEARDUP_BATCHES", "100").toInt
    val docsPerBatch = sys.env.getOrElse("NEARDUP_DOCS_PER_BATCH", "200").toLong
    val compactEvery = sys.env.getOrElse("NEARDUP_COMPACT_EVERY", "10").toInt
    val sigBuckets = sys.env.getOrElse("NEARDUP_SIG_BUCKETS", "2048").toInt
    val dupEvery = sys.env.getOrElse("NEARDUP_DUP_EVERY", "20").toLong
    val spark = GraftSession.get()

    // one parquet FILE per micro-batch, mtimes ascending so the file
    // source replays them in arrival order (maxFilesPerTrigger=1);
    // every dupEvery-th doc from batch 3 on reuses a body from the
    // FIRST THREE batches (doc_id mod 3·docsPerBatch) — guaranteed
    // CROSS-batch dups, which is what the probe must find (same-batch
    // dups are excluded by the incremental contract)
    val stage = GraftSession.tempDirCleanedOnExit("ndscale-in").toString
    val scratch = GraftSession.tempDirCleanedOnExit("ndscale-raw").toString
    val dupSpan = 3 * docsPerBatch
    val body = "array_join(transform(sequence(1, 30), " +
      "i -> concat('w', substring(md5(concat(base_id, '-', i)), 1, 6))), ' ')"
    for (b <- 0 until nBatches) {
      val docs = spark.range(b * docsPerBatch, (b + 1) * docsPerBatch)
        .select(col("id").as("doc_id"))
        .withColumn("base_id",
          when(col("doc_id") % dupEvery === 0 && col("doc_id") >= dupSpan,
            col("doc_id") % dupSpan).otherwise(col("doc_id")))
        .select(col("doc_id"), expr(body).as("text"), lit("en").as("lang"),
          lit(s"b$b").as("source"))
        .withColumn("n_chars", length(col("text")))
      docs.coalesce(1).write.parquet(s"$scratch/b$b")
      val f = new java.io.File(s"$scratch/b$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$stage/part$b%04d.parquet"))
      new java.io.File(f"$stage/part$b%04d.parquet")
        .setLastModified(1000000L * (b + 1)): Unit
    }

    val store = GraftSession.tempDirCleanedOnExit("ndscale-store").toString + "/sigs"
    val out = GraftSession.tempDirCleanedOnExit("ndscale-out").toString + "/res"
    val t0 = System.nanoTime()
    val stats = Streams.runNearDupIngest(spark, stage, store, out,
      sigBuckets = sigBuckets, compactEvery = compactEvery)
    val secs = (System.nanoTime() - t0) / 1e9

    val probed = stats.filter(_.storeFiles > 0)
    val meanProbe = probed.map(_.probeFiles).sum.toDouble / probed.size
    val meanStore = probed.map(_.storeFiles).sum.toDouble / probed.size
    val lastQ = probed.takeRight(10) // steady state, post several folds
    val steadyRatio = lastQ.map(s => s.probeFiles.toDouble / s.storeFiles).sum / lastQ.size
    val finalFiles = graft.streaming.TxLog.snapshot(store).files.size
    // live commits stay fold-bounded: at most compactEvery singles plus
    // the default maxFolds (8) folds and the one fold a full merge leaves
    val liveCommits = Streams.storeCommits(store).size
    require(compactEvery == 0 || liveCommits <= compactEvery + 8 + 1,
      s"tiered folds must bound the store's live commits: $liveCommits")
    val verdicts = Streams.readMergeTable(spark, out).count()
    val dups = Streams.readMergeTable(spark, out).filter(col("is_dup")).count()
    // the injection is deterministic: every dupEvery-th doc from the
    // dupSpan boundary on reuses an earlier batch's body, so the probe's
    // RECALL at scale is checkable exactly — any shortfall means the
    // pruned probe lost candidates
    val expectedDups = (dupSpan until nBatches * docsPerBatch)
      .count(_ % dupEvery == 0)
    require(dups == expectedDups,
      s"pruned probe must find every injected cross-batch dup: $dups of $expectedDups")
    println(f"""{"metric":"neardup_ingest_scale","batches":${stats.size},""" +
      f""""docs_per_batch":$docsPerBatch,"sig_buckets":$sigBuckets,""" +
      f""""compact_every":$compactEvery,"dup_every":$dupEvery,""" +
      f""""mean_probe_files":$meanProbe%.1f,"mean_store_files":$meanStore%.1f,""" +
      f""""steady_probe_to_store":$steadyRatio%.3f,""" +
      f""""final_store_files":$finalFiles,"live_commits":$liveCommits,""" +
      f""""verdict_rows":$verdicts,"dup_rows":$dups,"secs":$secs%.1f}""")

    // POINT-probe workload: 20 single-doc membership probes against the
    // finished store — the dedup-service path. Each opens <= numBands
    // cells' files; report the mean fraction of the store it read.
    val docsAll = spark.read.parquet(s"$stage")
    val pt0 = System.nanoTime()
    val ratios = (1 to 20).map { i =>
      val one = docsAll.filter(col("doc_id") === i * 97L)
      val sigs = Streams.nearDupSigs(one, sigBuckets)
      val (m, probedF, storeF, _) = Streams.probeNearDupStore(spark, store, sigs)
      m.count(): Unit // execute the pruned join
      probedF.toDouble / storeF
    }
    val ptSecs = (System.nanoTime() - pt0) / 1e9
    println(f"""{"metric":"neardup_point_probe","probes":20,""" +
      f""""mean_probe_fraction":${ratios.sum / ratios.size}%.4f,""" +
      f""""store_files":$finalFiles,"secs":$ptSecs%.1f}""")
    spark.stop()
  }
}
