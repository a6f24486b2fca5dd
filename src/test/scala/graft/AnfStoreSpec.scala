package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle contract of the streaming ANF maintainer's two stores, the
  * edge append log and the versioned register buckets, each a TxLog
  * table: a REPLAYED committed batch is skipped whole (at-least-once
  * delivery never doubles the stores), a batch crashed before its
  * register commit reproduces on replay (its staged files are
  * invisible orphans, so the previous committed view is never
  * damaged), replay-skip survives the stores' checkpoints and entry
  * expiry, bucket widths are pinned at store creation and a mismatched
  * reopen fails loudly, and duplicate edge rows are absorbed by the
  * bit_or merge — storage maintenance never moves the fixpoint. */
class AnfStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Stage one parquet FILE per micro-batch, mtimes ascending. */
  private def stage(tag: String, batches: Seq[Seq[(Long, Long)]]): String = {
    val raw = GraftSession.tempDirCleanedOnExit(s"spec-anfstore-raw-$tag").toString
    val dir = GraftSession.tempDirCleanedOnExit(s"spec-anfstore-in-$tag").toString
    for ((b, i) <- batches.zipWithIndex) {
      b.toDF("src", "dst").coalesce(1).write.parquet(s"$raw/b$i")
      val f = new java.io.File(s"$raw/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(f"$dir/part$i%02d.parquet"))
      new java.io.File(f"$dir/part$i%02d.parquet")
        .setLastModified(1000000L * (i + 1)): Unit
    }
    dir
  }

  private def drift(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Long =
    a.as("w").join(b.as("c"),
        col("w.v") === col("c.v") && col("w.k") === col("c.k"), "full")
      .filter(col("w.mask").isNull || col("c.mask").isNull ||
        col("w.mask") =!= col("c.mask")).count()

  private val batches = Seq(
    (0L to 5L).map(i => (i, i + 1)),
    Seq((6L, 0L), (2L, 8L)),
    Seq((8L, 9L), (9L, 3L)))
  /** Cold fixpoint over `bs`, curve pin released. */
  private def cold(bs: Seq[Seq[(Long, Long)]]): org.apache.spark.sql.DataFrame = {
    val (m, _, _, curve) = graft.operators.Graph.anfSketch(
      bs.flatten.toDF("src", "dst"))
    plans.Iterate.release(curve)
    m
  }

  test("a replayed committed batch is skipped: stores never double, registers hold") {
    val in = stage("replay", batches)
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e1").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r1").toString
    val (m1, r1, _, f1) = streaming.Streams.runAnfMaintain(spark, in,
      storeDir0 = Some(store), regDir0 = Some(reg))
    assert(r1.size === 3 && r1.head > 0)
    val want = cold(batches)
    assert(drift(m1, want) === 0L)
    // a bucket filter on the register view opens only that bucket's
    // live files — the pruning the delta rounds' state reads rely on
    val regFiles = streaming.TxLog.snapshot(reg).files
    val bucketDir = regFiles.head.takeWhile(_ != '/')
    val oneBucket = streaming.Streams.anfRegView(spark, reg)
      .filter(col("vb") === bucketDir.stripPrefix("vb=").toInt)
    oneBucket.collect(): Unit
    val opened = oneBucket.queryExecution.executedPlan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
        scan.metrics("numFiles").value
    }.sum
    assert(opened === regFiles.count(_.startsWith(s"$bucketDir/")) &&
      opened < regFiles.size, s"opened $opened of ${regFiles.size} register files")
    // second pass over the SAME stage and stores: every batch redelivers,
    // every batch record exists, so all three skip — zero recompute rounds,
    // identical live store files, identical registers
    val (m2, r2, _, f2) = streaming.Streams.runAnfMaintain(spark, in,
      storeDir0 = Some(store), regDir0 = Some(reg))
    assert(r2 === Seq(0, 0, 0), "committed batches must be skipped on replay")
    assert(f2.last === f1.last, "a replay must not grow the edge store")
    assert(drift(m2, want) === 0L)
    Seq(m1, m2, want).foreach(plans.Iterate.release)
  }

  /** Move the one part file `df` writes into `table` as `name` — a
    * data file no log entry references. */
  private def forgeFile(df: org.apache.spark.sql.DataFrame, table: String,
      name: String): Unit = {
    val raw = GraftSession.tempDirCleanedOnExit("spec-anfstore-forge").toString + "/p"
    df.coalesce(1).write.parquet(raw)
    val part = new java.io.File(raw).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(table, name)
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(part.toPath, target): Unit
  }

  test("crash inside the commit window: the uncommitted batch reproduces on replay") {
    // commit batches 0 and 1 for real, then FORGE batch 2's crash window:
    // a staged edge file and a staged register file, named like the
    // files its commits would add, with no log entry referencing them
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e2").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r2").toString
    val (m1, _, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("crash2", batches.take(2)),
      storeDir0 = Some(store), regDir0 = Some(reg))
    plans.Iterate.release(m1)
    val nDb = graft.operators.Graph.anfDstBuckets
    val nVb = graft.operators.Graph.anfRegBuckets
    val edge = Seq((8L, 9L)).toDF("src", "dst") // half of the batch's edges made it
      .withColumn("db", pmod(hash(col("dst")), lit(nDb)))
    val eNext = streaming.TxLog.snapshot(store).version + 1
    forgeFile(edge, store, s"db=${edge.head.getInt(2)}/v$eNext-i-forged.parquet")
    val sentinel = Seq((424242L, 0, 7L)).toDF("v", "k", "mask") // sentinel half-commit
      .withColumn("vb", pmod(hash(col("v")), lit(nVb)))
    val rNext = streaming.TxLog.snapshot(reg).version + 1
    forgeFile(sentinel, reg, s"vb=${sentinel.head.getInt(3)}/v$rNext-i-forged.parquet")
    val visible = streaming.Streams.anfRegView(spark, reg)
    assert(visible.filter(col("v") === 424242L).count() === 0L,
      "a register file no commit references must be invisible to readers")
    // full replay: 0 and 1 skip on their records, 2 recomputes and
    // commits its own files; the forged ones stay orphans
    val (m2, r2, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("crash3", batches),
      storeDir0 = Some(store), regDir0 = Some(reg))
    assert(r2.take(2) === Seq(0, 0) && r2(2) > 0,
      s"exactly the uncommitted batch must recompute, got $r2")
    val want = cold(batches)
    assert(drift(m2, want) === 0L,
      "the replayed window must land on the same fixpoint")
    assert(streaming.Streams.anfRegView(spark, reg)
      .filter(col("v") === 424242L).count() === 0L,
      "the forged half-commit must stay invisible, not merged")
    Seq(m2, want).foreach(plans.Iterate.release)
  }

  test("bucket widths are pinned at creation: a mismatched reopen fails loudly") {
    val in = stage("pin", batches.take(1))
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e3").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r3").toString
    val (m1, _, _, _) = streaming.Streams.runAnfMaintain(spark, in,
      storeDir0 = Some(store), regDir0 = Some(reg))
    plans.Iterate.release(m1)
    val e = intercept[IllegalArgumentException] {
      streaming.Streams.runAnfMaintain(spark, in,
        storeDir0 = Some(store), regDir0 = Some(reg), regBuckets = 256)
    }
    assert(e.getMessage.contains("layout"))
  }

  test("tiered folds fire on EVERY fold boundary, empty batches included") {
    // 6 batches, compactEvery=3: boundaries at batches 2 and 5 — batch 5
    // is EMPTY with TWO singles pending (3 and 4), which used to skip
    // the fold entirely (review r13 #2: the check lived inside the
    // non-empty branch); the store must still compact and the registers
    // must still land on the cold fixpoint
    val bs = Seq(
      (0L to 4L).map(i => (i, i + 1)),
      Seq((5L, 0L)),
      Seq((2L, 6L)),
      Seq((6L, 7L)),
      Seq((7L, 2L)),
      Seq.empty[(Long, Long)]) // the empty fold-boundary batch
    val in = stage("foldfire", bs)
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e5").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r5").toString
    val (m, _, _, files) = streaming.Streams.runAnfMaintain(spark, in,
      storeDir0 = Some(store), regDir0 = Some(reg), compactEvery = 3)
    // after the empty boundary batch, singles 3 and 4 must have folded:
    // every live commit of the edge store is a fold
    val live = streaming.Streams.storeCommits(store)
    assert(files.size === 6)
    assert(live.nonEmpty && live.forall(_._2),
      s"singles must fold at an empty boundary too, saw (version, is fold) $live")
    val want = cold(bs)
    assert(drift(m, want) === 0L)
    Seq(m, want).foreach(plans.Iterate.release)
  }

  test("resume across a fold boundary: store-derived fold ids never overwrite a prior fold") {
    // run 1 folds b0+b1 into the store's first fold; run 2 (folding
    // off) leaves b2 and b3 as LIVE SINGLES; run 3 replays everything
    // with folding back on and hits fold boundary 1 with those leftover
    // singles. Fold files carry their commit's version, which the
    // store's log hands out, so under any resume history the second
    // fold can never land on (and drop) the first.
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e6").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r6").toString
    val bs4 = batches :+ Seq((1L, 7L))
    val (m1, _, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("fres1", batches.take(2)),
      storeDir0 = Some(store), regDir0 = Some(reg), compactEvery = 2)
    plans.Iterate.release(m1)
    val (m2, _, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("fres2", bs4),
      storeDir0 = Some(store), regDir0 = Some(reg), compactEvery = 0)
    plans.Iterate.release(m2)
    val (m3, r3, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("fres3", bs4),
      storeDir0 = Some(store), regDir0 = Some(reg), compactEvery = 2)
    plans.Iterate.release(m3)
    assert(r3 === Seq(0, 0, 0, 0), "a full replay must skip every batch")
    // the store still holds EVERY staged edge — the discriminator: a
    // reused fold id would have dropped b0+b1 here
    val stored = streaming.Streams.readMergeTable(spark, store)
      .select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === bs4.flatten.toSet,
      "a resumed fold must never overwrite a prior run's fold")
    // and a later delta batch over the (intact) store lands on the cold
    // fixpoint — the downstream symptom the dropped edges would cause
    val bs5 = bs4 :+ Seq((4L, 8L))
    val (m4, _, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("fres4", bs5),
      storeDir0 = Some(store), regDir0 = Some(reg), compactEvery = 2)
    val want = cold(bs5)
    assert(drift(m4, want) === 0L)
    Seq(m4, want).foreach(plans.Iterate.release)
  }

  test("replay-skip stays exact across the stores' checkpoints and entry expiry") {
    // 12 non-empty batches: both stores pass their 10th commit, so each
    // log checkpoints and expires the entries below it — a full replay
    // must still skip every batch from the checkpointed records, with
    // the committed registers intact
    val bs12 = (0L until 12L).map(i => Seq((i, i + 1), (i + 1, 2 * i + 3)))
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e7").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r7").toString
    val (m1, r1, _, _) = streaming.Streams.runAnfMaintain(spark,
      stage("retain1", bs12), storeDir0 = Some(store), regDir0 = Some(reg))
    assert(r1.size === 12 && r1.head > 0)
    plans.Iterate.release(m1)
    Seq(store, reg).foreach { t =>
      val cps = streaming.TxLog.checkpointVersions(t)
      assert(cps.size === 1, s"$t must hold one checkpoint, saw $cps")
      assert(streaming.TxLog.versions(t).forall(_ > cps.head),
        s"$t must have expired the entries at or below its checkpoint")
    }
    val (m2, r2, _, f2) = streaming.Streams.runAnfMaintain(spark,
      stage("retain2", bs12), storeDir0 = Some(store), regDir0 = Some(reg))
    assert(r2 === Seq.fill(12)(0),
      "checkpointed batches must replay-skip exactly like entry-backed ones")
    assert(f2.nonEmpty)
    val want = cold(bs12)
    assert(drift(m2, want) === 0L,
      "the committed view must stay readable across the checkpoint")
    Seq(m2, want).foreach(plans.Iterate.release)
  }

  test("a crashed edge fold's duplicates are absorbed: the fixpoint never moves") {
    val in = stage("foldcrash", batches)
    val store = GraftSession.tempDirCleanedOnExit("spec-anfstore-e4").toString
    val reg = GraftSession.tempDirCleanedOnExit("spec-anfstore-r4").toString
    val (m1, _, _, _) = streaming.Streams.runAnfMaintain(spark, in,
      storeDir0 = Some(store), regDir0 = Some(reg))
    plans.Iterate.release(m1)
    // a fold is one commit, so a crashed one leaves its staged files as
    // orphans; fake both that window (a copy of a live edge file no
    // entry references) and committed duplicate rows (a second copy the
    // log adds), then deliver one more batch through the store
    val snap = streaming.TxLog.snapshot(store)
    val src = java.nio.file.Paths.get(store, snap.files.head)
    val cell = snap.files.head.takeWhile(_ != '/')
    val v = snap.version + 1
    Seq("f-orphan", "f-dup").foreach { tag =>
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(store, s"$cell/v$v-$tag.parquet")): Unit
    }
    assert(streaming.TxLog.commit(store, Seq(s"$cell/v$v-f-dup.parquet"), Seq.empty,
      snap.version, snap.schema.get) === Some(v))
    val extra = Seq(Seq((3L, 6L), (9L, 0L)))
    val in2 = stage("foldcrash2", batches ++ extra)
    val (m2, _, _, _) = streaming.Streams.runAnfMaintain(spark, in2,
      storeDir0 = Some(store), regDir0 = Some(reg))
    val want = cold(batches ++ extra)
    assert(drift(m2, want) === 0L,
      "duplicate store rows must be bit_or no-ops, orphans invisible")
    Seq(m2, want).foreach(plans.Iterate.release)
  }
}
