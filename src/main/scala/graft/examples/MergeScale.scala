package graft.examples

import graft.{GraftSession, Tables}
import graft.streaming.{MergeTable, Streams, TxLog}
import org.apache.spark.sql.functions._

/** Scale-posture check for the bucket-pruned MERGE INTO: a serving
  * table of per-orderkey totals (sf0.1 lineitem ≈ 150k keys) absorbs a
  * correction batch touching ~1% of keys, two ways —
  *
  *   - `pruned`: MergeTable.mergeInto, which rewrites ONLY the buckets
  *     holding changed keys;
  *   - `full`: the K=1 degenerate case (everything in one bucket), i.e.
  *     the full-state rewrite the streaming upsert sink does.
  *
  * Both must converge to the same state; the probe prints both times,
  * the rewritten-fraction, and the speedup. At 100 TB the pruned
  * fraction ~ touched-key fraction is the whole point.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.examples.MergeScale [buckets]"
  */
object MergeScale {
  def main(args: Array[String]): Unit = {
    val buckets = args.lift(0).map(_.toInt).getOrElse(25) // 100m % 25 == 0: all updates land in ONE bucket
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()

    val base = Tables(spark, sfDir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"), sum("l_extendedprice").as("total"))
      .localCheckpoint()
    val nKeys = base.count()
    val baseItems = base.agg(sum("n_items")).head.getLong(0)
    val updates = base.filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), (col("n_items") + 1).as("n_items"),
        (col("total") + 1.0).as("total"))
      .localCheckpoint()
    val nUpd = updates.count()

    def rowsInBuckets(k: Int, touched: Seq[Int]): Long =
      base.filter(pmod(col("l_orderkey"), lit(k)).cast("int").isin(touched: _*)).count()

    def run(k: Int, tag: String): (Double, Int) = {
      val table = GraftSession.tempDirCleanedOnExit(s"merge-scale-$tag").toString
      MergeTable.load(spark, table, base, "l_orderkey", k)
      val t0 = System.nanoTime()
      val (_, touched) = MergeTable.mergeInto(spark, table, updates, "l_orderkey", k)
      val dt = (System.nanoTime() - t0) / 1e9
      val got = Streams.readMergeTable(spark, table)
        .agg(sum("n_items")).head.getLong(0)
      require(got == baseItems + nUpd, s"$tag merged state wrong: $got")
      (dt, touched.length)
    }

    run(4, "warmup") // compile the merge plan shapes before timing
    val (fullSec, _) = run(1, "full")
    val (prunedSec, touchedBuckets) = run(buckets, "pruned")
    // IO evidence: rows living in the rewritten buckets, pruned vs full —
    // the ratio that grows with table size while the per-job floor doesn't
    val prunedRows = rowsInBuckets(buckets, Seq(0))
    println(f"""{"metric":"merge_scale","keys":$nKeys,"updated":$nUpd,""" +
      f""""buckets":$buckets,"touched_buckets":$touchedBuckets,""" +
      f""""rows_rewritten_pruned":$prunedRows,"rows_rewritten_full":$nKeys,""" +
      f""""pruned_sec":$prunedSec%.3f,"full_rewrite_sec":$fullSec%.3f,""" +
      f""""speedup":${fullSec / prunedSec}%.2f}""")

    // --- append/compact/skip lifecycle at many versions (round 8): 40
    // single-bucket append batches with disjoint stat ranges, then
    // OPTIMIZE, then a ranged read — measuring the small-files debt,
    // the fold, and the file-skipping payoff over the table's life
    locally {
      val k = 8
      val table = GraftSession.tempDirCleanedOnExit("merge-scale-appendlife").toString
      MergeTable.load(spark, table, base.limit(0), "l_orderkey", k)
      val t0 = System.nanoTime()
      for (i <- 0 until 40) {
        val batch = base.filter(col("l_orderkey") % 40 === i)
          .withColumn("day", lit(i.toLong))
        MergeTable.append(spark, table, batch, "l_orderkey", k,
          statsCols = Seq("day"))
      }
      val appendSec = (System.nanoTime() - t0) / 1e9
      val filesBefore = TxLog.snapshot(table).files.length
      val t1 = System.nanoTime()
      MergeTable.compact(spark, table, "l_orderkey", k)
      val compactSec = (System.nanoTime() - t1) / 1e9
      val filesAfter = TxLog.snapshot(table).files.length
      // post-compact stats are dropped (the stat-less load file is a
      // constituent), so the skip measurement reads the PRE-compact
      // version: day ∈ [10, 12) must open ~2/40 of the appended files
      val t2 = System.nanoTime()
      val scan = MergeTable.scanRange(spark, table, "day", 10L, 11L,
        asOf = Some(40L))
      val scanFiles = scan.inputFiles.length
      val scanRows = scan.count()
      val scanSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"metric":"merge_scale_append_lifecycle","appends":40,""" +
        f""""append_sec":$appendSec%.3f,"files_before_compact":$filesBefore,""" +
        f""""files_after_compact":$filesAfter,"compact_sec":$compactSec%.3f,""" +
        f""""scan_files_opened":$scanFiles,"scan_rows":$scanRows,""" +
        f""""scan_sec":$scanSec%.3f}""")
    }
  }
}
