package graft

import graft.streaming.{MergeTable, Streams, TxLog, Zorder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Z-order clustering + exact interval-vs-box pruning: the Morton code
  * round-trips, the Column form matches the driver form, the quadtree
  * intersection test agrees with brute force on every random case, and
  * the table-level OPTIMIZE ZORDER preserves content while scanBox prunes
  * files without ever losing rows. */
class ZorderSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("interleave/deinterleave round-trip") {
    val rnd = new Random(7)
    for (_ <- 1 to 500) {
      val bits = 1 + rnd.nextInt(31)
      val x = math.abs(rnd.nextLong()) % (1L << bits)
      val y = math.abs(rnd.nextLong()) % (1L << bits)
      val z = Zorder.interleave(x, y, bits)
      assert(Zorder.deinterleave(z, bits) === ((x, y)))
    }
    // z-order curve property: interleave is monotone in each coord's bits
    assert(Zorder.interleave(0, 0, 4) === 0L)
    assert(Zorder.interleave(15, 15, 4) === 255L)
    assert(Zorder.interleave(1, 0, 4) === 1L)
    assert(Zorder.interleave(0, 1, 4) === 2L)
  }

  test("zvalue Column matches the driver interleave") {
    val rnd = new Random(13)
    val bits = 9
    val rows = (1 to 300).map { _ =>
      (rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong)
    }
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), Zorder.zvalue(col("x"), col("y"), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) === Zorder.interleave(x, y, bits), s"($x,$y)")
    }
  }

  test("intervalIntersectsBox agrees with brute force") {
    val rnd = new Random(101)
    val bits = 5 // 1024 z values — brute force enumerable
    val zMax = (1L << (2 * bits)) - 1
    for (i <- 1 to 400) {
      val a = math.abs(rnd.nextLong()) % (zMax + 1)
      val b = math.abs(rnd.nextLong()) % (zMax + 1)
      val (zlo, zhi) = (math.min(a, b), math.max(a, b))
      val xs = Seq.fill(2)(rnd.nextInt(1 << bits).toLong).sorted
      val ys = Seq.fill(2)(rnd.nextInt(1 << bits).toLong).sorted
      val brute = (zlo to zhi).exists { z =>
        val (x, y) = Zorder.deinterleave(z, bits)
        x >= xs(0) && x <= xs(1) && y >= ys(0) && y <= ys(1)
      }
      val fast = Zorder.intervalIntersectsBox(
        zlo, zhi, xs(0), xs(1), ys(0), ys(1), bits)
      assert(fast === brute,
        s"case $i: z[$zlo,$zhi] box x[${xs(0)},${xs(1)}] y[${ys(0)},${ys(1)}]")
    }
    // degenerate inputs
    assert(!Zorder.intervalIntersectsBox(5, 4, 0, 1, 0, 1, 5))
    assert(!Zorder.intervalIntersectsBox(0, 10, 3, 2, 0, 1, 5))
  }

  test("optimizeZorder preserves content; scanBox prunes files, never rows") {
    val table = GraftSession.tempDirCleanedOnExit("spec-zorder").toString
    val rnd = new Random(31)
    val bits = 6
    val rows = (0L until 4000L).map { i =>
      (i, rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong,
        rnd.nextDouble())
    }.toDF("k", "x", "y", "v")
    MergeTable.load(spark, table, rows, "k", buckets = 2)
    val before = Streams.readMergeTable(spark, table)
      .orderBy("k").collect().toSeq

    val (v1, rewritten) = MergeTable.optimizeZorder(
      spark, table, "k", buckets = 2, "x", "y", bits, chunks = 8)
    assert(v1 === 1L && rewritten === Seq(0, 1))
    val snap = TxLog.snapshot(table)
    assert(snap.files.length === 16, "2 buckets x 8 z-chunks")
    assert(snap.stats.size === 16, "every chunk file carries z stats")

    // content identical across the rewrite; old version still readable
    assert(Streams.readMergeTable(spark, table).orderBy("k").collect().toSeq === before)
    assert(Streams.readMergeTable(spark, table, Some(0L)).orderBy("k")
      .collect().toSeq === before)

    // a box covering ~1/16 of the plane must prune files AND match the
    // plain filter exactly
    val scan = MergeTable.scanBox(spark, table, "x", "y", 8, 23, 40, 55, bits)
    assert(scan.inputFiles.length < 16, "z pruning must drop some chunks")
    val want = before.filter(r =>
      r.getLong(1) >= 8 && r.getLong(1) <= 23 &&
        r.getLong(2) >= 40 && r.getLong(2) <= 55)
    assert(scan.orderBy("k").collect().toSeq === want)

    // 200 random boxes: never a lost row (exactness of the prune)
    for (_ <- 1 to 200) {
      val xs = Seq.fill(2)(rnd.nextInt(1 << bits).toLong).sorted
      val ys = Seq.fill(2)(rnd.nextInt(1 << bits).toLong).sorted
      val got = MergeTable.scanBox(
          spark, table, "x", "y", xs(0), xs(1), ys(0), ys(1), bits)
        .agg(count(lit(1)), coalesce(sum("k"), lit(0L))).head
      val want = before.filter(r =>
        r.getLong(1) >= xs(0) && r.getLong(1) <= xs(1) &&
          r.getLong(2) >= ys(0) && r.getLong(2) <= ys(1))
      assert(got.getLong(0) === want.length.toLong)
      assert(got.getLong(1) === want.map(_.getLong(0)).sum)
    }

    // a scan assuming FEWER bits than the table was ordered with must
    // not prune (the z-intervals exceed the smaller curve's range) —
    // wrong-curve pruning would silently lose rows
    val under = MergeTable.scanBox(spark, table, "x", "y", 8, 23, 40, 55, bits - 2)
    assert(under.inputFiles.length >= scan.inputFiles.length,
      "out-of-range intervals must be kept, not pruned on the wrong curve")
    assert(under.orderBy("k").collect().toSeq === want)

    // the rewrite composes with the rest of the lifecycle: a merge after
    // z-ordering replaces keys and drops the touched chunks' stats rows
    val upd = Seq((7L, 0L, 0L, -1.0)).toDF("k", "x", "y", "v")
    val (v2, _) = MergeTable.mergeInto(spark, table, upd, "k", buckets = 2)
    assert(v2 === 2L)
    val cur = Streams.readMergeTable(spark, table).filter(col("k") === 7L).head
    assert(cur.getDouble(3) === -1.0)
  }
}
