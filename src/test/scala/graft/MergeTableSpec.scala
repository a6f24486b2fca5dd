package graft

import graft.streaming.{MergeTable, TxLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-file pruning of MergeTable: a merge must rewrite ONLY the
  * buckets containing changed keys, and untouched buckets must keep
  * their exact files across versions. */
class MergeTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("merge rewrites only touched buckets; untouched files are shared between versions") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl").toString
    val base = (0L until 64L).map(i => (i, i * 10.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 8)
    val snap0 = TxLog.snapshot(table)
    assert(snap0.version === 0L && snap0.files.length === 8)

    // update keys 3 and 11 — both land in bucket 3, nothing else
    val updates = Seq((3L, -1.0), (11L, -2.0)).toDF("k", "v")
    val (v1, touched) = MergeTable.mergeInto(spark, table, updates, "k", buckets = 8)
    assert(v1 === 1L && touched === Seq(3))

    val snap1 = TxLog.snapshot(table)
    val untouched0 = snap0.files.filterNot(_.startsWith("b3-")).toSet
    val untouched1 = snap1.files.filterNot(_.startsWith("b3-")).toSet
    assert(untouched0 === untouched1, "untouched buckets must keep their exact files")
    assert(snap1.files.count(_.startsWith("b3-")) === 1)
    assert(snap0.files.toSet !== snap1.files.toSet)

    // values: merged keys replaced, others intact; v0 unchanged
    val cur = MergeTable.read(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(cur(3L) === -1.0 && cur(11L) === -2.0 && cur(5L) === 50.0)
    assert(cur.size === 64)
    val old = MergeTable.read(spark, table, Some(0L)).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(old(3L) === 30.0 && old(11L) === 110.0)
  }

  test("point lookup opens only the key's bucket file") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-lkp").toString
    val base = (0L until 64L).map(i => (i, i * 2.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 8)
    val hit = MergeTable.lookup(spark, table, "k", 13L, buckets = 8)
    assert(hit.inputFiles.length === 1, "lookup must prune to one bucket file")
    assert(hit.inputFiles.head.contains("b5-"), "13 % 8 = 5")
    assert(hit.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((13L, 26.0)))
    // full read touches all 8 files — the pruning is real, not incidental
    assert(MergeTable.read(spark, table).inputFiles.length === 8)
  }

  test("schema evolution: an update batch with a NEW column null-fills old rows") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-evo").toString
    val base = (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)
    // v carries over, NEW column tag appears only on the merged keys
    val updates = Seq((1L, 99.0, "new"), (2L, 98.0, "new")).toDF("k", "v", "tag")
    MergeTable.mergeInto(spark, table, updates, "k", buckets = 4)
    val cur = MergeTable.read(spark, table)
    assert(cur.columns.sorted === Array("k", "tag", "v"))
    val byK = cur.collect().map(r =>
      r.getLong(cur.columns.indexOf("k")) ->
        Option(r.get(cur.columns.indexOf("tag")))).toMap
    assert(byK(1L) === Some("new") && byK(2L) === Some("new"))
    assert(byK(7L) === None, "untouched rows must null-fill the evolved column")
    assert(byK.size === 16)
    // the log holds each version's schema: time travel reads the old one
    assert(TxLog.snapshot(table).schema.map(_.fieldNames.toSeq) ===
      Some(Seq("k", "v", "tag")))
    assert(MergeTable.read(spark, table, Some(0L)).columns === Array("k", "v"))
  }

  test("a column type clash fails the commit, and the table is untouched") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-clash").toString
    MergeTable.load(spark, table, Seq((0L, 1.0)).toDF("k", "v"), "k", buckets = 2)
    intercept[IllegalArgumentException] {
      MergeTable.append(spark, table, Seq((1L, "x")).toDF("k", "v"), "k", buckets = 2)
    }
    assert(TxLog.versions(table) === Seq(0L))
    assert(MergeTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((0L, 1.0)))
  }

  test("deleteKeys drops rows bucket-locally; emptied buckets keep a schema file") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-del").toString
    val base = (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)
    val snap0 = TxLog.snapshot(table)

    // delete both keys of bucket 1 that we pick (5, 13) plus one of
    // bucket 3 (7): buckets {1, 3} rewrite, {0, 2} keep exact files
    val (v1, touched) = MergeTable.deleteKeys(spark, table,
      Seq(5L, 13L, 7L).toDF("k"), "k", buckets = 4)
    assert(v1 === 1L && touched === Seq(1, 3))
    val snap1 = TxLog.snapshot(table)
    val keepPrefixes = Set("b0-", "b2-")
    assert(snap0.files.filter(f => keepPrefixes.exists(f.startsWith)).toSet ===
      snap1.files.filter(f => keepPrefixes.exists(f.startsWith)).toSet)
    val cur = MergeTable.read(spark, table).collect().map(_.getLong(0)).toSet
    assert(cur === (0L until 16L).toSet -- Set(5L, 13L, 7L))
    // time travel still sees the deleted rows
    assert(MergeTable.read(spark, table, Some(0L)).count() === 16L)

    // empty an ENTIRE bucket (1's remaining keys 1, 9): lookup on it
    // must still resolve to a schema-bearing file with zero rows
    MergeTable.deleteKeys(spark, table, Seq(1L, 9L).toDF("k"), "k", buckets = 4)
    val hit = MergeTable.lookup(spark, table, "k", 9L, buckets = 4)
    assert(hit.count() === 0L)
    // deleting keys with no live bucket at all is a no-op commit-wise
    val before = TxLog.snapshot(table).version
    val (vSame, none) = MergeTable.deleteKeys(spark, table,
      spark.range(0).select(col("id").as("k")), "k", buckets = 4)
    assert(vSame === before && none.isEmpty)
  }

  test("merge inserts new keys into their buckets") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-ins").toString
    val base = (0L until 8L).map(i => (i, 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)
    val (_, touched) = MergeTable.mergeInto(spark, table,
      Seq((100L, 9.0)).toDF("k", "v"), "k", buckets = 4)
    assert(touched === Seq(0)) // 100 % 4 == 0
    val cur = MergeTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(cur(100L) === 9.0 && cur.size === 9)
  }

  test("append + compact: files fold to one per bucket, content and time travel intact") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-opt").toString
    val base = (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)
    // three appends into bucket 1 (keys 5, 9, 13): bucket 1 grows to 4
    // live files while buckets 0/2/3 stay at one
    for (i <- 0 until 3)
      MergeTable.append(spark, table,
        Seq((5L + i * 4, 100.0 + i)).toDF("k", "v"), "k", buckets = 4)
    val pre = TxLog.snapshot(table)
    assert(pre.version === 3L)
    assert(pre.files.count(_.startsWith("b1-")) === 4)
    assert(pre.files.length === 7)

    val Some((v, compacted)) = MergeTable.compact(spark, table, "k", buckets = 4)
    assert(v === 4L && compacted === Seq(1), "only bucket 1 met the threshold")
    val post = TxLog.snapshot(table)
    assert(post.files.count(_.startsWith("b1-")) === 1, "bucket 1 folded to one file")
    assert(post.files.length === 4)
    assert(post.files.filterNot(_.startsWith("b1-")).toSet ===
      pre.files.filterNot(_.startsWith("b1-")).toSet,
      "untouched buckets keep their exact files across the compaction")

    // content identical across the commit (appends keep DUPLICATE keys)
    val cur = MergeTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val want = ((0L until 16L).map(i => (i, i * 1.0)) ++
      (0 until 3).map(i => (5L + i * 4, 100.0 + i))).sorted
    assert(cur === want)
    // time travel below the compaction: v1 = base + first append only
    val v1 = MergeTable.read(spark, table, Some(1L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(v1 === ((0L until 16L).map(i => (i, i * 1.0)) :+ (5L, 100.0)).sorted)
    // idempotence: nothing left to fold
    assert(MergeTable.compact(spark, table, "k", buckets = 4) === None)
  }

  test("file stats: scanRange prunes by interval, compact folds stats, stat-less files survive") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-stats").toString
    // base load (no stats) + three appends with disjoint stat ranges,
    // all into bucket 1 (keys ≡ 1 mod 4)
    MergeTable.load(spark, table,
      Seq((1L, 0L)).toDF("k", "t"), "k", buckets = 4)
    for (i <- 0 until 3)
      MergeTable.append(spark, table,
        Seq((5L + i * 4, 100L * (i + 1))).toDF("k", "t"),
        "k", buckets = 4, statsCols = Seq("t"))
    val snap = TxLog.snapshot(table)
    assert(snap.stats.size === 3, "three appended files carry stats")

    // prune: [150, 250] hits only the t=200 file; stat-less base files
    // (4 of them) are always kept
    val scan = MergeTable.scanRange(spark, table, "t", 150L, 250L)
    assert(scan.inputFiles.length === 5, "1 in-range + 4 stat-less base files")
    assert(scan.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((9L, 200L)))
    // out-of-range scan: only the stat-less files open, zero rows pass
    val none = MergeTable.scanRange(spark, table, "t", 900L, 999L)
    assert(none.inputFiles.length === 4 && none.count() === 0L)

    // compact folds bucket 1's files; the folded file's stats must be
    // ABSENT (one constituent — the base b1 file — had none)
    val Some((_, Seq(1))) = MergeTable.compact(spark, table, "k", buckets = 4)
    assert(TxLog.snapshot(table).stats.isEmpty,
      "fold with a stat-less constituent must drop stats")

    // all-stats fold: backfill the base file's stats via a metadata-only
    // commit (remove + re-add the same file WITH stats — the maintenance
    // op a lake runs after enabling skipping), then compact → the folded
    // file's interval is the union of its constituents
    val t2 = GraftSession.tempDirCleanedOnExit("spec-mergetbl-stats2").toString
    MergeTable.load(spark, t2, Seq((0L, 5L)).toDF("k", "t"), "k", buckets = 1)
    val s0 = TxLog.snapshot(t2)
    val baseF = s0.files.head
    assert(TxLog.commit(t2, Seq(baseF), Seq(baseF), s0.version, s0.schema.get,
      stats = Map(baseF -> Map("t" -> (5L, 5L)))).isDefined)
    MergeTable.append(spark, t2, Seq((1L, 10L)).toDF("k", "t"),
      "k", buckets = 1, statsCols = Seq("t"))
    MergeTable.append(spark, t2, Seq((2L, 30L)).toDF("k", "t"),
      "k", buckets = 1, statsCols = Seq("t"))
    assert(TxLog.snapshot(t2).stats.size === 3)
    val Some((_, _)) = MergeTable.compact(spark, t2, "k", buckets = 1)
    assert(TxLog.snapshot(t2).stats.values.toSeq === Seq(Map("t" -> (5L, 30L))),
      "folded file must carry the union interval of its constituents")
    assert(MergeTable.read(spark, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((0L, 5L), (1L, 10L), (2L, 30L)))

    // commit-level: stats land in the entry and survive checkpoint +
    // entry retention
    val adds = Seq("bx.parquet")
    val t3 = GraftSession.tempDirCleanedOnExit("spec-mergetbl-stats3").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t3))
    assert(TxLog.commit(t3, adds, Seq.empty, -1L,
      StructType(Seq(StructField("k", LongType), StructField("t", LongType))),
      stats = Map("bx.parquet" -> Map("t" -> (3L, 9L)))) === Some(0L))
    assert(TxLog.snapshot(t3).stats === Map("bx.parquet" -> Map("t" -> (3L, 9L))))
    // checkpoint carries stats through replay truncation
    assert(TxLog.writeCheckpoint(t3) === Some(0L))
    TxLog.expireEntriesBelowCheckpoint(t3)
    assert(TxLog.snapshot(t3).stats === Map("bx.parquet" -> Map("t" -> (3L, 9L))),
      "stats must survive checkpoint + entry retention")
  }

  test("scanWhere composes two range predicates: prune is the intersection") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-tworange").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    // 4 appends on a (day, region) grid: day and region intervals are
    // independent per file, so each predicate prunes its own dimension
    var k = 0L
    for (day <- Seq(1L, 2L); region <- Seq(10L, 20L)) {
      val rows = (0 until 5).map { i =>
        k += 1; (k, day, region, i.toDouble) }.toDF("k", "day", "region", "v")
      MergeTable.append(spark, table, rows, "k", buckets = 1,
        statsCols = Seq("day", "region"))
    }
    val full = MergeTable.read(spark, table).inputFiles.length
    assert(full === 4)
    val dayOnly = MergeTable.scanWhere(spark, table, Seq(("day", 2L, 2L)))
    val regOnly = MergeTable.scanWhere(spark, table, Seq(("region", 10L, 10L)))
    val both = MergeTable.scanWhere(spark, table,
      Seq(("day", 2L, 2L), ("region", 10L, 10L)))
    assert(dayOnly.inputFiles.length === 2 && regOnly.inputFiles.length === 2)
    assert(both.inputFiles.length === 1,
      "two predicates must prune to the single intersecting file")
    assert(both.count() === 5L &&
      both.select("day", "region").distinct().collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1))) === Seq((2L, 10L)))
  }

  test("stats on a non-numeric column record no interval and never prune") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-nullstats").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    // "tag" casts to long as NULL: the append must record no interval
    // for it (instead of NPE-ing or writing a garbage one), keep the
    // numeric column's interval, and a tag-range scan must READ the file
    MergeTable.append(spark, table,
      Seq((1L, "abc", 7L), (5L, "def", 9L)).toDF("k", "tag", "t"),
      "k", buckets = 2, statsCols = Seq("tag", "t"))
    val st = TxLog.snapshot(table).stats
    assert(st.nonEmpty && st.values.forall(m => m.keySet === Set("t")),
      s"non-castable column must record no interval: $st")
    val scan = MergeTable.scanRange(spark, table, "t", 8L, 20L)
    assert(scan.collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("change data feed: inserts, updates, deletes, and an empty feed across compaction") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-cdf").toString
    val base = (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)                 // v0
    // v1: update key 3, insert key 100 (both bucket 3 ∪ bucket 0)
    MergeTable.mergeInto(spark, table,
      Seq((3L, -3.0), (100L, 9.0)).toDF("k", "v"), "k", buckets = 4)
    val c1 = MergeTable.changes(spark, table, "k", 0L, 1L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    assert(c1 === Seq((3L, -3.0, "update"), (100L, 9.0, "insert")))

    // v2: append into bucket 1 → pure inserts
    MergeTable.append(spark, table, Seq((5L, 50.0)).toDF("k", "v"), "k", buckets = 4)
    assert(MergeTable.changes(spark, table, "k", 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ===
      Seq((5L, 50.0, "insert")))

    // v3: compaction rewrites bucket 1's two files — content unchanged,
    // so the feed across the compaction commit is EMPTY
    val Some((v3, _)) = MergeTable.compact(spark, table, "k", buckets = 4)
    assert(v3 === 3L)
    assert(MergeTable.changes(spark, table, "k", 2L, 3L).count() === 0L)

    // v4: erasure commit — drop bucket 2's file without replacement
    // (the GDPR bucket-erase shape); its keys surface as deletes
    val snap = TxLog.snapshot(table)
    val b2 = snap.files.filter(_.startsWith("b2-"))
    assert(TxLog.commit(table, Seq.empty, b2, snap.version, snap.schema.get).isDefined)
    val dels = MergeTable.changes(spark, table, "k", 3L, 4L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    assert(dels === Seq((2L, 2.0, "delete"), (6L, 6.0, "delete"),
      (10L, 10.0, "delete"), (14L, 14.0, "delete")))
    // and the full span composes: 0→4 nets out the compaction noise;
    // key 5's appended row types as UPDATE here (key existed at v0,
    // and its unchanged base row cancels in the diff)
    val span = MergeTable.changes(spark, table, "k", 0L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(span === Seq((2L, "delete"), (3L, "update"), (5L, "update"),
      (6L, "delete"), (10L, "delete"), (14L, "delete"), (100L, "insert")))
    // consumer cursor loop: poll from v1, store the cursor, poll again —
    // the second poll from the stored cursor is empty
    val (feed, cursor) = MergeTable.changesSince(spark, table, "k", 1L)
    assert(cursor === 4L && feed.count() === 5L) // key-5 update + 4 deletes
    val (feed2, cursor2) = MergeTable.changesSince(spark, table, "k", cursor)
    assert(cursor2 === 4L && feed2.count() === 0L)
  }

  test("concurrent compaction vs merge: compaction loses the version race and retries correctly") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-race").toString
    val base = (0L until 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    MergeTable.load(spark, table, base, "k", buckets = 4)
    MergeTable.append(spark, table, Seq((5L, 100.0)).toDF("k", "v"), "k", buckets = 4)
    // a merge (on ANOTHER bucket) commits BETWEEN compaction's snapshot
    // read and its commit attempt: compaction must conflict, orphan its
    // staged file, and retry against the fresh snapshot
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racing = new graft.streaming.CommitPrimitive {
      def createExclusive(target: java.nio.file.Path, content: Array[Byte]): Boolean = {
        if (raced.compareAndSet(false, true))
          MergeTable.mergeInto(spark, table,
            Seq((10L, -10.0)).toDF("k", "v"), "k", buckets = 4)
        TxLog.LocalFs.createExclusive(target, content)
      }
    }
    val Some((v, compacted)) =
      MergeTable.compact(spark, table, "k", buckets = 4, primitive = racing)
    assert(raced.get, "the race must actually have been exercised")
    assert(v === 3L, "compaction read v1, lost v2 to the merge, committed v3")
    assert(compacted === Seq(1))
    val cur = MergeTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    // the racing merge replaced key 10 (bucket 2); compaction's retry
    // folded bucket 1 over the post-merge snapshot, losing nothing
    val want = ((0L until 16L).filter(_ != 10L).map(i => (i, i * 1.0)) ++
      Seq((5L, 100.0), (10L, -10.0))).sorted
    assert(cur === want)
    assert(TxLog.snapshot(table).files.count(_.startsWith("b1-")) === 1)
    assert(TxLog.vacuum(table, minAgeMs = 0L) === Seq.empty,
      "compaction's conflicted first attempt must self-clean")
  }

  /** A primitive that runs `race` once, just before delegating the
    * first commit attempt it sees: that attempt then loses its version. */
  private def racingOnce(race: => Unit) = {
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val primitive = new graft.streaming.CommitPrimitive {
      def createExclusive(target: java.nio.file.Path, content: Array[Byte]): Boolean = {
        if (raced.compareAndSet(false, true)) race
        TxLog.LocalFs.createExclusive(target, content)
      }
    }
    (primitive, raced)
  }

  test("concurrent append: the retried commit's files carry the stats and sidecars") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-append-race").toString
    MergeTable.load(spark, table,
      (0L until 8L).map(i => (i, i, 0.0)).toDF("k", "hr", "v"), "k", buckets = 2)
    val rows = (100L until 140L).map(i => (i, i % 5, 1.0)).toDF("k", "hr", "v")
    val (plain, plainRaced) = racingOnce(
      MergeTable.mergeInto(spark, table, Seq((1L, 1L, -1.0)).toDF("k", "hr", "v"),
        "k", buckets = 2): Unit)
    val v1 = MergeTable.append(spark, table, rows, "k", buckets = 2,
      primitive = plain, statsCols = Seq("hr"))
    assert(plainRaced.get && v1 === 2L, "append read v0, lost v1, committed v2")
    val (bloomed, bloomRaced) = racingOnce(
      MergeTable.mergeInto(spark, table, Seq((2L, 2L, -2.0)).toDF("k", "hr", "v"),
        "k", buckets = 2): Unit)
    val v2 = MergeTable.appendWithBloom(spark, table,
      (200L until 240L).map(i => (i, 10 + i % 5, 2.0)).toDF("k", "hr", "v"),
      "k", buckets = 2, bloomCol = "hr", primitive = bloomed, statsCols = Seq("hr"))
    assert(bloomRaced.get && v2 === 4L, "appendWithBloom read v2, lost v3, committed v4")
    Seq((2L, 0L, 4L), (4L, 10L, 14L)).foreach { case (v, lo, hi) =>
      val snap = TxLog.snapshot(table, Some(v))
      val added = snap.files.filter(_.contains(s"-v$v-"))
      assert(added.length === 2, s"v$v adds one file per bucket")
      assert(added.forall(f => snap.stats(f)("hr")._1 >= lo && snap.stats(f)("hr")._2 <= hi),
        s"v$v files carry this batch's hr stats: ${added.map(snap.stats.get)}")
    }
    TxLog.snapshot(table).files.filter(_.contains("-v4-")).foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(table, f + ".bloom")),
        s"retried file $f carries its sidecar")
    }
    assert(MergeTable.scanPoint(spark, table, "hr", lit(12L)).count() === 8L)
    assert(MergeTable.read(spark, table).count() === 88L)
    assert(TxLog.vacuum(table, minAgeMs = 0L) === Seq.empty,
      "each append's conflicted first attempt must self-clean")
  }

  test("concurrent optimizeZorder: the retried files carry z-intervals; the lost attempt is clean") {
    val table = GraftSession.tempDirCleanedOnExit("spec-mergetbl-zorder-race").toString
    val bits = 4
    val rows = (0L until 200L).map(i => (i, i % 16, (i / 16) % 16)).toDF("k", "x", "y")
    MergeTable.load(spark, table, rows, "k", buckets = 2)
    val (racing, raced) = racingOnce(
      MergeTable.mergeInto(spark, table, Seq((3L, 15L, 15L)).toDF("k", "x", "y"),
        "k", buckets = 2): Unit)
    val (v, rewritten) = MergeTable.optimizeZorder(spark, table, "k", buckets = 2,
      "x", "y", bits, chunks = 4, primitive = racing)
    assert(raced.get && v === 2L && rewritten === Seq(0, 1))
    val snap = TxLog.snapshot(table)
    assert(snap.files.length === 8 && snap.files.forall(_.contains("-v2-zc")))
    assert(snap.files.forall(f => snap.stats(f).contains(s"__z:x:y:$bits")),
      "every retried chunk file records its z-interval")
    assert(MergeTable.read(spark, table).filter(col("k") === 3L)
      .select("x", "y").as[(Long, Long)].collect().toSeq === Seq((15L, 15L)),
      "the retry rewrote the winner's state")
    assert(MergeTable.scanBox(spark, table, "x", "y", 15, 15, 15, 15, bits)
      .count() === rows.filter(col("x") === 15 && col("y") === 15).count() + 1)
    assert(TxLog.vacuum(table, minAgeMs = 0L) === Seq.empty,
      "the lost attempt's chunk files must self-clean")
  }
}
