package graft

import graft.streaming.{Streams, TxLog}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

class StreamsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** stage the events parquet into a directory a stream can watch */
  private def stagedDir(): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    Files.copy(Paths.get(s"${TestSpark.sf0}/events.parquet"),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming tumbling counts equal the batch-verified result") {
    val q = Streams.tumblingCounts(Streams.events(spark, stagedDir()))
      .writeStream.format("memory").queryName("tumble_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("tumble_out")
      .withColumn("wstart", org.apache.spark.sql.functions.col("wstart").cast("timestamp_ntz"))
      .orderBy("wstart", "event_type").collect()
    val batch = SparkEntry.queries("q_stream_tumble")(spark, TestSpark.sf0).collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  /** split events at the time median, stage the two halves as separate
    * files in mtime order `halves` (earlier half = "b1"), and run
    * asofMatches with maxFilesPerTrigger=1 → one micro-batch per half. */
  private def runAsofHalves(halves: Seq[String], sinkName: String)
      : Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-asof-stream").toString
    val ev = Tables(spark, TestSpark.sf0, "events")
    val mid = ev.selectExpr(
        "timestamp_micros(CAST(percentile_cont(0.5) WITHIN GROUP " +
          "(ORDER BY unix_micros(CAST(ts AS TIMESTAMP))) AS BIGINT))")
      .collect()(0).getAs[java.sql.Timestamp](0)
      .toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
    ev.filter(col("ts") <= lit(mid)).coalesce(1).write.parquet(s"$dir/b1")
    ev.filter(col("ts") > lit(mid)).coalesce(1).write.parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("graft-asof-flat").toString
    var i = 0
    for (sub <- halves) {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(f"$flat/part$i%02d.parquet"))
      // file source orders pending files by modification time: make the
      // halves' order deterministic regardless of copy speed
      new java.io.File(f"$flat/part$i%02d.parquet").setLastModified(1000000L * (i + 1))
      i += 1
    }
    val q = Streams.asofMatches(
        Streams.events(spark, flat, Map("maxFilesPerTrigger" -> "1")))
      .toDF("user_id", "purchase_id", "asof_click_id")
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty micro-batches")
    val out = spark.table(sinkName).orderBy("user_id", "purchase_id").collect()
    spark.catalog.dropTempView(sinkName)
    out
  }

  test("live as-of frontier carries across micro-batches") {
    // earlier half first: second-batch purchases must match first-batch
    // clicks through STATE, and the result equals the batch query exactly
    val streamed = runAsofHalves(Seq("b1", "b2"), "asof_out")
    val batch = SparkEntry.queries("q_join_asof")(spark, TestSpark.sf0)
      .select("user_id", "purchase_id", "asof_click_id")
      .orderBy("user_id", "purchase_id").collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("live as-of under out-of-order batches keeps the causal invariant") {
    import org.apache.spark.sql.functions._
    // LATER half arrives first — the adversarial order. Exact equality
    // with batch is impossible (that needs reprocessing), but the guards
    // must hold: no purchase ever matches a click AFTER it, and the
    // frontier never rewinds (first-batch purchases still match their
    // own half's clicks exactly as in-order processing would).
    val streamed = runAsofHalves(Seq("b2", "b1"), "asof_ooo_out")
    val ts = Tables(spark, TestSpark.sf0, "events")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("tsu"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    streamed.filter(!_.isNullAt(2)).foreach { r =>
      assert(ts(r.getLong(2)) <= ts(r.getLong(1)),
        s"purchase ${r.getLong(1)} matched a FUTURE click ${r.getLong(2)}")
    }
  }

  test("streaming dedup keeps one row per (user_id, event_type)") {
    val q = Streams.dedup(Streams.events(spark, stagedDir()))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("dedup_out")
    val expected = Tables(spark, TestSpark.sf0, "events")
      .select("user_id", "event_type").distinct().count()
    assert(streamed.count() === expected)
  }

  test("flatMapGroupsWithState running totals converge to the batch per-user totals") {
    val q = Streams.runningTotals(Streams.events(spark, stagedDir()))
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("state_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    // append mode emits one changelog row per user per micro-batch; the LAST
    // row per user is the final state
    val last = spark.table("state_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct("n", "total")).as("s"))
      .selectExpr("user_id", "s.n AS n", "s.total AS total")
    val batch = Tables(spark, TestSpark.sf0, "events")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("value"), 2).as("total"))
    assert(last.except(batch).isEmpty && batch.except(last).isEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = Streams.intervalJoin(Streams.events(spark, stagedDir()))
      .writeStream.format("memory").queryName("join_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("join_out")
      .orderBy("user_id", "click_id", "purchase_id").collect()
    val batch = SparkEntry.queries("q_stream_join")(spark, TestSpark.sf0).collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("live left-outer interval join equals the batch LEFT JOIN (sentinel-driven eviction)") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_stream_live_outer")(spark, TestSpark.sf0)
      .collect().map(_.toString).toSeq
    val ev = Tables(spark, TestSpark.sf0, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
    val want = c.join(p,
        col("user_id") === col("pu") && col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"), "left")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        round(col("value"), 2).as("amount"))
      .orderBy("user_id", "click_id", "purchase_id")
      .collect().map(_.toString).toSeq
    assert(got.length === want.length, "row count (every unmatched click evicted)")
    assert(got.sorted === want.sorted)
    // sanity: the outer rows actually exist (NULL-padded clicks)
    assert(got.count(_.contains("null")) > 0, "some unmatched clicks expected")
  }

  test("streaming sessions produce the same session count as batch session_window") {
    val q = Streams.sessions(Streams.events(spark, stagedDir()))
      .writeStream.format("memory").queryName("session_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("session_out").count()
    val batch = SparkEntry.queries("q_stream_session")(spark, TestSpark.sf0).count()
    assert(streamed === batch)
  }

  test("sliding windows and evicting dedup match their batch twins") {
    import org.apache.spark.sql.functions.col
    val dir = stagedDir()
    val q1 = Streams.slidingCounts(Streams.events(spark, dir))
      .writeStream.format("memory").queryName("slide_out").outputMode("complete").start()
    q1.processAllAvailable(); q1.stop()
    val streamedSlide = spark.table("slide_out")
      .withColumn("wstart", col("wstart").cast("timestamp_ntz"))
      .orderBy("wstart").collect()
    val batchSlide = SparkEntry.queries("q_stream_slide")(spark, TestSpark.sf0).collect()
    assert(streamedSlide.toSeq === batchSlide.toSeq)

    // one finite micro-batch: nothing evicts mid-run, so the key set must
    // equal plain batch DISTINCT — checks the WithinWatermark state path
    val q2 = Streams.dedupEvicting(Streams.events(spark, dir))
      .select(col("user_id"), col("event_type"))
      .writeStream.format("memory").queryName("evict_out").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val expected = Tables(spark, TestSpark.sf0, "events")
      .select("user_id", "event_type").distinct().count()
    assert(spark.table("evict_out").count() === expected)
  }

  /** Encoding-drift canary (VERDICT r4 #2): whatever parquet writer the
    * testdata generator uses, the STREAM source must see the same event
    * times as the type-guarded batch loader — r4 lost 3 gate rows to a
    * hard-coded nanos assumption when the data regenerated as micros. Both
    * encodings stay covered here regardless of future regeneration: the
    * on-disk testdata as written today, plus a self-written int64-nanos
    * fixture. */
  test("ts encoding canary: stream agrees with batch min/max/count for both encodings") {
    import org.apache.spark.sql.functions._
    val batch = Tables(spark, TestSpark.sf0, "events")
    val expected = batch.agg(
      min(col("ts").cast("timestamp")).as("mn"),
      max(col("ts").cast("timestamp")).as("mx"),
      count(lit(1)).as("n")).collect()(0)

    def streamedAgg(dir: String, name: String) = {
      val q = Streams.events(spark, dir)
        .agg(min("ts").as("mn"), max("ts").as("mx"), count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      spark.table(name).collect()(0)
    }

    // encoding 1: the driver-generated testdata as currently written
    assert(streamedAgg(stagedDir(), "canary_asis") === expected)

    // encoding 2: int64 nanoseconds (the pre-r4 generator's encoding)
    val nanosDir = Files.createTempDirectory("graft-nanos").toString
    batch.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(nanosDir)
    assert(streamedAgg(nanosDir, "canary_nanos") === expected)
  }

  test("file sink + checkpoint: dedup state survives a stop/start across new input") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft-restart-src").toString
    val base = Files.createTempDirectory("graft-restart").toString
    val raw = spark.read.parquet(s"${TestSpark.sf0}/events.parquet")

    def runOnce(): Unit = {
      val q = Streams.dedup(Streams.events(spark, src))
        .select(col("user_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/chk")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // stage each half as a FLAT file in the watched dir (a nested write
    // dir would trip the source's partition-discovery listing)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$src/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // first half arrives, stream runs, stops (a deploy/restart boundary)
    stage(raw.filter(col("event_id") % 2 === 0), "half1.parquet")
    runOnce()
    // second half lands; a NEW query restarts from the same checkpoint
    stage(raw.filter(col("event_id") % 2 === 1), "half2.parquet")
    runOnce()

    val out = spark.read.parquet(s"$base/out")
    // exactly one output row per key: keys seen in BOTH halves must not
    // re-emit after the restart — that duplicate is exactly what a lost
    // state store would produce
    assert(out.count() === out.distinct().count(), "restart re-emitted deduped keys")
    val expected = raw.select("user_id", "event_type").distinct().count()
    assert(out.distinct().count() === expected)
  }

  test("watermark drops late rows, counted in progress metrics, excluded from state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val ms = MemoryStream[(Long, Timestamp)](spark)
    val agg = ms.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val name = "wmdrop_spec"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    def t(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:30:00")
    try {
      ms.addData((1L, t(1)))
      q.processAllAvailable()
      ms.addData((1L, t(10))) // advances the watermark to 09:30
      q.processAllAvailable()
      ms.addData((1L, t(2)))  // 8 h behind the watermark: must be dropped
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1, "the late row must be counted as dropped by the watermark")
      val windows = spark.table(name)
        .select(col("window.start").cast("string")).collect().map(_.getString(0))
      assert(!windows.exists(_.contains("02:00")),
        "the dropped row must not have re-opened its expired window")
      assert(windows.exists(_.contains("01:00")) && windows.exists(_.contains("10:00")))
    } finally { q.stop(); spark.catalog.dropTempView(name): Unit }
  }

  test("near-dup ingest is idempotent under replay and probes a pruned store") {
    import org.apache.spark.sql.functions._
    // stage two batches: corpus (doc_id % 10 != 7) then delta
    val stage = Files.createTempDirectory("graft-ndspec-in").toString
    val docs = Tables(spark, TestSpark.sf0, "documents")
    for ((isDelta, m) <- Seq(false -> 0, true -> 1)) {
      val part =
        if (isDelta) docs.filter(col("doc_id") % 10 === 7)
        else docs.filter(col("doc_id") % 10 =!= 7)
      val scratch = Files.createTempDirectory("graft-ndspec-raw").toString
      part.coalesce(1).write.parquet(s"$scratch/b")
      val f = new java.io.File(s"$scratch/b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(f"$stage/part$m%02d.parquet"))
      new java.io.File(f"$stage/part$m%02d.parquet")
        .setLastModified(1000000L * (m + 1)): Unit
    }
    val store = Files.createTempDirectory("graft-ndspec-store").toString + "/sigs"
    val out = Files.createTempDirectory("graft-ndspec-out").toString + "/res"

    val stats1 = Streams.runNearDupIngest(spark, stage, store, out, compactEvery = 2)
    assert(stats1.size === 2)
    // the delta batch's probe opened files, and no more than the store held
    val delta = stats1.find(_.batchId == 1L).get
    assert(delta.probeFiles > 0 && delta.probeFiles <= delta.storeFiles)
    // its prune key set is bounded by numBands × sigBuckets, not batch size
    assert(delta.cells <= 2L * 16L)
    val rows1 = Streams.readMergeTable(spark, out).orderBy("doc_id").collect().toSeq
    val files1 = TxLog.snapshot(store).files

    // REPLAY the whole stream over the same store/out dirs (a fresh
    // checkpoint re-delivers batch ids 0 and 1): the batch records in
    // the stores' logs must turn every batch into a no-op —
    // at-least-once delivery can neither double verdicts nor re-append
    // signatures (ADVICE r10)
    val stats2 = Streams.runNearDupIngest(spark, stage, store, out, compactEvery = 2)
    assert(stats2.isEmpty, "replayed batches must be skipped via their batch records")
    assert(Streams.readMergeTable(spark, out).orderBy("doc_id").collect().toSeq === rows1)
    assert(TxLog.snapshot(store).files === files1)

    // the bucket width is the store's layout: a reopen at another width
    // fails before it runs a batch, and the store keeps its pin
    val e = intercept[IllegalArgumentException] {
      Streams.runNearDupIngest(spark, stage, store, out, sigBuckets = 8, compactEvery = 2)
    }
    assert(e.getMessage.contains("layout mismatch") && e.getMessage.contains("sigBuckets=16"))
    assert(Streams.pinLayout(store, "band store", None) === Some("sigBuckets=16"))
    assert(TxLog.snapshot(store).files === files1)
  }

  test("an uncommitted batch's staged signatures are invisible to the probe") {
    import org.apache.spark.sql.functions._
    val stage = Files.createTempDirectory("graft-ndstaged-in").toString
    val docs = Tables(spark, TestSpark.sf0, "documents").limit(40)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val raw = Files.createTempDirectory("graft-ndstaged-raw").toString
    docs.coalesce(1).write.parquet(s"$raw/b")
    val f = new java.io.File(s"$raw/b").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(f.toPath, Paths.get(s"$stage/part00.parquet"))
    val store = Files.createTempDirectory("graft-ndstaged-store").toString + "/sigs"
    val out = Files.createTempDirectory("graft-ndstaged-out").toString + "/res"
    Streams.runNearDupIngest(spark, stage, store, out)
    val one = docs.orderBy("doc_id").limit(1).localCheckpoint()
    val probeDocId = one.collect().head.getLong(0)
    val sigs = Streams.nearDupSigs(one)
    def nMatches(): Long = {
      val (m, _, _, _) = Streams.probeNearDupStore(spark, store, sigs)
      m.filter(col("doc_id") === probeDocId).collect()
        .headOption.map(_.getAs[Long]("n_corpus_matches")).getOrElse(0L)
    }
    // the committed batch holds the doc's own signatures: it matches itself
    val before = nMatches()
    assert(before >= 1)
    // a retried batch that staged its signatures and crashed before its
    // commit: a copy of every live store file under the next version's
    // name, which no log entry references — the probe must not see it
    val snap = TxLog.snapshot(store)
    snap.files.foreach { name =>
      val (dir, file) = name.splitAt(name.lastIndexOf('/') + 1)
      val staged = dir + s"v${snap.version + 1}" + file.dropWhile(_ != '-')
      Files.copy(Paths.get(store, name), Paths.get(store, staged)): Unit
    }
    assert(nMatches() === before,
      "staged signatures of an uncommitted batch must not reach the probe")
    val (_, probed, storeFiles, _) = Streams.probeNearDupStore(spark, store, sigs)
    assert(storeFiles === snap.files.size.toLong && probed <= storeFiles)
  }

  test("near-dup ingest survives a signatureless batch and still folds") {
    import org.apache.spark.sql.functions._
    // batch 1 holds only a doc too short to shingle: its store commit
    // adds NO files, which the compaction fold must tolerate
    val stage = Files.createTempDirectory("graft-ndempty-in").toString
    val docs = Tables(spark, TestSpark.sf0, "documents").limit(20)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val shorty = spark.sql(
      """SELECT CAST(999999 AS BIGINT) AS doc_id, 'x' AS text,
           'en' AS lang, 's0' AS source, CAST(1 AS BIGINT) AS n_chars""")
    for ((part, m) <- Seq(docs -> 0, shorty -> 1, docs -> 2)) {
      val scratch = Files.createTempDirectory("graft-ndempty-raw").toString
      part.coalesce(1).write.parquet(s"$scratch/b")
      val f = new java.io.File(s"$scratch/b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(f"$stage/part$m%02d.parquet"))
      new java.io.File(f"$stage/part$m%02d.parquet")
        .setLastModified(1000000L * (m + 1)): Unit
    }
    val store = Files.createTempDirectory("graft-ndempty-store").toString + "/sigs"
    val out = Files.createTempDirectory("graft-ndempty-out").toString + "/res"
    val stats = Streams.runNearDupIngest(spark, stage, store, out, compactEvery = 3)
    assert(stats.size === 3)
    // the short doc got a verdict (zero matches), the stream completed,
    // and the fold collapsed both signature-bearing batches into a
    // single fold (the dataless batch committed no files)
    val verdicts = Streams.readMergeTable(spark, out)
    assert(verdicts.filter(col("doc_id") === 999999L).count() === 1)
    assert(verdicts.filter(col("doc_id") === 999999L && col("is_dup")).count() === 0)
    val commits = Streams.storeCommits(store)
    assert(commits.size === 1 && commits.head._2,
      s"the store must hold one live fold, saw (version, is fold) $commits")
    // batch 3 (a replay of batch 1's docs) must have matched batch 1's
    // stored signatures through the store
    assert(Streams.readMergeTable(spark, out)
      .filter(col("is_dup")).count() >= docs.count())
  }

  test("q_stream_live_sink deletes its sink dir after reading it back") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def sinkDirs = Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft-sink")).toSet
    val before = sinkDirs
    val rows = SparkEntry.queries("q_stream_live_sink")(spark, TestSpark.sf0).count()
    assert(rows > 0)
    assert((sinkDirs -- before).isEmpty, s"left behind: ${sinkDirs -- before}")
  }
}
