package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time windowing over the `events` table, run in batch mode so each
  * operator has an exact DuckDB oracle; `graft.streaming.Streams` applies
  * the same transforms under `readStream` with watermarks (SURVEY.md §2.9 —
  * the reference has no stream processing; these are the engine extensions).
  *
  * `window`/`session_window` are the same expressions in batch and
  * streaming, so batch-verified semantics carry over to the streaming path.
  */
object StreamingOps extends QueryModule {

  private def ev(s: SparkSession, d: String): DataFrame = Tables(s, d, "events")

  /** Run a streaming DataFrame to completion through a uniquely-named
    * memory sink and hand back the materialized result. Shared by every
    * q_stream_live_* row: copy out of the sink eagerly (localCheckpoint)
    * so the returned frame survives the temp-view drop and repeated
    * executions re-read this result, not a stopped stream; `ntzCols` are
    * cast timestamp_ltz→ntz (watermarks force LTZ; under the fixed-UTC
    * session the cast is wall-clock identity, matching the batch parquet
    * type for the driver's hash compare). The view is dropped in a
    * finally so a failed run cannot leak it.
    *
    * CONTRACT for new callers (ADVICE r14): withLiveTuning disables
    * `noDataMicroBatches` for the whole run, so a row routed through here
    * never gets the trailing empty batch that would flush final windows —
    * every live row MUST advance/evict on DATA batches (staged sentinel
    * replays, as all current rows do). A watermark/append row that relies
    * on the trailing no-data batch would silently lose its last windows.
    */
  private def runLive(s: SparkSession, stream: => DataFrame, mode: String,
                      sortCols: Seq[String], ntzCols: Seq[String] = Nil,
                      sizePaths: Seq[String] = Nil): DataFrame =
    graft.streaming.Streams.withLiveTuning(s, sizePaths) {
      val name = "live_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        graft.streaming.Streams.drain(
          stream.writeStream.format("memory").queryName(name).outputMode(mode))
        val cast = ntzCols.foldLeft(s.table(name)) { (df, c) =>
          df.withColumn(c, col(c).cast("timestamp_ntz"))
        }
        cast.orderBy(sortCols.map(col): _*).localCheckpoint()
      } finally { s.catalog.dropTempView(name): Unit }
    }

  /** Staged finite replay for the outer-join live rows: the real events
    * as batch 1, then TWO sentinel batches, carefully shaped:
    * - eviction in batch N uses the watermark set by batch N−1, and a
    *   no-data batch is not guaranteed inside processAllAvailable, so
    *   the final eviction must happen on a DATA batch;
    * - sentinels cannot be filtered out downstream: any pushable
    *   predicate on the join output is pushed into BOTH scans, which
    *   prunes the sentinels before the watermark nodes ever see them
    *   (found the hard way). Instead they use user ids no real row
    *   shares and ts values the final watermark never passes, so no
    *   sentinel row can match or be emitted as unmatched (on EITHER
    *   side — which is what lets the full-outer row share this replay).
    * b2: click+purchase at +20 h → after it, both sides' wm = +18 h.
    * b3: purchase-only at +30 h → DURING it, wm = +18 h evicts every
    *     real unmatched row; b2's sentinels (at +20 h) would need
    *     wm > +21 h / > +20 h — never reached, so they stay silently in
    *     state; b3's own (+30 h) likewise.
    * maxFilesPerTrigger=1 + staged mtimes make the batch order
    * deterministic. Returns the flat directory to stream — staged ONCE
    * per dataset and shared by the left- and full-outer rows (the
    * replay is read-only input; re-staging it per row wasted ~3 s). */
  private def stagedOuterReplay(s: SparkSession, d: String): String =
    graft.Memo(s, "outerReplay", d, "events") {
      import s.implicits._
      val ev = Tables(s, d, "events")
      val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
      def sentinels(rows: (Long, Long, Long, String)*): DataFrame =
        rows.map { case (id, plusH, user, typ) => (id, maxTs.plusHours(plusH), user, typ, 0.0, "") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      stageOrderedParts("graft-outer", "graft-outer-flat", Seq(ev,
        sentinels((-1L, 20L, 10000001L, "click"), (-2L, 20L, 10000002L, "purchase")),
        sentinels((-3L, 30L, 10000002L, "purchase"))))
    }

  /** events staged ONCE per dataset as three range-split parquet files —
    * the read-only replay input shared by the upsert/transformWithState
    * live rows (r6 verdict #5: each row re-staged its own copy, ~3
    * redundant write rounds per suite; state dirs stay per-row, only the
    * immutable input is shared). */
  private def stagedRangeSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "rangeSplit", d, "events") {
      val stage = graft.GraftSession.tempDirCleanedOnExit("graft-rsplit-in").toString
      Tables(s, d, "events")
        .repartitionByRange(3, col("event_id"))
        .write.parquet(s"$stage/in")
      s"$stage/in"
    }

  /** events staged ONCE per dataset as the DETERMINISTIC event_id % 3
    * split with ascending mtimes (batch k = residue k under
    * maxFilesPerTrigger=1) — shared by the history/merge/changelog rows
    * whose oracles aggregate over `event_id % 3 <= version`. */
  private def stagedModSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "modSplit", d, "events") {
      val ev = Tables(s, d, "events")
      stageOrderedParts("graft-msplit-raw", "graft-msplit-in",
        (0 to 2).map(m => ev.filter(pmod(col("event_id"), lit(3)) === m)))
    }

  /** [[graft.streaming.Streams.runMergeTotals]] over [[stagedModSplit]]
    * into a fresh table tagged `tag`: one commit per residue batch, so
    * version k holds the totals over `event_id % 3 <= k`. */
  private def mergeModSplit(s: SparkSession, d: String, tag: String): String = {
    val table = graft.GraftSession.tempDirCleanedOnExit(tag).toString
    graft.streaming.Streams.runMergeTotals(s, stagedModSplit(s, d), table,
      Map("maxFilesPerTrigger" -> "1"))
    val vs = graft.streaming.TxLog.versions(table)
    require(vs == Seq(0L, 1L, 2L),
      s"expected commit versions 0..2, got ${vs.mkString(",")}")
    table
  }

  /** Every version of a [[mergeModSplit]] table, unioned and tagged. */
  private def mergeHistory(s: SparkSession, d: String, tag: String): DataFrame = {
    val table = mergeModSplit(s, d, tag)
    (0L to 2L).map { v =>
      graft.streaming.Streams.readMergeTable(s, table, Some(v))
        .select(lit(v).as("version"), col("user_id"), col("n_events"),
          round(col("total"), 2).as("total"))
    }.reduce(_ unionAll _).orderBy("version", "user_id").localCheckpoint()
  }

  /** [[mergeHistory]]'s oracle: version k is the batch aggregate over
    * `event_id % 3 <= k`. */
  private val mergeHistoryOracle =
    """SELECT v.version, e.user_id, COUNT(*) AS n_events,
         ROUND(SUM(e.value), 2) AS total
       FROM events e CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS version) v
       WHERE e.event_id % 3 <= v.version
       GROUP BY v.version, e.user_id
       ORDER BY v.version, e.user_id"""

  /** The `.parquet` files directly under `dir`, by name. */
  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  /** Copy `files` into a fresh stage dir as part00, part01, … with
    * ascending mtimes — the deterministic replay input every staged live
    * row feeds through maxFilesPerTrigger=1. The ONE implementation of
    * the copy/setLastModified ritual, so an mtime fix lands once. */
  private def stageFiles(stageTag: String, files: Seq[java.io.File]): String = {
    import java.nio.file.{Files, Paths}
    val stage = graft.GraftSession.tempDirCleanedOnExit(stageTag).toString
    files.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(f"$stage/part$i%02d.parquet"))
      new java.io.File(f"$stage/part$i%02d.parquet")
        .setLastModified(1000000L * (i + 1)): Unit
    }
    stage
  }

  /** Stage a sequence of finite batches, each written as ONE parquet
    * file, through [[stageFiles]]. */
  private def stageOrderedParts(scratchTag: String, stageTag: String,
      parts: Seq[DataFrame]): String = {
    val scratch = graft.GraftSession.tempDirCleanedOnExit(scratchTag).toString
    stageFiles(stageTag, parts.zipWithIndex.map { case (df, m) =>
      df.coalesce(1).write.parquet(s"$scratch/b$m")
      parquetFiles(s"$scratch/b$m").head
    })
  }

  /** TRAIN embeddings (vec_id >= 50, the eval set excluded at the
    * source) staged as two mtime-ordered parquet files (vec_id parity
    * split) — two micro-batches under maxFilesPerTrigger=1 for the
    * decontamination ingest row. */
  private def stagedVecSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "vecSplit", d, "embeddings") {
      val train = Tables(s, d, "embeddings").filter(col("vec_id") >= 50)
      stageOrderedParts("graft-vecsplit-raw", "graft-vecsplit-in",
        Seq(0, 1).map(m => train.filter(col("vec_id") % 2 === m)))
    }

  /** documents staged ONCE per dataset as the incremental-dedup split:
    * batch 0 = the corpus (doc_id % 10 != 7), batch 1 = the delta
    * (doc_id % 10 == 7), ascending mtimes under maxFilesPerTrigger=1 —
    * so the near-dup ingest stream probes a store that holds exactly
    * the corpus when the delta arrives, reproducing
    * q_dedup_incremental's relation batch-by-batch. */
  private def stagedNearDupSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "nearDupSplit", d, "documents") {
      val docs = Tables(s, d, "documents")
      stageOrderedParts("graft-ndsplit-raw", "graft-ndsplit-in", Seq(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7)))
    }

  /** documents staged as THREE mod-split shipments (doc_id % 3,
    * mtime-ordered) — the crawl-drop replay the reservoir row streams. */
  private def stagedDocModSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "docModSplit", d, "documents") {
      val docs = Tables(s, d, "documents")
      stageOrderedParts("graft-docmod-raw", "graft-docmod-in",
        (0 to 2).map(m => docs.filter(col("doc_id") % 3 === m)))
    }

  /** events staged ONCE per dataset in EVENT-TIME ORDER (3 ts-range
    * files, ascending mtimes) plus a far-future sentinel batch (user
    * 10000001 at max ts + 20 h) — the replay shape event-time TIMERS
    * need: the watermark only ever moves past data already processed,
    * so a timer at (first event + 8 h) fires in a batch whose earlier
    * batches already delivered every qualifying event, and the sentinel
    * pushes the final watermark (delay 1 h → max + 19 h) past every
    * real timer while its own (+28 h) never fires. */
  private def stagedTimeSplit(s: SparkSession, d: String): String =
    graft.Memo(s, "timeSplit", d, "events") {
      import s.implicits._
      val scratch = graft.GraftSession.tempDirCleanedOnExit("graft-tsplit-raw").toString
      val ev = Tables(s, d, "events")
      ev.repartitionByRange(3, col("ts"), col("event_id"))
        .write.parquet(s"$scratch/real")
      val maxTs = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
      Seq((-10L, maxTs.plusHours(20), 10000001L, "click", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$scratch/sentinel")
      stageFiles("graft-tsplit-in",
        parquetFiles(s"$scratch/real") ++ parquetFiles(s"$scratch/sentinel"))
    }

  override val defs: Seq[Q] = Seq(

    // tumbling 1-hour windows
    Q("q_stream_tumble",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("wstart"), col("event_type"), col("cnt"), col("total"))
        .orderBy("wstart", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
              COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    // sliding windows: 1 hour long, every 30 minutes (each event in 2 windows)
    Q("q_stream_slide",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("wstart"), col("cnt"), col("total"))
        .orderBy("wstart"),
      Some("""SELECT time_bucket(INTERVAL '30 minutes', ts) - to_minutes(30 * k) AS wstart,
              COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total
              FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
              GROUP BY wstart ORDER BY wstart""")),

    // session windows: 30-minute inactivity gap per user
    Q("q_stream_session",
      (s, d) => ev(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("total"))
        .orderBy("user_id", "session_start"),
      Some("""WITH x AS (SELECT user_id, ts, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (SELECT user_id, ts, value,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
                FROM x)
              SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS total
              FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // stream-stream interval join (click → purchase attribution within
    // 1 hour), batch-expressed for the exact oracle; `Streams.intervalJoin`
    // is the same join under readStream with watermarks on both sides
    // bounding the buffered state [spec: StreamsSpec parity]
    Q("q_stream_join",
      (s, d) => {
        val e = ev(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts"), col("value").as("amount"))
        clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("p_ts") >= col("click_ts") &&
              col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            round(col("amount"), 2).as("amount"))
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
              ROUND(p.value, 2) AS amount
              FROM events c JOIN events p
                ON c.user_id = p.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL '1 hour'
              WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              ORDER BY c.user_id, click_id, purchase_id""")),

    // LIVE Structured-Streaming execution inside the correctness gate
    // (VERDICT r3 item 8): the same tumbling-window aggregation as
    // q_stream_tumble, but actually executed by the streaming engine —
    // readStream file source → watermark → windowed agg → memory sink,
    // processAllAvailable. Complete output mode because a finite file
    // source never advances the watermark past the last window (append
    // would hold every window back); the batch oracle is unchanged —
    // stream==batch is exactly the invariant.
    Q("q_stream_live_tumble",
      (s, d) => runLive(s,
        graft.streaming.Streams.tumblingCounts(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "complete", Seq("wstart", "event_type"), ntzCols = Seq("wstart"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
              COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    // LIVE sliding-window aggregation in the gate: the q_stream_slide
    // overlapping windows executed by the streaming engine (each event
    // assigned to two windows in the state store). Complete mode as for
    // the other finite-source live rows; oracle = the batch slide SQL.
    Q("q_stream_live_slide",
      (s, d) => runLive(s,
        graft.streaming.Streams.slidingCounts(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "complete", Seq("wstart"), ntzCols = Seq("wstart"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT time_bucket(INTERVAL '30 minutes', ts) - to_minutes(30 * k) AS wstart,
              COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total
              FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
              GROUP BY wstart ORDER BY wstart""")),

    // LIVE stateful processing in the gate: flatMapGroupsWithState running
    // per-user totals (streaming/Streams.runningTotals — the per-key BSP
    // peer analogue), executed by the real engine. The single-file source
    // yields exactly ONE micro-batch, so Append mode emits one changelog
    // row per user carrying the final state — which is precisely the batch
    // GROUP BY; the oracle needs no streaming semantics. State size is
    // O(distinct users) regardless of stream length — the bounded-state
    // posture that matters on an unbounded feed.
    Q("q_stream_live_totals",
      (s, d) => runLive(s,
        graft.streaming.Streams.runningTotals(
            graft.streaming.Streams.events(s, s"$d/events.parquet"))
          .toDF("user_id", "n_events", "total"),
        "append", Seq("user_id"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // LIVE session-window aggregation in the gate: streaming/Streams
    // .sessions executed by the engine (session_window merging in the
    // streaming aggregation state store). Complete mode for the same
    // reason as q_stream_live_tumble: a finite file source never advances
    // the watermark past the final sessions. Oracle = the batch session
    // query's gap-break SQL, unchanged — stream==batch again.
    Q("q_stream_live_session",
      (s, d) => runLive(s,
        graft.streaming.Streams.sessions(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "complete", Seq("user_id", "session_start"),
        ntzCols = Seq("session_start"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""WITH x AS (SELECT user_id, ts, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (SELECT user_id, ts, value,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
                FROM x)
              SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS total
              FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // LIVE streaming dedup in the gate: the real dropDuplicates state
    // store (streaming/Streams.dedup — watermarked so state evicts on an
    // unbounded feed), executed by the engine. Which REPRESENTATIVE row
    // the state keeps depends on intra-batch arrival order, so the
    // declared output is the deduped KEY SET — deterministic by
    // construction, and exactly what downstream consumers of a dedup
    // stage key on. Oracle is batch DISTINCT.
    Q("q_stream_live_dedup",
      (s, d) => runLive(s,
        graft.streaming.Streams.dedup(
            graft.streaming.Streams.events(s, s"$d/events.parquet"))
          .select(col("user_id"), col("event_type")),
        "append", Seq("user_id", "event_type"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // LIVE watermark-EVICTED dedup in the gate: dropDuplicatesWithinWatermark
    // (streaming/Streams.dedupEvicting) — the bounded-state dedup for an
    // unbounded feed (key state is dropped once the watermark passes it;
    // plain dropDuplicates state grows forever). The finite source is one
    // micro-batch, so no key is ever re-admitted and the key set equals
    // batch DISTINCT — the same oracle as q_stream_live_dedup checks a
    // DIFFERENT state-management path.
    Q("q_stream_live_dedup_evict",
      (s, d) => runLive(s,
        graft.streaming.Streams.dedupEvicting(
            graft.streaming.Streams.events(s, s"$d/events.parquet"))
          .select(col("user_id"), col("event_type")),
        "append", Seq("user_id", "event_type"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // LIVE crawl-ingest dedup in the gate: DOCUMENTS stream (not events —
    // the training-data front door) fingerprinted and first-seen-deduped
    // by content (streaming/Streams.ingestDedup). Output is the
    // (fingerprint, lang) key set — fp→lang is functional on this corpus,
    // so arrival order cannot change it; oracle is batch DISTINCT over
    // the same md5.
    Q("q_stream_live_ingest",
      (s, d) => runLive(s,
        graft.streaming.Streams.ingestDedup(
          graft.streaming.Streams.documents(s, s"$d/documents.parquet")),
        "append", Seq("fp"), sizePaths = Seq(s"$d/documents.parquet")),
      Some("""SELECT DISTINCT md5(text) AS fp, lang FROM documents
              ORDER BY fp""")),

    // LIVE vector-index ingest in the gate: EMBEDDINGS stream assigned to
    // IVF cells (coarse quantizer = 4 driver-collected centroid vectors
    // folded into the plan as literals — broadcast-centers, like k-means)
    // with per-cell population counts as the one streaming aggregate —
    // the write path of the inverted file q_sim_ivf_persisted queries.
    // Oracle reuses Similarity's cell-assignment CTEs verbatim.
    Q("q_stream_live_vec_ingest",
      (s, d) => {
        val cens = Tables(s, d, "embeddings").filter(col("vec_id") < 4)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        runLive(s,
          graft.streaming.Streams.vecIngestCellCounts(
            graft.streaming.Streams.embeddings(s, s"$d/embeddings.parquet"), cens),
          "complete", Seq("cell"), sizePaths = Seq(s"$d/embeddings.parquet"))
      },
      Some(s"""WITH ${Similarity.eSql}, ${Similarity.ivfCellsSql}
               SELECT cell, COUNT(*) AS n_vectors FROM cells
               GROUP BY cell ORDER BY cell""")),

    // LIVE sketch aggregation in the gate: approx_count_distinct (HLL++)
    // as STREAMING state — per-key distinct-user estimates maintained
    // incrementally by the state store, the bounded-memory alternative to
    // exact streaming distinct (whose state grows with the key×user
    // product). Declared check: the live estimate must land within 10% of
    // the exact batch distinct per event_type (invariant row, like
    // q_agg_approx / q_agg_hll_merge).
    Q("q_stream_live_approx",
      (s, d) => {
        val live = runLive(s,
          graft.streaming.Streams.events(s, s"$d/events.parquet")
            .groupBy(col("event_type"))
            .agg(approx_count_distinct(col("user_id")).as("adc")),
          "complete", Seq("event_type"), sizePaths = Seq(s"$d/events.parquet"))
        ev(s, d).groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .join(live, "event_type")
          .select(col("event_type"), col("exact_users"),
            (abs(col("adc") - col("exact_users")) <= col("exact_users") * 0.10)
              .as("within_10pct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
              true AS within_10pct
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // LIVE as-of join in the gate: Streams.asofMatches — per-key custom
    // state (the click frontier) via flatMapGroupsWithState, the
    // streaming execution of the Asof.backward operator. The oracle is
    // the batch as-of window SQL (Relational.asofUnionSql), so
    // stream == batch is the checked invariant, exactly like the other
    // live rows.
    Q("q_stream_live_asof",
      (s, d) => runLive(s,
        graft.streaming.Streams.asofMatches(
            graft.streaming.Streams.events(s, s"$d/events.parquet"))
          .toDF("user_id", "purchase_id", "asof_click_id"),
        "append", Seq("user_id", "purchase_id"), sizePaths = Seq(s"$d/events.parquet")),
      Some(s"""WITH ${Relational.asofUnionSql}, w AS (
                SELECT *,
                  LAST_VALUE(click_id IGNORE NULLS) OVER win AS asof_click_id
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, click_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              )
              SELECT user_id, purchase_id, asof_click_id
              FROM w WHERE side = 1 ORDER BY user_id, purchase_id""")),

    // LIVE stream-STATIC join in the gate: live events enriched against
    // the batch customer dimension (streaming/Streams.enrichedNationTotals)
    // — the "facts stream, dimensions in the lake" deployment. The static
    // side re-plans per micro-batch (broadcast here), carries NO streaming
    // state and needs no watermark; the downstream per-nation aggregate is
    // ordinary streaming-agg state. Oracle = the same join+agg in batch SQL.
    Q("q_stream_live_enrich",
      (s, d) => runLive(s,
        graft.streaming.Streams.enrichedNationTotals(
          graft.streaming.Streams.events(s, s"$d/events.parquet"),
          Tables(s, d, "customer")
            .select(col("c_custkey").as("user_id"), col("c_nationkey"))),
        "complete", Seq("c_nationkey"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT c_nationkey, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS total
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // LIVE stream-stream interval join in the gate: streaming/Streams
    // .intervalJoin (watermarks BOTH sides + time bounds in the
    // condition, so buffered state evicts) executed by the engine.
    // Append is the only supported mode for stream-stream joins; the
    // join RESULT is a set, deterministic regardless of arrival order,
    // so the batch interval-join SQL oracles it directly.
    Q("q_stream_live_join",
      (s, d) => runLive(s,
        graft.streaming.Streams.intervalJoin(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "append", Seq("user_id", "click_id", "purchase_id"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
              ROUND(p.value, 2) AS amount
              FROM events c JOIN events p
                ON c.user_id = p.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL '1 hour'
              WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              ORDER BY c.user_id, click_id, purchase_id""")),

    // LIVE left-outer interval join: unmatched clicks surface as NULL-
    // padded rows only when the watermark passes click_ts + 1 h, so a
    // finite replay appends one far-future sentinel batch (filtered back
    // out of the result) to drive the final eviction — after which the
    // live output equals the plain batch LEFT JOIN, which oracles it
    // directly. maxFilesPerTrigger=1 + staged mtimes make the
    // real-events→sentinel batch order deterministic.
    Q("q_stream_live_outer",
      (s, d) => runLive(s,
        graft.streaming.Streams.leftOuterIntervalJoin(
          graft.streaming.Streams.events(s, stagedOuterReplay(s, d),
            Map("maxFilesPerTrigger" -> "1"))),
        "append", Seq("user_id", "click_id", "purchase_id"), sizePaths = Seq(stagedOuterReplay(s, d))),
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
              ROUND(p.value, 2) AS amount
              FROM (SELECT * FROM events WHERE event_type = 'click') c
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON c.user_id = p.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL '1 hour'
              ORDER BY c.user_id, click_id, purchase_id""")),

    // LIVE FULL-outer interval join: both join states emit NULL-padded
    // rows on watermark eviction — unmatched clicks after wm passes
    // click_ts + 1 h, unmatched purchases after wm passes p_ts. The same
    // staged sentinel replay drives the final eviction for BOTH sides
    // (the b2 sentinels sit at +20 h, above every real ts but forever
    // below the final +18 h... +28 h watermark pair, so neither emits);
    // the batch FULL JOIN oracles the complete result.
    Q("q_stream_live_full_outer",
      (s, d) => runLive(s,
        graft.streaming.Streams.fullOuterIntervalJoin(
          graft.streaming.Streams.events(s, stagedOuterReplay(s, d),
            Map("maxFilesPerTrigger" -> "1"))),
        "append", Seq("user_id", "click_id", "purchase_id"), sizePaths = Seq(stagedOuterReplay(s, d))),
      Some("""SELECT COALESCE(c.user_id, p.user_id) AS user_id,
              c.event_id AS click_id, p.event_id AS purchase_id,
              ROUND(p.value, 2) AS amount
              FROM (SELECT * FROM events WHERE event_type = 'click') c
              FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON c.user_id = p.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL '1 hour'
              ORDER BY user_id, click_id, purchase_id""")),

    // LIVE TOP-K leaderboard: sort + limit INSIDE the streaming query
    // (complete mode re-ranks the aggregation state every micro-batch) —
    // the "top spenders right now" serving query. Totals round before
    // the sort, ties to the smaller user id; the batch top-10 oracles it.
    Q("q_stream_live_topk",
      (s, d) => runLive(s,
        graft.streaming.Streams.topUsers(
          graft.streaming.Streams.events(s, s"$d/events.parquet"), 10),
        "complete", Seq("user_id"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY user_id
              ORDER BY total DESC, user_id LIMIT 10""")),

    // LIVE UPSERT SINK (foreachBatch): per-user running totals in UPDATE
    // mode maintained as a serving table — each micro-batch's changed
    // keys key-replace into the TxLog merge table in one atomic commit.
    // The events are staged as THREE range-split files with
    // maxFilesPerTrigger=1, so every user's total is merged and
    // re-merged across batches (event_id ranges are uncorrelated with
    // user_id) — the merge path is actually exercised, not a single
    // bulk write. Oracle: the plain batch GROUP BY.
    Q("q_stream_live_upsert",
      (s, d) => {
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-upsert-table").toString
        graft.streaming.Streams.runMergeTotals(s, stagedRangeSplit(s, d), table,
            Map("maxFilesPerTrigger" -> "1"))
          .select(col("user_id"), col("n_events"),
            round(col("total"), 2).as("total"))
          .orderBy("user_id")
          .localCheckpoint()
      },
      Some("""SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // TIME-TRAVEL over the upsert sink's versions: "the serving table as
    // of batch k" is a log replay to version k. Staging is DETERMINISTIC
    // (event_id % 3 = batch index, mtime-ordered), so version k's
    // content is exactly the batch GROUP BY over event_id % 3 <= k and
    // the whole history oracles as three unioned aggregates. Every user
    // appears in every batch (% is uniform), so each version re-merges
    // every key.
    Q("q_stream_live_upsert_history",
      (s, d) => mergeHistory(s, d, "graft-upshist-table"),
      Some(mergeHistoryOracle)),

    // TRANSACTIONAL MERGE SINK over the TxLog commit protocol: each
    // micro-batch commits {adds, removes} atomically to a versioned log;
    // readers replay the log, so every version is a pinned FILE SET
    // (snapshot isolation), time travel is a log replay to version k,
    // and a crash before the commit rename leaves only orphans no reader
    // sees (TxLogSpec injects those crashes; this row proves the happy
    // path end-to-end). Same computation and oracle as upsert_history.
    Q("q_stream_live_merge",
      (s, d) => mergeHistory(s, d, "graft-merge-table"),
      Some(mergeHistoryOracle)),

    // CHANGE DATA FEED from the upsert sink: per micro-batch, exactly
    // the updated keys with (old, new) cumulative values — the delta
    // subscription downstream consumers read instead of diffing
    // snapshots. Version v is the snapshot at v left-joined (null-safe)
    // to the one at v-1 (none for v = 0, so old_n is NULL), keeping the
    // keys whose count moved. A user in batch v always gains events, so
    // exactly the batch's keys change and the rows of users outside it,
    // carried over unchanged, drop out (the oracle's `in_batch > 0`).
    Q("q_stream_live_changelog",
      (s, d) => {
        val table = mergeModSplit(s, d, "graft-cdc-table")
        def at(v: Long) = graft.streaming.Streams.readMergeTable(s, table, Some(v))
        (0L to 2L).map { v =>
          val now = at(v).as("n")
          val changed =
            if (v == 0L) now.withColumn("old_n", lit(null).cast("long"))
            else now.join(at(v - 1).select(col("user_id").as("o_user"),
                  col("n_events").as("old_n")),
                col("n.user_id") <=> col("o_user"), "left")
              .filter(not(col("old_n") <=> col("n.n_events")))
          changed.select(lit(v).as("version"), col("n.user_id").as("user_id"),
            col("old_n"), col("n.n_events").as("new_n"),
            round(col("n.total"), 2).as("new_total"))
        }.reduce(_ unionAll _).orderBy("version", "user_id").localCheckpoint()
      },
      Some("""WITH vs AS (SELECT unnest(generate_series(0, 2)) AS version),
              agg AS (SELECT v.version, e.user_id,
                  CAST(SUM(CASE WHEN e.event_id % 3 < v.version THEN 1 ELSE 0 END) AS BIGINT) AS old_raw,
                  CAST(SUM(CASE WHEN e.event_id % 3 <= v.version THEN 1 ELSE 0 END) AS BIGINT) AS new_n,
                  SUM(CASE WHEN e.event_id % 3 = v.version THEN 1 ELSE 0 END) AS in_batch,
                  ROUND(SUM(CASE WHEN e.event_id % 3 <= v.version THEN e.value ELSE 0 END), 2) AS new_total
                FROM events e CROSS JOIN vs v GROUP BY 1, 2)
              SELECT version, user_id,
                CASE WHEN old_raw = 0 THEN NULL ELSE old_raw END AS old_n,
                new_n, new_total
              FROM agg WHERE in_batch > 0
              ORDER BY version, user_id""")),

    // Batch MERGE INTO with BUCKET-FILE PRUNING (MergeTable over TxLog):
    // the table's files are hash-bucketed by user_id, and a correction
    // batch touching only user_id % 10 == 0 rewrites ONLY the buckets
    // holding those keys — a merge touching 1% of keys rewrites ~1% of
    // the table, which is what makes a serving-table merge viable at
    // 100 TB. Both versions stay addressable (time travel); the row
    // requires the rewritten-bucket set to be exactly the touched keys'
    // buckets, and MergeTableSpec proves untouched buckets keep their
    // identical files across versions.
    Q("q_merge_into",
      (s, d) => {
        val buckets = 8
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergeinto").toString
        val base = Tables(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
          .localCheckpoint()
        graft.streaming.MergeTable.load(s, table, base, "user_id", buckets)
        val updates = base.filter(pmod(col("user_id"), lit(10)) === 0)
          .select(col("user_id"), (col("n_events") + 1).as("n_events"),
            (col("total") + 100).as("total"))
        val (v1, touched) = graft.streaming.MergeTable.mergeInto(
          s, table, updates, "user_id", buckets)
        val expected = updates.select(pmod(col("user_id"), lit(buckets)).cast("int"))
          .distinct().collect().map(_.getInt(0)).sorted.toSeq
        require(v1 == 1L && touched == expected,
          s"bucket pruning broken: rewrote $touched, expected $expected")
        Seq(0L, 1L).map { v =>
          graft.streaming.Streams.readMergeTable(s, table, Some(v))
            .select(lit(v).as("version"), col("user_id"), col("n_events"),
              round(col("total"), 2).as("total"))
        }.reduce(_ unionAll _).orderBy("version", "user_id").localCheckpoint()
      },
      Some("""WITH b AS (SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total
                         FROM events GROUP BY user_id)
              SELECT v.version, b.user_id,
                CASE WHEN v.version = 1 AND b.user_id % 10 = 0
                     THEN b.n_events + 1 ELSE b.n_events END AS n_events,
                ROUND(CASE WHEN v.version = 1 AND b.user_id % 10 = 0
                     THEN b.total + 100 ELSE b.total END, 2) AS total
              FROM b CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS version) v
              ORDER BY version, user_id""")),

    // BUCKET-PRUNED STREAMING MERGE in the gate: the same %-split
    // replay as q_stream_live_merge, but the sink is MergeTable —
    // batch 0 bucket-loads, batches 1-2 MERGE their changed keys and
    // rewrite only the touched buckets through the TxLog protocol.
    // Versions stay addressable; version k's state oracles as the
    // cumulative batch aggregate, identical to the full-rewrite row —
    // proving the pruned merge path preserves exactly the semantics
    // the simple sink had, at 1/buckets of the write volume when keys
    // cluster.
    Q("q_stream_live_merge_bucketed",
      (s, d) => {
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergebk-table").toString
        graft.streaming.Streams.runMergeBucketed(s, stagedModSplit(s, d), table,
          buckets = 8, Map("maxFilesPerTrigger" -> "1"))
        val vs = graft.streaming.TxLog.versions(table)
        require(vs == Seq(0L, 1L, 2L),
          s"expected commit versions 0..2, got ${vs.mkString(",")}")
        vs.map { v =>
          graft.streaming.Streams.readMergeTable(s, table, Some(v))
            .select(lit(v).as("version"), col("user_id"), col("n_events"),
              round(col("total"), 2).as("total"))
        }.reduce(_ unionAll _).orderBy("version", "user_id").localCheckpoint()
      },
      Some("""SELECT v.version, e.user_id, COUNT(*) AS n_events,
                ROUND(SUM(e.value), 2) AS total
              FROM events e CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS version) v
              WHERE e.event_id % 3 <= v.version
              GROUP BY v.version, e.user_id
              ORDER BY v.version, e.user_id""")),

    // CHECKPOINTED MERGE TABLE in the gate: six successive single-key
    // corrections with auto-checkpoint every 3 commits, then entry
    // RETENTION below the newest checkpoint — the final read must
    // replay checkpoint + suffix only (the aged-out entries are GONE
    // from disk, so a hash match proves the checkpointed read path is
    // the one that ran). This is the long-lived serving-table shape:
    // reader cost stays O(commits since checkpoint) over the table's
    // lifetime instead of growing with every commit ever made.
    Q("q_merge_checkpointed",
      (s, d) => {
        import s.implicits._
        val buckets = 4
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergecp").toString
        val base = Tables(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
          .localCheckpoint()
        graft.streaming.MergeTable.load(s, table, base, "user_id", buckets)
        for (k <- 1 to 6) {
          graft.streaming.MergeTable.mergeInto(s, table,
            Seq((k.toLong * 10, -k.toLong, -k.toDouble)).toDF("user_id", "n_events", "total"),
            "user_id", buckets, checkpointEvery = 3)
        }
        val cps = graft.streaming.TxLog.checkpointVersions(table)
        require(cps == Seq(3L, 6L), s"expected checkpoints 3,6, got $cps")
        val expired = graft.streaming.TxLog.expireEntriesBelowCheckpoint(table)
        require(expired.nonEmpty, "retention must delete pre-checkpoint entries")
        graft.streaming.Streams.readMergeTable(s, table)
          .select(col("user_id"), col("n_events"), round(col("total"), 2).as("total"))
          .orderBy("user_id").localCheckpoint()
      },
      Some("""WITH b AS (SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total
                         FROM events GROUP BY user_id),
              k AS (SELECT unnest(generate_series(1, 6)) AS k)
              SELECT user_id, n_events, ROUND(total, 2) AS total FROM (
                SELECT b.user_id,
                  COALESCE(-k.k, b.n_events) AS n_events,
                  COALESCE(-CAST(k.k AS DOUBLE), b.total) AS total
                FROM b LEFT JOIN k ON b.user_id = k.k * 10
                UNION ALL
                SELECT k.k * 10, -k.k, -CAST(k.k AS DOUBLE) FROM k
                WHERE k.k * 10 NOT IN (SELECT user_id FROM b)
              ) ORDER BY user_id""")),

    // COMPACTION / OPTIMIZE in the gate (VERDICT r7 item 4): load a
    // bucketed table, blind-APPEND three single-row batches (each
    // leaves one extra small file in its bucket's live snapshot), then
    // compact — the row itself proves the three OPTIMIZE invariants
    // before returning the final content: (1) live file count strictly
    // drops (via inputFiles), (2) snapshot CONTENT is identical across
    // the compaction commit (exceptAll both ways), (3) time travel
    // BELOW the compaction still replays the pre-append base exactly.
    // The oracle sees only the final content: base ∪ appended rows.
    Q("q_merge_compacted",
      (s, d) => {
        import s.implicits._
        val buckets = 4
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergeopt").toString
        val base = Tables(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
          .localCheckpoint()
        graft.streaming.MergeTable.load(s, table, base, "user_id", buckets)
        for (k <- 1 to 3)
          graft.streaming.MergeTable.append(s, table,
            Seq((k.toLong * 10 + 1, -k.toLong, -k.toDouble))
              .toDF("user_id", "n_events", "total"),
            "user_id", buckets)
        val pre = graft.streaming.Streams.readMergeTable(s, table).localCheckpoint()
        val preFiles = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        val (_, compacted) =
          graft.streaming.MergeTable.compact(s, table, "user_id", buckets)
            .getOrElse(sys.error("compaction found nothing to fold"))
        require(compacted.nonEmpty, "no bucket compacted")
        val post = graft.streaming.Streams.readMergeTable(s, table).localCheckpoint()
        val postFiles = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        require(postFiles < preFiles,
          s"compaction must reduce live files: $preFiles -> $postFiles")
        require(pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty,
          "snapshot content changed across the compaction commit")
        val tt = graft.streaming.Streams.readMergeTable(s, table, Some(0L))
        require(tt.exceptAll(base).isEmpty && base.exceptAll(tt).isEmpty,
          "time travel below the compaction no longer replays v0")
        post.select(col("user_id"), col("n_events"),
            round(col("total"), 2).as("total"))
          .orderBy("user_id", "n_events")
      },
      Some("""WITH b AS (SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total
                         FROM events GROUP BY user_id),
              k AS (SELECT unnest(generate_series(1, 3)) AS k)
              SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                     ROUND(total, 2) AS total FROM (
                SELECT user_id, n_events, total FROM b
                UNION ALL
                SELECT k * 10 + 1, -k, -CAST(k AS DOUBLE) FROM k
              ) ORDER BY user_id, n_events""")),

    // APPEND + AUTO-COMPACT streaming ingest in the gate: three
    // micro-batches (event_id mod split) flow through the append sink —
    // batch 0 loads, batches 1-2 append with hour stats, and the
    // every-2-commits OPTIMIZE fires mid-stream (versions must read
    // load, append, append, compact). After the stream: every bucket
    // holds exactly ONE live file (the fold ran and lost nothing — the
    // oracle hash over the full ingested content proves it).
    Q("q_stream_live_append_compact",
      (s, d) => {
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-appendcp").toString
        val out = graft.streaming.Streams.runAppendCompacted(s,
          stagedModSplit(s, d), table, buckets = 4, compactEvery = 2,
          Map("maxFilesPerTrigger" -> "1"))
        val vs = graft.streaming.TxLog.versions(table)
        require(vs == Seq(0L, 1L, 2L, 3L),
          s"expected load, append, append, compact — got ${vs.mkString(",")}")
        val files = graft.streaming.TxLog.snapshot(table).files
        require(files.length == 4,
          s"each bucket must hold one folded file, got ${files.length}")
        out.select(col("user_id"), col("event_id"), col("value"), col("hr"))
          .orderBy("event_id").localCheckpoint()
      },
      Some("""SELECT user_id, event_id, value,
                CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr
              FROM events ORDER BY event_id""")),

    // STREAMING INGEST WITH FULL SKIP METADATA in the gate: three
    // micro-batches land as blind appendWithBloom commits, so the table
    // the stream builds is point-lookup-prunable the moment each batch
    // commits — no separate indexing pass. Asserted in-row: one commit
    // per batch, EVERY live file carries a bloom sidecar, a scan for an
    // ABSENT value opens ZERO files (every sidecar excludes it — the
    // pruning-works proof that batch composition can't dilute), and the
    // present-value scan returns exactly the plain filter's aggregate
    // (no false negatives — the contract streaming-built sidecars must
    // keep). Oracle: the plain purchase aggregate.
    Q("q_stream_live_append_bloom",
      (s, d) => {
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-appendbloom").toString
        graft.streaming.Streams.runAppendBloom(s, stagedModSplit(s, d), table,
          buckets = 2, bloomCol = "event_type",
          options = Map("maxFilesPerTrigger" -> "1"))
        val vs = graft.streaming.TxLog.versions(table)
        require(vs == Seq(0L, 1L, 2L),
          s"expected one append commit per micro-batch, got ${vs.mkString(",")}")
        val files = graft.streaming.TxLog.snapshot(table).files
        require(files.forall(f => java.nio.file.Files.exists(
            java.nio.file.Paths.get(table, f + ".bloom"))),
          "every streamed file must carry a bloom sidecar")
        val absent = graft.streaming.MergeTable.scanPoint(
          s, table, "event_type", lit("no_such_type"))
        require(absent.inputFiles.isEmpty && absent.count() == 0L,
          s"an absent value must open zero files, opened ${absent.inputFiles.length}")
        graft.streaming.MergeTable.scanPoint(s, table, "event_type", lit("purchase"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id ORDER BY user_id""")),

    // STREAMING NEAR-DUP INGEST in the gate (VERDICT r9 missing #2;
    // r10 #1/#6 store re-architecture): a live documents stream
    // maintains a MinHash band-signature store PARTITIONED BY
    // (band, sig_bucket) — each micro-batch probes ONLY the partition
    // cells its own signatures hash to (never the whole store), emits
    // per-doc verdicts, THEN appends its signatures (probe-before-
    // append = the batch never matches itself), folding the per-batch
    // commits every 2 batches so the store's file count stays bounded.
    // Staged corpus→delta batches make the delta's store exactly the
    // corpus signatures, so the stream's delta verdicts must reproduce
    // the batch incremental-dedup relation — oracled by the SAME SQL as
    // q_dedup_incremental. Asserted in-row: ≥2 micro-batches, store
    // carry-over, every probe's files ≤ the store's files, compaction
    // folded the commits to ONE, and a post-stream single-doc probe
    // opens a STRICT subset of the store (bounded by that doc's
    // distinct cells) while still finding its corpus dups.
    Q("q_stream_live_neardup",
      (s, d) => {
        val store = graft.GraftSession
          .tempDirCleanedOnExit("graft-neardup-store").toString + "/sigs"
        val out = graft.GraftSession
          .tempDirCleanedOnExit("graft-neardup-out").toString + "/res"
        // gate batches are corpus-sized (sigs >> cells at ANY bucket
        // width), so a narrow store keeps the file count — and the
        // local-FS write churn this row pays — proportional to what the
        // pruning can actually use; production sizes sigBuckets to its
        // batch signature count (see runNearDupIngest's doc)
        val sigBuckets = 8
        val stats = graft.streaming.Streams.runNearDupIngest(
          s, stagedNearDupSplit(s, d), store, out,
          sigBuckets = sigBuckets, compactEvery = 2)
        require(stats.size >= 2,
          s"the staged replay must deliver >= 2 micro-batches, got ${stats.size}")
        stats.filter(_.batchId > 0).foreach { st =>
          require(st.probeFiles > 0 && st.probeFiles <= st.storeFiles,
            s"batch ${st.batchId}: probe must open a pruned, non-empty file set " +
              s"(opened ${st.probeFiles} of ${st.storeFiles})")
        }
        // compaction folded both batches' files into one fold commit
        val commits = graft.streaming.Streams.storeCommits(store)
        require(commits.size == 1 && commits.head._2,
          s"compactEvery=2 over 2 batches must leave ONE fold commit live, " +
            s"got (version, is fold) ${commits.mkString(",")}")
        // the store must carry BOTH batches' signatures after the run —
        // i.e. the append side of the loop is live, not just the probe
        val carryRow = graft.streaming.Streams.readMergeTable(s, store)
          .select("doc_id").distinct()
          .agg(sum(when(col("doc_id") % 10 =!= 7, 1L).otherwise(0L)),
            sum(when(col("doc_id") % 10 === 7, 1L).otherwise(0L))).head
        val (corpusDocs, deltaDocs) = (carryRow.getLong(0), carryRow.getLong(1))
        require(corpusDocs > 0 && deltaDocs > 0,
          s"the band store must accumulate across batches ($corpusDocs corpus, $deltaDocs delta)")
        // STRICT-subset pruning proof, deterministic at any scale: one
        // document touches ≤ numBands cells, so its probe must open
        // strictly fewer files than the store holds — and still find
        // its dups (the prune never costs recall)
        val dupRow = graft.streaming.Streams.readMergeTable(s, out)
          .filter(col("is_dup") && col("doc_id") % 10 === 7)
          .orderBy("doc_id").limit(1).collect()
        val probeId =
          if (dupRow.nonEmpty) dupRow.head.getLong(0)
          // fallback must pick a doc the STORE holds signatures for —
          // a verdict row alone could be a too-short-to-shingle doc
          else graft.streaming.Streams.readMergeTable(s, store)
            .select("doc_id").orderBy("doc_id")
            .limit(1).collect().head.getLong(0)
        val oneDoc = Tables(s, d, "documents").filter(col("doc_id") === probeId)
        // the layout metadata pins the width a prober must use
        require(graft.streaming.Streams.pinLayout(store, "band store", None) ==
            Some(s"sigBuckets=$sigBuckets"),
          s"store layout must record sigBuckets=$sigBuckets")
        val oneSigs = graft.streaming.Streams.nearDupSigs(oneDoc, sigBuckets)
        val (m1, probed1, store1, _) = graft.streaming.Streams
          .probeNearDupStore(s, store, oneSigs)
        require(probed1 > 0 && probed1 < store1,
          s"single-doc probe must open a strict subset ($probed1 of $store1 files)")
        if (dupRow.nonEmpty)
          require(m1.filter(col("doc_id") === probeId)
              .head.getAs[Long]("n_corpus_matches") > 0,
            "the pruned probe must still find the known dup's corpus matches")
        graft.streaming.Streams.readMergeTable(s, out)
          .filter(col("doc_id") % 10 === 7)
          .select(col("doc_id"), col("n_corpus_matches"),
            col("first_match"), col("is_dup"))
          .orderBy("doc_id")
      },
      Some(Dedup.incrementalOracleSql)),

    // LIVE decontamination at ingest: the embedding-space hygiene scan
    // (q_dedup_decontaminate_semantic) run as a STREAM — train vectors
    // arrive in micro-batches, each batch is scored against the broadcast
    // eval set and its verdicts land as one idempotent commit of a
    // TxLog table. No cross-batch state by construction (the eval side is
    // static, every batch self-contained), so this is the one streaming
    // row whose state size is ZERO at any corpus scale — the shape a
    // crawl ingest wants for its eval-leakage gate. Declared checks: ≥ 2
    // micro-batches, disjoint verdict sets covering the train corpus
    // exactly once, and the unioned verdicts equal the batch row's
    // relation (the oracle is shared VERBATIM).
    Q("q_stream_live_decontam",
      (s, d) => {
        val out = graft.GraftSession
          .tempDirCleanedOnExit("graft-decontam-out").toString + "/res"
        val eval = Tables(s, d, "embeddings").filter(col("vec_id") < 50)
        val batches = graft.streaming.Streams.runDecontamIngest(
          s, stagedVecSplit(s, d), eval, out)
        require(batches.size >= 2,
          s"the staged replay must deliver >= 2 micro-batches, got ${batches.size}")
        val total = Tables(s, d, "embeddings")
          .filter(col("vec_id") >= 50).count()
        require(batches.map(_._2).sum == total,
          s"batches must cover the train corpus exactly once: " +
            s"${batches.map(_._2).sum} verdicts vs $total train vectors")
        val verdicts = graft.streaming.Streams.readMergeTable(s, out)
          .select("vec_id", "max_sim", "nearest_eval", "contaminated")
        require(verdicts.select("vec_id").distinct().count() == total,
          "a vector must get exactly one verdict across all batches")
        verdicts.orderBy("vec_id")
      },
      Some(Dedup.decontamSemSql)),

    // STREAMING per-group RESERVOIR in the gate: three crawl drops
    // stream through Streams.runReservoir, the k-min-hash sample
    // re-folded per batch — mergeability (min-k of a union = min-k of
    // per-part min-k's) keeps the carried state at O(groups × k) rows
    // FOREVER, asserted per batch in-row. The deterministic salt makes
    // the maintained sample bit-identical to the batch computation:
    // oracle shared VERBATIM with q_agg_reservoir.
    Q("q_stream_live_reservoir",
      (s, d) => {
        val (st, sizes) = graft.streaming.Streams.runReservoir(
          s, stagedDocModSplit(s, d))
        require(sizes.size == 3,
          s"the staged replay must deliver exactly 3 micro-batches, got ${sizes.size}")
        val nGroups = Tables(s, d, "documents")
          .select("source").distinct().count()
        sizes.foreach(n => require(n <= nGroups * 3,
          s"reservoir state must stay at O(groups x k): $n rows for $nGroups groups"))
        val out = st.withColumn("rank", row_number().over(
            Window.partitionBy("source").orderBy(asc("hk"), asc("doc_id")))
            .cast("long"))
          .select(col("source"), col("rank"), col("doc_id"))
          .orderBy("source", "rank")
          .localCheckpoint()
        graft.plans.Iterate.release(st)
        out
      },
      Some(Relational.reservoirSql)),

    // LIVE drift monitor in the gate: three event "shipments" stream
    // through Streams.runDriftMonitor and each is PSI-scored on arrival
    // against the broadcast full-corpus reference profile — the
    // distribution gate that fires the batch an upstream break lands.
    // Zero cross-batch state (reference static, batches self-contained);
    // the staged mod-3 split gives the oracle explicit batch boundaries
    // to restate, and the band expression is Curation.psiBandSql shared
    // VERBATIM with the batch drift row.
    Q("q_stream_live_drift",
      (s, d) => {
        val out = graft.GraftSession
          .tempDirCleanedOnExit("graft-drift-out").toString + "/res"
        // full-corpus reference profile on the complete (type × band) grid
        val e = Tables(s, d, "events")
          .select(col("event_type"), expr(Curation.psiBandSql).as("band"))
        val counts = e.groupBy("event_type", "band").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val tot = counts.groupBy("event_type").agg(sum("c").as("n"))
        val ref = counts.select("event_type").distinct()
          .crossJoin(s.range(10).select(col("id").as("band")))
          .join(counts, Seq("event_type", "band"), "left")
          .join(tot, "event_type")
          .select(col("event_type"), col("band"),
            ((coalesce(col("c"), lit(0L)) + 0.5) / (col("n") + 5.0)).as("p_ref"))
        val batches = graft.streaming.Streams.runDriftMonitor(
          s, stagedModSplit(s, d), ref, out, Curation.psiBandSql)
        require(batches.size >= 3,
          s"the staged replay must deliver 3 shipments, got ${batches.size}")
        graft.plans.Iterate.release(counts)
        graft.streaming.Streams.readMergeTable(s, out)
          .select("batch_id", "event_type", "n_batch", "psi", "drifted")
          .orderBy("batch_id", "event_type")
      },
      Some(s"""WITH e AS (SELECT event_id % 3 AS batch_id, event_type,
                ${Curation.psiBandSql} AS band FROM events),
              rcounts AS (SELECT event_type, band, COUNT(*) AS c
                FROM e GROUP BY 1, 2),
              rtot AS (SELECT event_type, SUM(c) AS n FROM rcounts GROUP BY 1),
              grid AS (SELECT DISTINCT event_type, b.band FROM rcounts
                CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS band) b),
              ref AS (SELECT g.event_type, g.band,
                  (COALESCE(rc.c, 0) + 0.5) / (rt.n + 5.0) AS p_ref
                FROM grid g
                LEFT JOIN rcounts rc ON rc.event_type = g.event_type
                  AND rc.band = g.band
                JOIN rtot rt ON rt.event_type = g.event_type),
              bcounts AS (SELECT batch_id, event_type, band, COUNT(*) AS c
                FROM e GROUP BY 1, 2, 3),
              btot AS (SELECT batch_id, event_type, SUM(c) AS n
                FROM bcounts GROUP BY 1, 2),
              scored AS (SELECT bt.batch_id, r.event_type, bt.n,
                  r.p_ref,
                  (COALESCE(bc.c, 0) + 0.5) / (bt.n + 5.0) AS p_cur
                FROM ref r
                JOIN btot bt ON bt.event_type = r.event_type
                LEFT JOIN bcounts bc ON bc.batch_id = bt.batch_id
                  AND bc.event_type = r.event_type AND bc.band = r.band)
              SELECT batch_id, event_type,
                CAST(MIN(n) AS BIGINT) AS n_batch,
                ROUND(SUM((p_cur - p_ref) * LN(p_cur / p_ref)), 6) AS psi,
                ROUND(SUM((p_cur - p_ref) * LN(p_cur / p_ref)), 6) > 0.1 AS drifted
              FROM scored GROUP BY 1, 2
              ORDER BY batch_id, event_type""")),

    // CHANGE DATA FEED in the gate: merge a batch of updates + one
    // brand-new key into the bucketed table, then read the row-level
    // changes between the two versions from the LOG's file diff alone —
    // only rewritten bucket files are opened, and the unchanged rows
    // they carry cancel in the content diff, so the feed is exactly the
    // 3 updates + 1 insert regardless of bucket width. Oracle: the
    // update spec joined against the base aggregate (a key present in
    // the base types as update, absent as insert).
    Q("q_merge_changes",
      (s, d) => {
        import s.implicits._
        val buckets = 4
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergecdf").toString
        val base = Tables(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
          .localCheckpoint()
        graft.streaming.MergeTable.load(s, table, base, "user_id", buckets)
        val upd = ((1 to 3).map(k => (k.toLong * 10, -k.toLong, -k.toDouble)) :+
          ((1000000000L, 0L, 0.0))).toDF("user_id", "n_events", "total")
        graft.streaming.MergeTable.mergeInto(s, table, upd, "user_id", buckets)
        graft.streaming.MergeTable.changes(s, table, "user_id", 0L, 1L)
          .select(col("user_id"), col("n_events"),
            round(col("total"), 2).as("total"), col("_change"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total
                         FROM events GROUP BY user_id),
              k AS (SELECT unnest(generate_series(1, 3)) AS k),
              upd AS (SELECT k * 10 AS user_id, -k AS n_events,
                        -CAST(k AS DOUBLE) AS total FROM k
                      UNION ALL SELECT 1000000000, 0, 0.0)
              SELECT u.user_id, CAST(u.n_events AS BIGINT) AS n_events,
                ROUND(u.total, 2) AS total,
                CASE WHEN b.user_id IS NULL THEN 'insert' ELSE 'update' END AS _change
              FROM upd u LEFT JOIN b ON b.user_id = u.user_id
              ORDER BY u.user_id""")),

    // FILE SKIPPING in the gate — the full Delta-shaped metadata-prune
    // story in one table's life (VERDICT r8 item 5): six appends (3
    // hour-windows × purchase/rest) each record an `hr` interval in the
    // commit entry AND an `event_type` bloom sidecar; then OPTIMIZE
    // ZORDER BY (hr, ug) rewrites the table recording the z-curve
    // interval PLUS plain per-column intervals per chunk file. The row
    // proves, in the gate: (1) a TWO-PREDICATE scan (hr range + bloom
    // point) opens exactly the one append's files — strictly fewer than
    // either single-predicate prune; (2) after the z-order rewrite, the
    // 2-D box scan prunes on the curve while a plain hr range scan
    // still prunes on the same files' per-column stats — interval
    // kinds COEXIST in one snapshot because every interval is keyed by
    // the column (or curve) it describes, so none is ever read against
    // the wrong predicate; (3) bloom sidecars folded across the rewrite
    // never lose a row. Oracle: the plain 3-predicate SQL over events.
    Q("q_merge_skipping",
      (s, d) => {
        val buckets = 2
        val bits = 5
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergeskip").toString
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
        val rows = Tables(s, d, "events")
          .select(col("event_id").as("k"),
            hour(col("ts")).cast("long").as("hr"),
            pmod(col("user_id"), lit(32)).cast("long").as("ug"),
            col("event_type"), col("value"))
        var vOf = Map.empty[(Int, Boolean), Long]
        for (w <- 0 until 3; p <- Seq(true, false)) {
          val part = rows.filter(col("hr") >= w * 8 && col("hr") < (w + 1) * 8 &&
            (if (p) col("event_type") === "purchase"
             else col("event_type") =!= "purchase"))
          vOf += (w, p) -> graft.streaming.MergeTable.appendWithBloom(
            s, table, part, "k", buckets, "event_type", statsCols = Seq("hr"))
        }
        val full = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        val hrScan = graft.streaming.MergeTable
          .scanRange(s, table, "hr", 16L, 23L).inputFiles.length
        val typeScan = graft.streaming.MergeTable
          .scanPoint(s, table, "event_type", lit("purchase")).inputFiles.length
        require(hrScan < full && typeScan < full,
          s"each single prune must drop files: $full -> hr $hrScan, type $typeScan")
        val both = graft.streaming.MergeTable.scanWhere(s, table,
          Seq(("hr", 16L, 23L)), Some(("event_type", lit("purchase"))))
        val bothFiles = both.inputFiles
        val wantV = vOf((2, true))
        require(bothFiles.nonEmpty && bothFiles.forall(_.contains(s"-v$wantV-")),
          s"the combined prune must open exactly the hr[16,24)×purchase " +
            s"append's files: ${bothFiles.mkString(",")}")
        require(bothFiles.length < hrScan && bothFiles.length < typeScan,
          "two predicates must prune strictly tighter than either alone")
        // Z-ORDER rewrite: curve + per-column intervals coexist with the
        // (bucket-folded) bloom sidecars in the same snapshot
        graft.streaming.MergeTable.optimizeZorder(
          s, table, "k", buckets, "hr", "ug", bits, chunks = 8)
        val fullZ = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        val box = graft.streaming.MergeTable.scanBox(
          s, table, "hr", "ug", 16L, 23L, 0L, 15L, bits)
        require(box.inputFiles.length < fullZ,
          s"z-order box prune must drop chunks: $fullZ -> ${box.inputFiles.length}")
        require(graft.streaming.MergeTable.scanRange(s, table, "hr", 0L, 7L)
            .inputFiles.length < fullZ,
          "plain column intervals must keep pruning on the z-ordered files")
        box.filter(col("event_type") === "purchase")
          .groupBy("ug")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
          .orderBy("ug")
      },
      Some("""WITH e AS (SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
                  user_id % 32 AS ug, event_type, value FROM events)
              SELECT ug, CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total
              FROM e WHERE hr BETWEEN 16 AND 23 AND ug BETWEEN 0 AND 15
                AND event_type = 'purchase'
              GROUP BY ug ORDER BY ug""")),

    // Row-level DELETE in the gate — the third lakehouse verb beside
    // upsert and append: dropping 3 keys rewrites only their hash
    // buckets (untouched buckets keep their exact files across the
    // commit, asserted), and the change data feed classifies exactly
    // those keys as `delete` from the log's file diff alone. Oracle:
    // the base aggregate minus the deleted keys.
    Q("q_merge_delete",
      (s, d) => {
        import s.implicits._
        val buckets = 4
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergedel").toString
        val base = Tables(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
          .localCheckpoint()
        graft.streaming.MergeTable.load(s, table, base, "user_id", buckets)
        val snap0 = graft.streaming.TxLog.snapshot(table)
        val del = Seq(2L, 6L, 10L).toDF("user_id") // all in bucket 2
        val (v1, touched) = graft.streaming.MergeTable.deleteKeys(
          s, table, del, "user_id", buckets)
        require(v1 == 1L && touched == Seq(2),
          s"3 keys of one bucket must rewrite exactly that bucket: $touched")
        val snap1 = graft.streaming.TxLog.snapshot(table)
        require(snap0.files.filterNot(_.startsWith("b2-")).toSet ==
          snap1.files.filterNot(_.startsWith("b2-")).toSet,
          "untouched buckets must keep their exact files across the delete")
        val feed = graft.streaming.MergeTable.changes(s, table, "user_id", 0L, 1L)
        require(feed.filter(col("_change") === "delete").count() == 3L &&
          feed.count() == 3L,
          "the CDF must classify exactly the 3 dropped keys as deletes")
        graft.streaming.Streams.readMergeTable(s, table)
          .select(col("user_id"), col("n_events"),
            round(col("total"), 2).as("total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total
              FROM events WHERE user_id NOT IN (2, 6, 10)
              GROUP BY user_id ORDER BY user_id""")),

    // BLOOM-SIDECAR POINT SKIPPING in the gate: five appends (one per
    // event type) each record a per-file bloom over event_type; a
    // point scan for 'purchase' must open strictly fewer files than
    // the table holds — with only the probed type's files (plus any
    // false positives, impossible here at 1 value/filter) surviving —
    // and still return exactly the plain filter's aggregate. The
    // membership complement of scanRange's (min, max) interval
    // skipping: a non-key categorical column gets file pruning too.
    Q("q_merge_bloom",
      (s, d) => {
        val buckets = 2
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergebloom").toString
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
        val e = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        Seq("click", "view", "purchase", "signup", "error").foreach { t =>
          graft.streaming.MergeTable.appendWithBloom(s, table,
            e.filter(col("event_type") === t), "user_id", buckets, "event_type")
        }
        val full = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        val scan = graft.streaming.MergeTable.scanPoint(
          s, table, "event_type", lit("purchase"))
        require(scan.inputFiles.length < full,
          s"bloom skipping must prune files: $full -> ${scan.inputFiles.length}")
        scan.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id ORDER BY user_id""")),

    // OPTIMIZE ZORDER BY in the gate: the table's live files are
    // rewritten clustered by the MORTON CODE of (hour, user-group), each
    // file's z-interval recorded in the commit entry, and a 2-D box scan
    // prunes files through the EXACT quadtree interval-vs-box test
    // (Zorder.intervalIntersectsBox — no false prunes by construction,
    // ZorderSpec proves it against brute force). One (lo, hi) long per
    // file thus skips on BOTH predicate columns at once — the
    // multi-dimensional half of the lakehouse maintenance pair beside
    // q_merge_compacted's bin-packing. The row asserts the prune opened
    // strictly fewer files than the table holds, then aggregates the
    // box; the oracle is the plain 2-predicate SQL over events.
    Q("q_merge_zorder",
      (s, d) => {
        val bits = 5
        val table = graft.GraftSession.tempDirCleanedOnExit("graft-mergezorder").toString
        val rows = Tables(s, d, "events")
          .select(col("event_id").as("k"),
            hour(col("ts")).cast("long").as("x"),
            pmod(col("user_id"), lit(32)).cast("long").as("y"),
            col("value"))
        graft.streaming.MergeTable.load(s, table, rows, "k", buckets = 2)
        graft.streaming.MergeTable.optimizeZorder(
          s, table, "k", buckets = 2, "x", "y", bits, chunks = 8)
        val full = graft.streaming.Streams.readMergeTable(s, table).inputFiles.length
        val scan = graft.streaming.MergeTable.scanBox(
          s, table, "x", "y", 6L, 17L, 8L, 23L, bits)
        require(scan.inputFiles.length < full,
          s"z-order skipping must prune files: $full -> ${scan.inputFiles.length}")
        scan.groupBy("y")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
          .orderBy("y")
      },
      Some("""WITH e AS (SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
                  user_id % 32 AS y, value FROM events)
              SELECT y, CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total
              FROM e WHERE x BETWEEN 6 AND 17 AND y BETWEEN 8 AND 23
              GROUP BY y ORDER BY y""")),

    // EVENT-TIME TIMERS in the gate — the remaining transformWithState
    // surface after the tws/tws_profile state rows: each user's
    // processor registers ONE timer at (first event + 8 h) and emits
    // only from handleExpiredTimer when the watermark passes it — the
    // count of events inside that first window. The ts-ordered staging
    // makes expiry deterministic (qualifying events always precede the
    // firing batch) and the sentinel batch pushes the final watermark
    // past every real timer without its own ever firing. Oracle: plain
    // per-user count within 8 h of the user's min ts.
    Q("q_stream_live_tws_timer",
      (s, d) => {
        val stage = stagedTimeSplit(s, d)
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          runLive(s,
            graft.streaming.Streams.firstWindowTransformWithState(
                graft.streaming.Streams.events(s, stage,
                  Map("maxFilesPerTrigger" -> "1")))
              .toDF("user_id", "n_first_window"),
            "append", Seq("user_id"), sizePaths = Seq(stage))
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""WITH m AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id)
              SELECT e.user_id,
                CAST(SUM(CASE WHEN e.ts <= m.t0 + INTERVAL 8 HOURS
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_first_window
              FROM events e JOIN m USING (user_id)
              GROUP BY e.user_id ORDER BY e.user_id""")),

    // Spark 4 transformWithState IN THE GATE: per-user totals as a
    // custom StatefulProcessor with typed ValueState in RocksDB — the
    // arbitrary-state operator API one step past
    // flatMapGroupsWithState (explicit lifecycle, named state
    // variables, TTL/timers available). Three range-split batches with
    // maxFilesPerTrigger=1 force the state to round-trip RocksDB across
    // micro-batches; update mode emits per batch, and the final state
    // per user is the max-count row. Oracle: the plain batch GROUP BY.
    Q("q_stream_live_tws",
      (s, d) => {
        val stage = stagedRangeSplit(s, d)
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val emitted = runLive(s,
            graft.streaming.Streams.totalsTransformWithState(
                graft.streaming.Streams.events(s, stage,
                  Map("maxFilesPerTrigger" -> "1")))
              .toDF("user_id", "n_events", "total"),
            "update", Seq("user_id"), sizePaths = Seq(stage))
          emitted.groupBy("user_id")
            .agg(max(col("n_events")).as("n_events"),
              max_by(col("total"), col("n_events")).as("t0"))
            .select(col("user_id"), col("n_events"), round(col("t0"), 2).as("total"))
            .orderBy("user_id")
            .localCheckpoint()
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // ... and the full typed-state surface of that API in one processor:
    // ValueState counter + ListState latest-3 event ids (commutative
    // keep-3-largest merge, arrival-order independent) + MapState
    // per-type counts — the named-state-variables upgrade over
    // flatMapGroupsWithState's single state slot. Same 3-batch RocksDB
    // round-trip staging; oracle recomputes all three state shapes as
    // plain batch aggregates.
    Q("q_stream_live_tws_profile",
      (s, d) => {
        val stage = stagedRangeSplit(s, d)
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val emitted = runLive(s,
            graft.streaming.Streams.profileTransformWithState(
                graft.streaming.Streams.events(s, stage,
                  Map("maxFilesPerTrigger" -> "1")))
              .toDF("user_id", "n_events", "n_types", "last3", "type_counts"),
            "update", Seq("user_id"), sizePaths = Seq(stage))
          emitted.groupBy("user_id")
            .agg(max(col("n_events")).as("n_events"),
              max_by(struct(col("n_types"), col("last3"), col("type_counts")),
                col("n_events")).as("fin"))
            .select(col("user_id"), col("n_events"), col("fin.n_types").as("n_types"),
              col("fin.last3").as("last3"), col("fin.type_counts").as("type_counts"))
            .orderBy("user_id")
            .localCheckpoint()
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""WITH r AS (SELECT user_id, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY event_id DESC) AS rn
                FROM events),
              l AS (SELECT user_id,
                  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS last3
                FROM r WHERE rn <= 3 GROUP BY user_id),
              tc AS (SELECT user_id, event_type, COUNT(*) AS c
                FROM events GROUP BY user_id, event_type),
              tl AS (SELECT user_id, COUNT(*) AS n_types,
                  string_agg(event_type || ':' || c, ',' ORDER BY event_type) AS type_counts
                FROM tc GROUP BY user_id),
              n AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
              SELECT n.user_id, n.n_events, tl.n_types, l.last3, tl.type_counts
              FROM n JOIN l USING (user_id) JOIN tl USING (user_id)
              ORDER BY user_id""")),

    // LIVE 3-step funnel via CHAINED stream-stream interval joins — two
    // stateful join operators in ONE streaming query (multi-stateful
    // append mode), the second keyed on event time carried through the
    // first's output. Inner joins emit on match, so a finite replay needs
    // no sentinels; the batch triple interval join oracles the result
    // set directly.
    Q("q_stream_live_funnel",
      (s, d) => runLive(s,
        graft.streaming.Streams.funnelMatches(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "append", Seq("user_id", "view_id", "click_id", "purchase_id"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id,
              p.event_id AS purchase_id
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = v.user_id AND c.ts >= v.ts
                AND c.ts <= v.ts + INTERVAL '8 hours'
              JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON p.user_id = c.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL '8 hours'
              ORDER BY c.user_id, view_id, click_id, purchase_id""")),

    // LIVE streaming with a CUSTOM typed aggregate as state: the
    // BitsetDistinct bitmap Aggregator running inside the streaming
    // aggregation state store (zero/reduce/merge across micro-batches) —
    // exact per-window distinct users with O(domain/8) state. Complete
    // mode like the other finite-source windowed rows; oracle is the
    // batch exact distinct.
    Q("q_stream_live_bitmap",
      (s, d) => runLive(s,
        graft.streaming.Streams.tumblingDistinctUsers(
          graft.streaming.Streams.events(s, s"$d/events.parquet")),
        "complete", Seq("wstart"), ntzCols = Seq("wstart"), sizePaths = Seq(s"$d/events.parquet")),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
              CAST(COUNT(DISTINCT user_id % 1024) AS BIGINT) AS n_users,
              COUNT(*) AS n_events
              FROM events GROUP BY wstart ORDER BY wstart""")),

    // LIVE streaming with the DURABLE file sink — the production shape the
    // memory-sink rows stand in for: parquet sink + checkpointLocation
    // gives exactly-once output via the sink's commit manifest (a killed
    // batch leaves uncommitted files the read path ignores), and the
    // checkpoint makes the query restartable with state intact
    // (StreamsSpec proves dedup state survives a stop/start across new
    // input). Declared output = the sink read BACK through the manifest,
    // so the gate checks the durable artifact, not the in-memory result.
    Q("q_stream_live_sink",
      (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft-sink")
        // the eager localCheckpoint owns the rows before the sink dir goes
        try {
          graft.streaming.Streams.drain(graft.streaming.Streams.dedup(
              graft.streaming.Streams.events(s, s"$d/events.parquet"))
            .select(col("user_id"), col("event_type"))
            .writeStream.format("parquet")
            .option("path", s"$base/out").option("checkpointLocation", s"$base/chk")
            .outputMode("append"))
          s.read.parquet(s"$base/out")
            .orderBy("user_id", "event_type").localCheckpoint()
        } finally graft.GraftSession.deleteTree(base.toFile): Unit
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // Ordered-funnel analysis (MATCH_RECOGNIZE-lite): per user, the
    // earliest view, the earliest click AT OR AFTER that view (within
    // 1 h), and the earliest purchase at or after that click (within
    // 1 h) — stage = how deep the user got. Each step is one filtered
    // equi-join on user + a min-aggregate: no per-user event sort, no
    // pattern automaton state; at 100 TB each step is a plain shuffle
    // join against an O(users) relation.
    Q("q_events_funnel",
      (s, d) => {
        val e = ev(s, d)
        def step(typ: String) = e.filter(col("event_type") === typ)
          .select(col("user_id"), col("ts"))
        val s1 = step("view").groupBy("user_id").agg(min("ts").as("t1"))
        val s2 = step("click").join(s1, Seq("user_id"))
          .filter(col("ts") >= col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 1 HOUR"))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val s3 = step("purchase").join(s2, Seq("user_id"))
          .filter(col("ts") >= col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 1 HOUR"))
          .groupBy("user_id").agg(min("ts").as("t3"))
        e.select("user_id").distinct()
          .join(s1, Seq("user_id"), "left")
          .join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .select(col("user_id"),
            (when(col("t3").isNotNull, 3L)
              .when(col("t2").isNotNull, 2L)
              .when(col("t1").isNotNull, 1L).otherwise(0L)).as("stage"),
            col("t1"), col("t2"), col("t3"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                          WHERE event_type = 'view' GROUP BY user_id),
              s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                     JOIN s1 ON s1.user_id = e.user_id
                     WHERE e.event_type = 'click' AND e.ts >= s1.t1
                       AND e.ts <= s1.t1 + INTERVAL '1 hour'
                     GROUP BY e.user_id),
              s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
                     JOIN s2 ON s2.user_id = e.user_id
                     WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
                       AND e.ts <= s2.t2 + INTERVAL '1 hour'
                     GROUP BY e.user_id)
              SELECT u.user_id,
                CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
                s1.t1, s2.t2, s3.t3
              FROM (SELECT DISTINCT user_id FROM events) u
              LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
              LEFT JOIN s3 USING (user_id)
              ORDER BY u.user_id""")),

    // streaming dedup (dropDuplicates state) as deterministic keep-first
    Q("q_stream_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
        val wo = w.orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .withColumn("rn", row_number().over(wo))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id").as("first_id"), col("cnt"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id AS first_id, cnt FROM (
                SELECT user_id, event_type, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
                FROM events) t
              WHERE rn = 1 ORDER BY user_id, event_type"""))
  )
}
