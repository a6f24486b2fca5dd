package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode}
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
    * so cluster behaviour is unchanged. The bytes-per-partition knob is
    * [[graft.GraftConf.streamStateBytesPerPartition]]. */
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
    val bytes = paths.map(bytesOf).sum
    math.min(cap.toLong,
      math.max(stateMinPartitions.toLong, (bytes + per - 1) / per)).toInt
  }

  /** Floor for [[statePartitions]]' derived count — keeps a minimum of
    * parallelism headroom however small the staged gate inputs are. */
  private[graft] val stateMinPartitions = 8

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

  /** Start `writer`'s query, run it until every input available at start
    * has gone through its sink, then stop it — the one finite-stream
    * drain. */
  private[graft] def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** [[drain]] of `df` as a `foreachBatch` query in `mode`. */
  private def drain(df: DataFrame, mode: OutputMode)(
      batchFn: (Dataset[Row], Long) => Unit): Unit =
    drain(df.writeStream.outputMode(mode).foreachBatch(batchFn))

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
    * forever at O(batch + types × bands) per trigger. Emits one
    * (batch_id, event_type, n_batch, psi, drifted) row per type PRESENT
    * in the batch — including types ABSENT from the reference profile (a
    * brand-new upstream type is the clearest distribution break the
    * monitor exists to catch): those emit with psi = NULL and
    * drifted = true instead of being silently dropped by the join. The
    * verdicts are one TxLog table at `outDir`, each batch committed
    * through [[TxLog.commitBatch]] (a replayed batch is skipped). Returns
    * the batch ids this call committed. */
  def runDriftMonitor(spark: SparkSession, eventsPath: String,
      refShares: DataFrame, outDir: String,
      bandSql: String, psiThreshold: Double = 0.1): Seq[Long] = {
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ref = refShares.localCheckpoint() // (event_type, band, p_ref) grid
    drain(events(spark, eventsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      TxLog.commitBatch(outDir, batchId, TxLog.fingerprint(batch)) { snap =>
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
        val verdicts = known.unionByName(novel).observe(obs, count(lit(1)).as("rows"))
        val adds = writeCells(outDir, verdicts, Seq.empty, snap.version + 1)
        graft.plans.Iterate.release(counts)
        TxLog.Staged(adds, Seq.empty, verdicts.schema) { _ =>
          stats.put(batchId,
            obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)): Unit
        }
      }: Unit
    }
    graft.plans.Iterate.release(ref)
    import scala.jdk.CollectionConverters._
    stats.keySet().asScala.toSeq.sorted
  }

  /** Streaming DECONTAMINATION at ingest: every arriving train vector is
    * scored against the BROADCAST eval set (exact per-vector argmax — a
    * hygiene scan that can miss is not hygiene). No cross-batch state:
    * the eval set is static driver-side input and each batch is
    * self-contained, so a crawl ingest runs this forever at O(batch ×
    * eval) per trigger. The verdicts are one TxLog table at `outDir`,
    * each batch committed through [[TxLog.commitBatch]] (a replayed
    * batch is skipped and re-counts nothing). Returns (batchId, rows) per
    * batch this call committed. */
  def runDecontamIngest(spark: SparkSession, vecsPath: String,
      evalVecs: DataFrame, outDir: String,
      simThr: Double = 0.30): Seq[(Long, Long)] = {
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val ev = evalVecs
      .select(col("vec_id").as("eval_id"), col("embedding").as("eemb"))
      .localCheckpoint()
    drain(embeddings(spark, vecsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      TxLog.commitBatch(outDir, batchId, TxLog.fingerprint(batch)) { snap =>
        // accounting count observed during the WRITE itself (the
        // write is the verdicts' only consumer)
        val obs = org.apache.spark.sql.Observation()
        val verdicts = batch.crossJoin(broadcast(ev))
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
        TxLog.Staged(writeCells(outDir, verdicts, Seq.empty, snap.version + 1),
            Seq.empty, verdicts.schema) { _ =>
          stats.put(batchId,
            obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)): Unit
        }
      }: Unit
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

  /** UPSERT sink — the "streaming aggregation maintains a serving table"
    * deployment: per-user totals of ONE call, key-replaced into a
    * [[TxLog]]-backed MERGE table. Each call
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

  /** One micro-batch's probe IO accounting: how many files the store's
    * snapshot held when the batch probed it, how many the pruned probe
    * actually opened, and how many (band, sig_bucket) cells the batch's
    * signatures touched (the prune key set — bounded by numBands ×
    * sigBuckets, NOT by batch size). */
  final case class NearDupBatchStat(batchId: Long, storeFiles: Long,
      probeFiles: Long, cells: Long)

  // ---- the streaming stores' file layout. Every store is a TxLog table
  // whose files sit in one `key=value/` directory per key of their cell
  // (none for an unkeyed table) and are named `v<version>-<kind>-<part>`:
  // the version is the commit that added the file, and the kind is `i`
  // for a batch's own files or `f` for a fold's. Readers pick a cell's
  // files by name from the snapshot, with no directory listing.

  private def storeFile(keys: Seq[String], version: Long, kind: Char)(
      cell: Seq[Int], part: String): String =
    keys.zip(cell).map { case (k, v) => s"$k=$v/" }.mkString + s"v$version-$kind-$part"

  private def cellOf(file: String): Seq[Int] =
    file.split('/').toSeq.init.map(d => d.substring(d.indexOf('=') + 1).toInt)

  /** The commit that added a store file, as (version, is a fold). */
  private def commitOf(file: String): (Long, Boolean) = {
    val parts = file.split('/').last.split('-')
    (parts(0).stripPrefix("v").toLong, parts(1) == "f")
  }

  /** The commits whose files a store's snapshot holds, as (version, is a
    * fold), ascending. */
  private[graft] def storeCommits(table: String): Seq[(Long, Boolean)] =
    TxLog.snapshot(table).files.map(commitOf).distinct.sorted

  /** Stage `df` into `table` as commit `version`'s files of `kind`: one
    * file per cell of `keys` (one in all when `keys` is empty). The
    * files keep the key columns. Returns the staged file names. */
  private def writeCells(table: String, df: DataFrame, keys: Seq[String],
      version: Long, kind: Char = 'i'): Seq[String] = {
    val copies = keys.map("__" + _)
    val keyed = keys.zip(copies).foldLeft(df) { case (d, (k, c)) => d.withColumn(c, col(k)) }
    MergeTable.writeParts(table, keyed, copies, storeFile(keys, version, kind))
      .values.toSeq.sorted
  }

  /** A keyed store's snapshot read with its `key=value/` directories as
    * partition columns, so a filter on a key opens only the matching
    * cells' files. The store must hold files. */
  private def bucketView(spark: SparkSession, table: String): DataFrame = {
    val snap = TxLog.snapshot(table)
    spark.read.schema(snap.schema.get).option("basePath", table)
      .parquet(snap.files.map(f => s"$table/$f"): _*)
  }

  /** Tiered fold of an append store (the near-dup band store, the ANF
    * edge store), checked on EVERY batch — an empty or replay-skipped
    * batch at a fold boundary still folds, because the fold depends only
    * on the store. At each `compactEvery` boundary the files of the
    * batches appended since the last fold fold into one new fold, an
    * O(recent batches) rewrite, NOT O(corpus); once `maxFolds` folds are
    * live, everything folds (amortized O(corpus / (compactEvery ×
    * maxFolds)) per batch). The fold is one commit that adds the folded
    * files and removes their sources, so a crash leaves only invisible
    * orphans; its distinct() is the one place cross-batch duplicate rows
    * retire. */
  private def foldStore(spark: SparkSession, table: String, batchId: Long,
      compactEvery: Int, maxFolds: Int, keys: Seq[String]): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      TxLog.commitRetrying(table) { snap =>
        def commits(files: Seq[String]): Int = files.map(commitOf).distinct.size
        val (folds, singles) = snap.files.partition(commitOf(_)._2)
        val toFold =
          if (commits(folds) >= maxFolds) snap.files
          else if (commits(singles) > 1) singles
          else Seq.empty
        if (commits(toFold) < 2) Left(())
        else {
          val rows = TxLog.read(spark, table, snap, toFold).distinct()
          Right(TxLog.Staged(writeCells(table, rows, keys, snap.version + 1, 'f'),
            toFold, rows.schema)(TxLog.retain(table, _)))
        }
      }

  /** A document batch's band signatures WITH the store partition key:
    * `sig_bucket = xxhash64(band_sig) mod sigBuckets`. One formula,
    * shared by the ingest loop and any post-hoc probe — a prober using
    * a different bucket width would silently miss every match. */
  def nearDupSigs(df: DataFrame, sigBuckets: Int = 16): DataFrame =
    graft.operators.Dedup.bandsOf(df)
      .withColumn("sig_bucket",
        pmod(xxhash64(col("band_sig")), lit(sigBuckets.toLong)))

  /** A store's LAYOUT pin, the file `storeDir/_layout`. Bucket widths
    * are layout, not per-call knobs: a writer or prober at a different
    * width addresses partitions that mostly do not exist and silently
    * misses every match. So the first open writes `layout` beside the
    * data, and every reopen must ask for the same one: a mismatch fails
    * loudly instead of declaring dups unique or reading the wrong
    * buckets. `layout = None` only reads. Returns the pinned layout. */
  private[graft] def pinLayout(storeDir: String, store: String,
      layout: Option[String]): Option[String] = {
    val f = new java.io.File(storeDir, "_layout")
    val stored =
      if (f.exists()) Some(new String(java.nio.file.Files.readAllBytes(f.toPath)).trim)
      else None
    (stored, layout) match {
      case (Some(was), Some(asked)) =>
        require(was == asked,
          s"$store $storeDir layout mismatch: built with '$was', refusing to " +
            s"operate on it at '$asked' — bucket widths are fixed at creation, " +
            "and probes across widths silently miss every match")
      case (None, Some(asked)) =>
        java.nio.file.Files.write(f.toPath, asked.getBytes): Unit
      case _ =>
    }
    stored.orElse(layout)
  }

  /** PRUNED probe of a band store: given a delta's band signatures (with
    * `sig_bucket`), open ONLY the store's snapshot files of the delta's
    * distinct (band, sig_bucket) cells, picked by file name (cells ≤
    * numBands × sigBuckets, a constant independent of both batch and
    * store size). A batch's own signatures are invisible until its
    * commit, so a retried batch never meets them. Returns (per-doc
    * match aggregate, files the probe opened, files the store's
    * snapshot holds, distinct cells probed) — the pruned ⊂ store
    * evidence the caller asserts. */
  def probeNearDupStore(spark: SparkSession, storeDir: String,
      sigs: DataFrame,
      knownCells: Option[Seq[(Long, Long)]] = None): (DataFrame, Long, Long, Long) = {
    val snap = TxLog.snapshot(storeDir)
    // the ingest loop observes the cell set during the sigs pin
    // (optimization r15 §12) and passes it in; ad-hoc probers pay the
    // one distinct-collect job here
    val cells = knownCells.getOrElse(
      sigs.select(col("band"), col("sig_bucket"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val wanted = cells.map { case (band, bucket) => Seq(band.toInt, bucket.toInt) }.toSet
    val files = snap.files.filter(f => wanted(cellOf(f)))
    val storeFiles = snap.files.size.toLong
    if (files.isEmpty) {
      val empty = spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_corpus_matches"),
          lit(null).cast("long").as("first_match"))
      (empty, 0L, storeFiles, cells.length.toLong)
    } else {
      val pruned = TxLog.read(spark, storeDir, snap, files)
      val matches = sigs.as("n").join(pruned.as("c"),
          col("n.band") === col("c.band") &&
            col("n.band_sig") === col("c.band_sig"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(countDistinct(col("c.doc_id")).as("n_corpus_matches"),
          min(col("c.doc_id")).as("first_match"))
      (matches, files.size.toLong, storeFiles, cells.length.toLong)
    }
  }

  /** STREAMING NEAR-DUP INGEST — the crawl front door that a batch
    * re-dedup never is: each micro-batch of documents (1) computes its
    * MinHash band signatures with the exact batch arithmetic
    * ([[graft.operators.Dedup.bandsOf]]) plus a `sig_bucket =
    * xxhash64(band_sig) mod sigBuckets` cell key, (2) PROBES the band
    * store through [[probeNearDupStore]] — opening only the cells the
    * batch's signatures hash to, never the whole store, (3) commits its
    * per-doc verdicts to the `outDir` table, (4) then commits its own
    * signatures to the `storeDir` table, one file per cell, and (5)
    * folds the store tiered LSM-style every `compactEvery` batches
    * ([[foldStore]]). `sigBuckets` is the IVF-cell-count analogue: the
    * probe reads at most `min(1, batch_distinct_sigs / (numBands ×
    * sigBuckets))` of the store, so size it well above the expected
    * per-batch signature count — 16 suits the gate's corpus-sized
    * batches; a production crawl with ~10³-sig micro-batches wants ≥4096
    * (measured in examples/NearDupIngestScale). Both commits go through
    * [[TxLog.commitBatch]]: a batch the store records is skipped whole,
    * and one that crashed between its two commits recommits only its
    * signatures. Returns per-batch probe IO stats. */
  def runNearDupIngest(spark: SparkSession, docsPath: String,
      storeDir: String, outDir: String, sigBuckets: Int = 16,
      compactEvery: Int = 0, maxFolds: Int = 8): Seq[NearDupBatchStat] = {
    val stats = new java.util.concurrent.ConcurrentHashMap[Long, NearDupBatchStat]()
    Seq(storeDir, outDir).foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    pinLayout(storeDir, "band store", Some(s"sigBuckets=$sigBuckets")): Unit
    drain(documents(spark, docsPath, Map("maxFilesPerTrigger" -> "1")),
        OutputMode.Append()) { (batch, batchId) =>
      val fp = TxLog.fingerprint(batch)
      if (!TxLog.recordsBatch(storeDir, TxLog.snapshot(storeDir), batchId, fp)) {
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
          probeNearDupStore(spark, storeDir, sigs, knownCells = Some(batchCells))
        TxLog.commitBatch(outDir, batchId, fp) { snap =>
          val verdicts = batch.select(col("doc_id"))
            .join(matches, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
              col("first_match"),
              col("first_match").isNotNull.as("is_dup"))
          TxLog.Staged(writeCells(outDir, verdicts, Seq.empty, snap.version + 1),
            Seq.empty, verdicts.schema)(_ => ())
        }: Unit
        // probe-then-append: a batch must never match ITSELF (the
        // incremental contract — within-delta dups are a different
        // query), so the store commit strictly follows the probe
        TxLog.commitBatch(storeDir, batchId, fp) { snap =>
          TxLog.Staged(writeCells(storeDir, sigs, Seq("band", "sig_bucket"), snap.version + 1),
            Seq.empty, sigs.schema)(_ => ())
        }: Unit
        graft.plans.Iterate.release(sigs)
        stats.put(batchId,
          NearDupBatchStat(batchId, storeFiles, probeFiles, cells)): Unit
      }
      foldStore(spark, storeDir, batchId, compactEvery, maxFolds, Seq("band", "sig_bucket"))
    }
    import scala.jdk.CollectionConverters._
    stats.values.asScala.toSeq.sortBy(_.batchId)
  }

  /** The register store's committed view — (v, k, mask, vb), vb a
    * partition column ([[bucketView]]) so the delta rounds' bucket
    * filters open only those buckets' files. */
  private[graft] def anfRegView(spark: SparkSession, regDir: String): DataFrame =
    bucketView(spark, regDir).select("v", "k", "mask", "vb")

  /** STREAMING ANF MAINTENANCE — the graph summary kept current over a
    * live edge stream, DELTA-FRONTIER shape (the reference's active-set
    * superstep contract, `graph/.../GraphJobRunner.java:256-313`). Two
    * TxLog tables, each committing every batch through
    * [[TxLog.commitBatch]]:
    *
    *   - the EDGE store (`storeDir`) is append-only: each batch commits
    *     its OWN deduped edges, one file per dst bucket (`db =
    *     pmod(hash(dst), nB)`), and the propagation probe reads only
    *     the frontier's buckets ([[bucketView]]); it folds tiered
    *     LSM-style every `compactEvery` batches ([[foldStore]]);
    *   - the REGISTER store (`regDir`) holds one file set per vb bucket:
    *     a batch's commit adds the merged content of only the buckets
    *     its upserts touch and removes their old files, so a crash
    *     anywhere before it leaves the previous view intact;
    *   - a REPLAYED batch the register store records is skipped whole;
    *     one that crashed after its edge commit recommits only its
    *     registers;
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
    * stats, per-batch edge-store live file counts measured AFTER that
    * batch's fold). */
  def runAnfMaintain(spark: SparkSession, edgesPath: String,
      options: Map[String, String] = Map("maxFilesPerTrigger" -> "1"),
      storeDir0: Option[String] = None, regDir0: Option[String] = None,
      dstBuckets: Int = graft.operators.Graph.anfDstBuckets,
      regBuckets: Int = graft.operators.Graph.anfRegBuckets,
      compactEvery: Int = 8, maxFolds: Int = 8)
      : (DataFrame, Seq[Int], Seq[Seq[graft.operators.Graph.AnfDeltaRound]],
         Seq[Long]) = {
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
    pinLayout(storeDir, "ANF store", Some(s"db=$dstBuckets,vb=$regBuckets")): Unit
    val nB = dstBuckets
    val rB = regBuckets
    // resume: the store already holds a committed view (the restart
    // path — committed batches will replay and skip)
    var seeded = TxLog.snapshot(regDir).files.nonEmpty
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val roundStats =
      scala.collection.mutable.ArrayBuffer.empty[Seq[graft.operators.Graph.AnfDeltaRound]]
    val storeFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(src, OutputMode.Append()) { (batch, batchId) =>
      val fp = TxLog.fingerprint(batch)
      if (TxLog.recordsBatch(regDir, TxLog.snapshot(regDir), batchId, fp)) {
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
        // the batch's edges, one file per dst bucket
        TxLog.commitBatch(storeDir, batchId, fp) { snap =>
          val rows = dE.withColumn("db", pmod(hash(col("dst")), lit(nB)))
          TxLog.Staged(writeCells(storeDir, rows, Seq("db"), snap.version + 1),
            Seq.empty, rows.schema)(_ => ())
        }: Unit
        // the register commit: `rows` hold the merged content of the
        // `touched` buckets and replace those buckets' files
        def commitRegisters(rows: DataFrame, touched: Set[Int]): Unit =
          TxLog.commitBatch(regDir, batchId, fp) { snap =>
            val withVb = rows.withColumn("vb", pmod(hash(col("v")), lit(rB)))
            val adds =
              if (touched.isEmpty) Seq.empty
              else writeCells(regDir, withVb, Seq("vb"), snap.version + 1)
            TxLog.Staged(adds, snap.files.filter(f => touched(cellOf(f).head)),
              withVb.schema)(_ => ())
          }: Unit
        if (!seeded) { // cold start on the first batch's own edges
          val (m0, r, _, curve) = graft.operators.Graph.anfSketch(dE)
          commitRegisters(m0, (0 until rB).toSet)
          // pinned returns are dead once the store holds them — the
          // per-round curve included (one V×(rounds+1) checkpoint)
          Seq(m0, curve).foreach(graft.plans.Iterate.release)
          seeded = true
          rounds += r
          roundStats += Seq.empty: Unit
        } else {
          val base = anfRegView(spark, regDir)
          val acc = bucketView(spark, storeDir).select("src", "dst", "db")
          val (up, r, st) = graft.operators.Graph.anfDeltaRows(base, acc, dE,
            dstBuckets = nB, regBuckets = rB)
          // one narrow collect serves BOTH the emptiness gate and the
          // touched-bucket set (every upsert row has a bucket, so bks
          // nonEmpty iff up nonEmpty)
          val bks = up.select(pmod(hash(col("v")), lit(rB)).as("vb"))
            .distinct().collect().map(_.getInt(0)).toSeq
          // the touched buckets' survivors merged with the new rows, in
          // fresh files — the write never replaces the files it reads
          commitRegisters(base.filter(col("vb").isin(bks: _*))
            .select("v", "k", "mask")
            .join(up.select("v", "k"), Seq("v", "k"), "left_anti")
            .unionAll(up), bks.toSet)
          graft.plans.Iterate.release(up)
          rounds += r
          roundStats += st: Unit
        }
        graft.plans.Iterate.release(dE)
      }
      }
      foldStore(spark, storeDir, batchId, compactEvery, maxFolds, Seq("db"))
      storeFiles += TxLog.snapshot(storeDir).files.size.toLong: Unit
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
