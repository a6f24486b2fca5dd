package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s.{JArray, JField, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The ONE storage primitive the TxLog commit protocol needs: atomically
  * publish `content` at `target` IF AND ONLY IF nothing exists there,
  * returning whether this writer won. Everything else in the protocol
  * (JSON entries, log replay, snapshot isolation, vacuum) is plain reads
  * and writes of immutable files, so porting the table format to a new
  * store means implementing exactly this method:
  *
  *   - POSIX / HDFS: stage + hard link (below) or `create(..., CREATE_NEW)`;
  *   - S3: conditional PUT with `If-None-Match: *`;
  *   - GCS: PUT with `x-goog-if-generation-match: 0`;
  *   - ABFS: create with ETag `If-None-Match: *`;
  *   - anything without conditional writes: a DynamoDB-style lock table
  *     keyed by (table, version) — the Delta-on-S3 commit-service shape.
  *
  * The contract is strict: on `false` the target was ALREADY committed by
  * another writer and this writer's content must not be visible anywhere.
  */
trait CommitPrimitive {
  def createExclusive(target: Path, content: Array[Byte]): Boolean
}

/** Minimal log-based transactional table format (the lake-scale MERGE
  * sink the upsert rows defer to): a table is a directory of immutable
  * parquet part files plus a `_txlog/` of versioned JSON commit entries
  * `<v>.json`, each with the fields:
  *
  *   - `version`: the entry's version (consecutive from 0);
  *   - `adds`, `removes`: data file names relative to the table root;
  *   - `schema`: the TABLE's schema after this commit (absent from
  *     entries written before the field existed);
  *   - `stats` (optional): per-file, per-column (min, max) intervals;
  *   - `batch` (optional): the replay record of the streaming
  *     micro-batch the commit lands (see [[commitBatch]]);
  *   - `ts`: the writer's commit wall-clock time.
  *
  * Schema rule: a commit's schema is the previous version's schema plus
  * every column of the added files it does not have yet, appended in
  * order of first appearance; columns are never dropped, so a file
  * missing a column reads it as null. An added column whose type
  * differs from the table's column of the same name fails the commit.
  * An entry without `schema` (written before the field existed) puts the
  * table on parquet footer inference (`mergeSchema`) for that version
  * and every later one: the log cannot vouch for those files' columns. A
  * checkpoint `<v>.checkpoint.json` holds `{version, files[], schema,
  * stats, batches}` of the replayed snapshot. Entries and checkpoints
  * are read and written through one JSON codec, so any file name and
  * batch fingerprint round-trips; a stats column name must not hold `|`.
  *
  * The CURRENT table state is the log replay — data files are never
  * read unless a committed entry references them, which gives:
  *
  *   - **atomic commits**: an entry is published through a
  *     [[CommitPrimitive]] (create-exclusive), so concurrent writers get
  *     optimistic-concurrency conflicts instead of lost updates;
  *   - **crash safety**: a writer dying after writing data files but
  *     before the commit leaves ORPHANS that no reader ever sees;
  *     [[vacuum]] sweeps them once they age past the in-flight window;
  *   - **snapshot isolation + time travel**: [[snapshot]] replays the
  *     log to any version; readers pin a file set, never a directory
  *     listing of mutable state.
  *
  * This is deliberately the smallest shape of the Delta/Iceberg commit
  * protocol that the engine's streaming upsert needs — single-table,
  * JSON entries, last-writer-wins per key via full-state rewrite. The
  * reference's own sink story is a fixed output format per job
  * (`core/src/main/java/org/apache/hama/bsp/FileOutputFormat.java`);
  * versioned commits are the engine extension a serving table requires.
  */
object TxLog {

  /** `stats` maps a live file to PER-COLUMN (min, max) intervals the
    * committing writer recorded — the Delta/Iceberg-style file-skipping
    * metadata. Keying intervals by COLUMN NAME (not one anonymous slot
    * per file) is what lets appends with different stats columns,
    * Z-ORDER's curve intervals, and plain column intervals coexist in
    * one table's commits without a reader ever interpreting an interval
    * against the wrong column (ADVICE r8: a (0,23) hour interval read
    * as a z-interval can prune a file whose rows match — silent row
    * loss). A scan prunes only on intervals recorded FOR ITS column; a
    * file without a matching interval is always kept (safe degradation
    * for pre-stats files, expired entries, and foreign columns).
    * `schema` is the table schema recorded at `version` (None for a log
    * written without one: readers then infer it from the files).
    * `batches` maps every micro-batch id a commit up to `version`
    * recorded to its input fingerprint ([[commitBatch]]). */
  final case class Snapshot(version: Long, files: Seq[String],
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      schema: Option[StructType] = None,
      batches: Map[Long, String] = Map.empty)

  /** Read `files` (table-relative, from `snap` or staged by a writer of
    * its table) with the schema the log recorded for `snap`, so building
    * the DataFrame runs no Spark job; a snapshot without a recorded
    * schema falls back to footer inference (`mergeSchema`, one job). */
  def read(spark: SparkSession, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    require(files.nonEmpty, s"no files to read in $table at version ${snap.version}")
    val paths = files.map(f => s"$table/$f")
    snap.schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** POSIX-local [[CommitPrimitive]]: stage a temp file beside the
    * target, then HARD-LINK it in — link creation is atomic and fails if
    * the target exists (a rename would silently replace it). */
  object LocalFs extends CommitPrimitive {
    def createExclusive(target: Path, content: Array[Byte]): Boolean = {
      val tmp = Files.createTempFile(target.getParent, ".tmp-", ".json")
      Files.write(tmp, content)
      try { Files.createLink(target, tmp); Files.deleteIfExists(tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); false
      }
    }
  }

  /** Data files younger than this survive [[vacuum]] by default: a
    * concurrent writer stages bucket/part files BEFORE its commit entry
    * lands (MergeTable.writeParts), so an age-blind
    * sweep could delete files an in-flight commit is about to reference.
    * 10 minutes comfortably exceeds any single commit's write window;
    * pass `minAgeMs = 0` only when no writer can be live (tests, offline
    * maintenance). */
  val defaultVacuumMinAgeMs: Long = 10 * 60 * 1000L

  private def logDir(table: String) = Paths.get(table, "_txlog")

  /** Committed versions present in the log, ascending. */
  def versions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.exists(d)) Seq.empty
    else Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.matches("\\d+\\.json"))
        .map(_.stripSuffix(".json").toLong)
        .toSeq.sorted
    }
  }

  /** Checkpoint versions present in the log, ascending. */
  def checkpointVersions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.exists(d)) Seq.empty
    else Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.matches("\\d+\\.checkpoint\\.json"))
        .map(_.stripSuffix(".checkpoint.json").toLong)
        .toSeq.sorted
    }
  }

  /** Replay the log up to (and including) `asOf` (latest if None),
    * starting from the newest CHECKPOINT at or below the target — so a
    * reader's cost is O(commits since last checkpoint), not O(all
    * versions), and entries older than a checkpoint may be aged out
    * (after which time travel below the checkpoint is gone, by
    * declared retention, and fails loudly here: a replay that does not
    * reach an `asOf` at or below the newest version is refused). */
  def snapshot(table: String, asOf: Option[Long] = None): Snapshot = {
    val all = versions(table)
    val cps = checkpointVersions(table)
    val upTo = asOf.fold(all)(a => all.filter(_ <= a))
    val base = asOf.fold(cps)(a => cps.filter(_ <= a)).lastOption
    val fromV = base.getOrElse(-1L)
    val replay = upTo.filter(_ > fromV)
    // versions are always committed consecutively, so the replayed
    // suffix must be exactly fromV+1, fromV+2, … — a hole means entries
    // were deleted past the newest checkpoint and replay would silently
    // skip commits; refuse instead
    require(replay == ((fromV + 1) to (fromV + replay.length)),
      s"log gap after checkpoint $fromV in $table: ${replay.mkString(",")}")
    val start = base.fold(Snapshot(-1L, Vector.empty))(v =>
      load(table, s"$v.checkpoint.json")(Codec.checkpoint))
    val entries = replay.map(v => load(table, s"$v.json")(Codec.entry))
    val replayed = entries.foldLeft(start) { (s, e) =>
      val gone = e.removes.toSet
      s.copy(version = e.version, files = s.files.filterNot(gone) ++ e.adds,
        stats = (s.stats -- gone) ++ e.stats, batches = s.batches ++ e.batch)
    }
    // each entry holds the whole schema: only the newest counts
    val snap = entries.lastOption.fold(replayed)(e => replayed.copy(schema = e.schema))
    val newest = (all ++ cps).foldLeft(-1L)(math.max)
    asOf.foreach(a => require(snap.version == a || a > newest,
      s"version $a of $table is not retained: the replay from checkpoint " +
        s"$fromV reaches ${snap.version}"))
    snap
  }

  /** Write a checkpoint of the CURRENT snapshot: one JSON file holding
    * the fully-replayed live file set and batch records at that
    * version. Idempotent and
    * concurrency-safe (create-exclusive through `primitive`; a loser
    * means someone else checkpointed the same version — fine). Returns
    * the checkpointed version, None if the table is empty or the
    * checkpoint already exists. Entries at or below a checkpoint may
    * then be deleted by retention policy — doing so gives up time
    * travel below the checkpoint, nothing else. */
  def writeCheckpoint(table: String,
      primitive: CommitPrimitive = LocalFs): Option[Long] = {
    val snap = snapshot(table)
    if (snap.version < 0) return None
    val target = logDir(table).resolve(s"${snap.version}.checkpoint.json")
    if (primitive.createExclusive(target, Codec.write(Codec.checkpoint(snap)))) Some(snap.version)
    else None
  }

  /** The schema recorded at version `v` (its entry, or its checkpoint
    * once the entry has expired); None on a schema-less log. */
  private def schemaAt(table: String, v: Long): Option[StructType] =
    if (Files.exists(logDir(table).resolve(s"$v.json")))
      load(table, s"$v.json")(Codec.entry).schema
    else if (Files.exists(logDir(table).resolve(s"$v.checkpoint.json")))
      load(table, s"$v.checkpoint.json")(Codec.checkpoint).schema
    else None

  /** One decoded commit entry `<v>.json`. `schemaJson` is the table
    * schema's `StructType.json`, decoded only on demand (a replay needs
    * the newest entry's alone); `ts` is None on entries written before
    * the field existed. */
  private final case class Entry(version: Long, adds: Seq[String], removes: Seq[String],
      schemaJson: Option[String], stats: Map[String, Map[String, (Long, Long)]],
      batch: Option[(Long, String)], ts: Option[Long]) {
    lazy val schema: Option[StructType] =
      schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** The one codec of the log: an [[Entry]] or a checkpoint (a
    * [[Snapshot]]) maps to and from a json4s `JValue` here, and nothing
    * else reads or writes log text. The on-disk shape:
    *
    *   - `schema` is base64 of `StructType.json`;
    *   - `stats` is flat, `{"file|col":[lo,hi],…}`, split at the LAST
    *     `|` (so a stats column name must not hold one). A key without
    *     `|` (the pre-multi-column format) is DROPPED: an interval whose
    *     column is unknown cannot be matched to any scan, and a
    *     stat-less file is always read;
    *   - an entry's `batch` is `[id,"fp"]`, a checkpoint's `batches` is
    *     `{"id":"fp",…}`;
    *   - an optional field with no value is omitted, never null.
    *
    * Integers parse as `JInt`; a malformed file fails its read. */
  private object Codec {
    def write(v: JValue): Array[Byte] = compact(render(v)).getBytes("UTF-8")

    def entry(e: Entry): JValue = JObject(
      List[JField]("version" -> JInt(e.version), "adds" -> strings(e.adds),
        "removes" -> strings(e.removes)) ++
        e.schemaJson.map(schemaField) ++ statsField(e.stats) ++
        e.batch.map { case (id, fp) => "batch" -> JArray(List(JInt(id), JString(fp))) } ++
        e.ts.map(t => "ts" -> JInt(t)))

    def entry(v: JValue): Entry = {
      val f = fields(v)
      Entry(long(f("version")), strings(f("adds")), strings(f("removes")),
        f.get("schema").map(schemaText), stats(f.get("stats")),
        f.get("batch").map {
          case JArray(List(id, JString(fp))) => long(id) -> fp
          case other => malformed("batch", other)
        }, f.get("ts").map(long))
    }

    def checkpoint(s: Snapshot): JValue = JObject(
      List[JField]("version" -> JInt(s.version), "files" -> strings(s.files)) ++
        s.schema.map(t => schemaField(t.json)) ++ statsField(s.stats) ++
        Option.when(s.batches.nonEmpty)("batches" -> JObject(
          s.batches.toList.sorted.map { case (id, fp) => id.toString -> JString(fp) })))

    def checkpoint(v: JValue): Snapshot = {
      val f = fields(v)
      Snapshot(long(f("version")), strings(f("files")).toVector, stats(f.get("stats")),
        f.get("schema").map(j => DataType.fromJson(schemaText(j)).asInstanceOf[StructType]),
        f.get("batches").fold(Map.empty[Long, String])(b => fields(b).map {
          case (id, JString(fp)) => id.toLong -> fp
          case (_, other) => malformed("batches", other)
        }))
    }

    private def schemaField(json: String): JField = "schema" ->
      JString(java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8")))

    private def schemaText(v: JValue): String = v match {
      case JString(b64) => new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
      case other => malformed("schema", other)
    }

    private def statsField(stats: Map[String, Map[String, (Long, Long)]]): Option[JField] = {
      val flat = for ((f, cols) <- stats.toList; (c, (lo, hi)) <- cols.toList)
        yield s"$f|$c" -> JArray(List(JInt(lo), JInt(hi)))
      Option.when(flat.nonEmpty)("stats" -> JObject(flat.sortBy(_._1)))
    }

    private def stats(v: Option[JValue]): Map[String, Map[String, (Long, Long)]] =
      v.fold(List.empty[(String, JValue)])(fields(_).toList).flatMap { case (k, iv) =>
        val cut = k.lastIndexOf('|')
        val bounds = iv match {
          case JArray(List(lo, hi)) => (long(lo), long(hi))
          case other => malformed("stats", other)
        }
        Option.when(cut >= 0)((k.substring(0, cut), k.substring(cut + 1), bounds))
      }.groupBy(_._1).map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }

    private def strings(xs: Seq[String]): JArray = JArray(xs.map(JString(_)).toList)

    private def strings(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case other => malformed("name", other)
      }
      case other => malformed("name list", other)
    }

    private def fields(v: JValue): Map[String, JValue] = v match {
      case JObject(fs) => fs.toMap
      case other => malformed("object", other)
    }

    private def long(v: JValue): Long = v match {
      case JInt(n) if n.isValidLong => n.toLong
      case other => malformed("integer", other)
    }

    private def malformed(what: String, v: JValue): Nothing =
      throw new IllegalArgumentException(s"malformed $what: ${compact(render(v))}")
  }

  /** Read and decode one log file; a file the codec cannot decode fails
    * loudly, naming it. */
  private def load[T](table: String, fileName: String)(decode: JValue => T): T = {
    val p = logDir(table).resolve(fileName)
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    try decode(parse(txt))
    catch { case e: Exception =>
      throw new IllegalArgumentException(s"unreadable log file $p: ${e.getMessage}", e)
    }
  }

  /** Parquet files hold every column as nullable, and a read returns
    * them so: the log records the schema the files actually carry. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The table's schema after a commit adding files of schema `added`:
    * `prev` plus `added`'s new columns in order; a type clash fails. */
  private def evolve(table: String, prev: StructType, added: StructType): StructType =
    added.fields.foldLeft(prev) { (s, f) =>
      s.fields.find(_.name == f.name) match {
        case Some(g) =>
          require(g.dataType == f.dataType,
            s"column ${f.name} of type ${f.dataType.simpleString} clashes with " +
              s"${g.dataType.simpleString} in $table")
          s
        case None => s.add(f)
      }
    }

  /** Retention: delete entry files AT OR BELOW the newest checkpoint,
    * and every older checkpoint. Readers then start from the newest
    * checkpoint; time travel below it is deliberately given up
    * (snapshot refuses loudly), and [[vacuum]] may then sweep the files
    * only the dropped entries and checkpoints listed. Returns the
    * expired versions. No-op without a checkpoint. */
  def expireEntriesBelowCheckpoint(table: String): Seq[Long] = {
    checkpointVersions(table) match {
      case Seq() => Seq.empty
      case cps =>
        val old = versions(table).filter(_ <= cps.last)
        old.foreach(v => Files.deleteIfExists(logDir(table).resolve(s"$v.json")))
        cps.init.foreach(c =>
          Files.deleteIfExists(logDir(table).resolve(s"$c.checkpoint.json")))
        old
    }
  }

  /** Atomically commit `version` = current + 1 through `primitive`.
    * Returns the committed version, or None on a CONFLICT (someone else
    * committed that version first — [[commitRetrying]] re-reads the
    * snapshot and retries).
    * File names are relative to the table root. `schema` is the
    * schema of the `adds` files (the written DataFrame's); the entry
    * records the table schema it implies under the rule in the object
    * doc, and a type clash fails here, before anything lands. On a log
    * that already lacks schemas the entry records none either. `batch`
    * is the `(batchId, fingerprint)` replay record of [[commitBatch]]. */
  def commit(table: String, adds: Seq[String], removes: Seq[String],
      expectedCurrent: Long, schema: StructType,
      primitive: CommitPrimitive = LocalFs,
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      batch: Option[(Long, String)] = None): Option[Long] = {
    // the flat `file|col` stats key splits at its last `|`
    stats.valuesIterator.flatMap(_.keysIterator).foreach { c =>
      require(!c.contains('|'), s"stats column name must not contain '|': $c")
    }
    require(stats.keySet.subsetOf(adds.toSet),
      s"stats may only cover this commit's adds: ${stats.keySet -- adds.toSet}")
    val added = asNullable(schema).asInstanceOf[StructType]
    val tableSchema =
      if (expectedCurrent < 0) Some(added)
      else schemaAt(table, expectedCurrent).map(evolve(table, _, added))
    val next = expectedCurrent + 1
    val d = logDir(table)
    Files.createDirectories(d)
    val entry = Entry(next, adds, removes, tableSchema.map(_.json), stats, batch,
      Some(System.currentTimeMillis()))
    if (primitive.createExclusive(d.resolve(s"$next.json"), Codec.write(Codec.entry(entry))))
      Some(next)
    else None
  }

  /** What one attempt of [[commitRetrying]] commits: the data files it
    * staged in the table (`adds`, deleted again if the commit loses the
    * race), the files it supersedes, the adds' schema and stats, the
    * replay record of the micro-batch it lands ([[commitBatch]]), and
    * `after`, run once on the committed version to give the result. */
  final case class Staged[+T](adds: Seq[String], removes: Seq[String],
      schema: StructType, stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      batch: Option[(Long, String)] = None)(
      val after: Long => T)

  /** The optimistic commit loop every writer of a table runs: read the
    * snapshot, run `attempt` on it, [[commit]] what it staged on top of
    * that snapshot's version, and on a conflict delete the attempt's
    * staged adds and start over from a fresh snapshot. An attempt
    * returns `Left(result)` when it has nothing to commit (and staged
    * nothing), else `Right(staged)`; the loop returns `staged.after` of
    * the version that landed. */
  @scala.annotation.tailrec
  def commitRetrying[T](table: String, primitive: CommitPrimitive = LocalFs)(
      attempt: Snapshot => Either[T, Staged[T]]): T = {
    val snap = snapshot(table)
    attempt(snap) match {
      case Left(result) => result
      case Right(s) =>
        commit(table, s.adds, s.removes, snap.version, s.schema, primitive, s.stats,
            s.batch) match {
          case Some(v) => s.after(v)
          case None =>
            s.adds.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
            commitRetrying(table, primitive)(attempt)
        }
    }
  }

  /** Fingerprint of a micro-batch's input: SHA-256 over the sorted
    * NAMES of the files it was planned from. Names, not paths: a staged
    * replay of the same files from a relocated directory is the same
    * batch. */
  def fingerprint(batch: org.apache.spark.sql.Dataset[_]): String = {
    val names = batch.inputFiles.map(p => new java.io.File(p).getName)
      .sorted.mkString("\n")
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(names.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Does `snap` record micro-batch `batchId` as committed? A record
    * whose fingerprint differs from `fp` fails loudly: the source's
    * file→batch mapping shifted, and skipping would drop data the table
    * never saw. */
  def recordsBatch(table: String, snap: Snapshot, batchId: Long, fp: String): Boolean =
    snap.batches.get(batchId) match {
      case None => false
      case Some(recorded) =>
        require(recorded == fp,
          s"commit record mismatch for batch $batchId under $table: the " +
            "recorded input fingerprint differs from the replay's — the " +
            "source's file→batch mapping shifted (a late-arriving file " +
            "sorting before a committed one?). New input files must sort " +
            "strictly after all committed ones; reordered input needs a " +
            "fresh store.")
        true
    }

  /** The replay record of the idempotent streaming sinks (the Delta
    * `txn` action's role). A `foreachBatch` sink runs without a
    * streaming checkpoint, so every micro-batch can be delivered again,
    * and the batchId→input mapping is only the file source's listing
    * order. Each sink therefore lands micro-batch `batchId` through this
    * loop: when the table's snapshot already records the id (with the
    * same input [[fingerprint]] `fp`, else [[recordsBatch]] fails) the
    * batch is skipped and the result is None; otherwise `stage`'s files
    * commit in ONE entry that also records `(batchId, fp)`, and the
    * result is its `after`. Until that commit the staged files are
    * invisible orphans, so a crash anywhere before it leaves the table
    * as it was and the redelivered batch reproduces. New input files
    * must sort strictly after all committed ones. Every commit then runs
    * the table's [[retain]] policy. */
  def commitBatch[T](table: String, batchId: Long, fp: String)(
      stage: Snapshot => Staged[T]): Option[T] =
    commitRetrying(table) { snap =>
      if (recordsBatch(table, snap, batchId, fp)) Left(None)
      else {
        val s = stage(snap)
        Right(s.copy[Option[T]](batch = Some(batchId -> fp)) { v =>
          val r = s.after(v)
          retain(table, v)
          Some(r)
        })
      }
    }

  /** Retention of a table only its newest snapshot serves (the
    * streaming stores): every 10 commits (mergeInto's cadence),
    * checkpoint, expire every entry and older checkpoint at or below
    * it, then [[vacuum]] — so a stream that runs forever keeps its
    * replay at O(commits since the checkpoint) and its disk at the live
    * files plus whatever [[vacuum]]'s age guard still spares. */
  def retain(table: String, v: Long): Unit =
    if (v > 0 && v % 10 == 0) {
      writeCheckpoint(table): Unit
      expireEntriesBelowCheckpoint(table): Unit
      vacuum(table): Unit
    }

  /** Commit wall-clock time of a version, for timestamp time travel:
    * the entry's recorded `ts` field, falling back to the entry FILE's
    * modification time for pre-`ts` entries (close enough — both are
    * the committing writer's clock at publish time). */
  def commitTimeMillis(table: String, v: Long): Long =
    load(table, s"$v.json")(Codec.entry).ts.getOrElse(
      Files.getLastModifiedTime(logDir(table).resolve(s"$v.json")).toMillis)

  /** TIMESTAMP AS OF: the newest version whose commit time is at or
    * before `tsMillis` — `snapshot(table, Some(versionAt(...)))` is the
    * Delta-style timestamp read. Commit times come from each WRITER's
    * clock, so they are not guaranteed monotone across writers; the max
    * over the qualifying set (not a binary search) keeps the answer
    * well-defined under skew. Fails loudly when `tsMillis` predates
    * every retained entry — including entries aged out below a
    * checkpoint, matching version-based time travel's retention
    * contract. */
  def versionAt(table: String, tsMillis: Long): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed entries in $table")
    val ok = vs.filter(v => commitTimeMillis(table, v) <= tsMillis)
    require(ok.nonEmpty,
      s"no version committed at or before $tsMillis in $table " +
        s"(earliest retained: ${commitTimeMillis(table, vs.head)})")
    ok.max
  }

  /** Delete data files no committed log entry references (crash orphans)
    * and stale `.tmp-` entries, SKIPPING anything modified within the
    * last `minAgeMs` — an unreferenced-but-young file is most likely a
    * concurrent writer's staged part whose commit has not landed yet
    * (TxLogSpec: vacuum-during-write). Returns the swept file names.
    * Files REMOVED by some version stay on disk — they back time
    * travel. */
  def vacuum(table: String, minAgeMs: Long = defaultVacuumMinAgeMs): Seq[String] = {
    val referenced = (versions(table).flatMap { v =>
      val e = load(table, s"$v.json")(Codec.entry); e.adds ++ e.removes } ++
      checkpointVersions(table).flatMap(v =>
        load(table, s"$v.checkpoint.json")(Codec.checkpoint).files)).toSet
    val root = Paths.get(table)
    if (!Files.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMs
    // data files may sit in subdirectories (the streaming stores' bucket
    // directories): names are root-relative paths, as in the log
    val orphans = Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map(p => root.relativize(p).toString)
        .filterNot(referenced)
        .toSeq
    }
    orphans.foreach(f => Files.deleteIfExists(root.resolve(f)))
    // bloom sidecars ride beside their data file outside the log; sweep
    // any whose data file is gone (swept above, or vacuumed earlier)
    Using.resource(Files.list(root)) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".bloom"))
        .filter(p => !Files.exists(Paths.get(
          p.toString.stripSuffix(".bloom"))))
        .toSeq
    }.foreach(p => Files.deleteIfExists(p))
    // stale staged files: commit-entry temps in _txlog, sidecar temps in
    // the table root (a crash between stage and ATOMIC_MOVE orphans one)
    (Seq(logDir(table)).filter(Files.exists(_)) :+ root).foreach { dir =>
      Using.resource(Files.list(dir)) { st =>
        st.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(".tmp-") &&
            Files.getLastModifiedTime(p).toMillis <= cutoff)
          .toSeq
      }.foreach(p => Files.deleteIfExists(p))
    }
    orphans
  }
}
