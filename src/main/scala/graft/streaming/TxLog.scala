package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
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
  * `<v>.json`, each with the fields, in this order:
  *
  *   - `version`: the entry's version (consecutive from 0);
  *   - `adds`, `removes`: data file names relative to the table root;
  *   - `schema`: the TABLE's schema after this commit, as base64 of
  *     `StructType.json` (absent from entries written before the field
  *     existed);
  *   - `stats` (optional): per-file, per-column (min, max) intervals;
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
  * stats}` of the replayed snapshot.
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
    * written without one: readers then infer it from the files). */
  final case class Snapshot(version: Long, files: Seq[String],
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      schema: Option[StructType] = None)

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
    * declared retention, and fails loudly here). */
  def snapshot(table: String, asOf: Option[Long] = None): Snapshot = {
    val all = versions(table)
    val upTo = asOf.fold(all)(a => all.filter(_ <= a))
    val base = asOf.fold(checkpointVersions(table))(
      a => checkpointVersions(table).filter(_ <= a)).lastOption
    require(asOf.isEmpty || upTo.nonEmpty || base.nonEmpty || all.isEmpty,
      s"no committed version <= ${asOf.get} in $table")
    val fromV = base.getOrElse(-1L)
    val cp = base.map(v => text(table, s"$v.checkpoint.json"))
    var files = cp.fold(Vector.empty[String])(arr(_, "files").toVector)
    var stats = cp.fold(Map.empty[String, Map[String, (Long, Long)]])(parseStats)
    var newest = cp // each entry holds the whole schema: only the newest counts
    val replay = upTo.filter(_ > fromV)
    // versions are always committed consecutively, so the replayed
    // suffix must be exactly fromV+1, fromV+2, … — a hole means entries
    // were deleted past the newest checkpoint and replay would silently
    // skip commits; refuse instead
    require(replay == ((fromV + 1) to (fromV + replay.length)),
      s"log gap after checkpoint $fromV in $table: ${replay.mkString(",")}")
    replay.foreach { v =>
      val txt = text(table, s"$v.json")
      val removes = arr(txt, "removes")
      files = files.filterNot(removes.toSet) ++ arr(txt, "adds")
      stats = (stats -- removes) ++ parseStats(txt)
      newest = Some(txt)
    }
    Snapshot(replay.lastOption.orElse(base).getOrElse(-1L), files, stats,
      newest.flatMap(parseSchema))
  }

  /** Write a checkpoint of the CURRENT snapshot: one JSON file holding
    * the fully-replayed live file set at that version. Idempotent and
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
    snap.files.foreach { n =>
      require(!n.contains('"') && !n.contains(','),
        s"file name must not contain '\"' or ',': $n")
    }
    val entry =
      s"""{"version":${snap.version},"files":[${
        snap.files.map("\"" + _ + "\"").mkString(",")}]${
        schemaJson(snap.schema)}${statsJson(snap.stats)}}"""
    val target = logDir(table).resolve(s"${snap.version}.checkpoint.json")
    if (primitive.createExclusive(target, entry.getBytes("UTF-8"))) Some(snap.version)
    else None
  }

  /** `,"stats":{"f|col":[lo,hi],…}` — empty string when no stats. The
    * nested file→column→interval map is FLATTENED to `file|col` keys so
    * the object stays brace-free inside and the regex replay stays
    * exact (file and column names are validated at commit time to
    * contain no `"`, `,`, or `|`). Placed LAST in the entry so the
    * adds/removes array regexes (which stop at the first `]`) never see
    * the stats brackets. */
  private def statsJson(stats: Map[String, Map[String, (Long, Long)]]): String = {
    val flat = for ((f, cols) <- stats.toSeq; (c, (lo, hi)) <- cols.toSeq)
      yield (s"$f|$c", lo, hi)
    if (flat.isEmpty) ""
    else flat.sortBy(_._1)
      .map { case (k, lo, hi) => s""""$k":[$lo,$hi]""" }
      .mkString(""","stats":{""", ",", "}")
  }

  /** `,"schema":"<base64 of StructType.json>"` — empty string on a
    * schema-less log. Base64 holds no `"`, `,`, `]` or `}`, so the
    * regex replay of the other fields stays exact. */
  private def schemaJson(schema: Option[StructType]): String =
    schema.fold("")(s => s""","schema":"${
      java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))}"""")

  private def parseSchema(txt: String): Option[StructType] =
    """"schema":"([A-Za-z0-9+/=]*)"""".r.findFirstMatchIn(txt).map { m =>
      DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8")).asInstanceOf[StructType]
    }

  /** The schema recorded at version `v` (its entry, or its checkpoint
    * once the entry has expired); None on a schema-less log. */
  private def schemaAt(table: String, v: Long): Option[StructType] =
    Seq(s"$v.json", s"$v.checkpoint.json")
      .find(f => Files.exists(logDir(table).resolve(f)))
      .flatMap(f => parseSchema(text(table, f)))

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

  /** Parse the `stats` object of a log/checkpoint file (empty when the
    * field is absent — pre-stats entries stay readable). A key without
    * the `|` column separator (the pre-multi-column format) is DROPPED:
    * an interval whose column is unknown cannot be safely matched to
    * any scan, and a stat-less file is always read — safe degradation
    * in the only direction the contract allows. */
  private def parseStats(txt: String): Map[String, Map[String, (Long, Long)]] =
    """"stats":\{([^}]*)\}""".r.findFirstMatchIn(txt) match {
      case None => Map.empty
      case Some(m) =>
        """"([^"]+)":\[(-?\d+),(-?\d+)\]""".r.findAllMatchIn(m.group(1))
          .flatMap { g =>
            val k = g.group(1)
            val cut = k.lastIndexOf('|')
            if (cut < 0) None // legacy single-interval key: column unknown
            else Some((k.substring(0, cut), k.substring(cut + 1),
              (g.group(2).toLong, g.group(3).toLong)))
          }.toSeq.groupBy(_._1)
          .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    }

  /** Retention: delete entry files AT OR BELOW the newest checkpoint.
    * Readers then start from the checkpoint; time travel below it is
    * deliberately given up (snapshot refuses loudly). Returns the
    * expired versions. No-op without a checkpoint. */
  def expireEntriesBelowCheckpoint(table: String): Seq[Long] = {
    checkpointVersions(table).lastOption match {
      case None => Seq.empty
      case Some(cp) =>
        val old = versions(table).filter(_ <= cp)
        old.foreach(v => Files.deleteIfExists(logDir(table).resolve(s"$v.json")))
        old
    }
  }

  private def text(table: String, fileName: String): String =
    new String(Files.readAllBytes(logDir(table).resolve(fileName)), "UTF-8")

  /** One string-array field of a log/checkpoint file. The JSON is written
    * by [[commit]] and [[writeCheckpoint]] with a fixed field order, no
    * nesting, and file names VALIDATED to contain no `"` or `,`
    * (enforced at commit time), so a regex-based parse is exact (no JSON
    * library in the engine deps). */
  private def arr(txt: String, field: String): Seq[String] =
    s""""$field":\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
      .getOrElse(Seq.empty)

  /** Atomically commit `version` = current + 1 through `primitive`.
    * Returns the committed version, or None on a CONFLICT (someone else
    * committed that version first — [[commitRetrying]] re-reads the
    * snapshot and retries).
    * File names are relative to the table root; names containing `"` or
    * `,` would corrupt the regex replay, so they are rejected HERE, at
    * write time, instead of corrupting every later read. `schema` is the
    * schema of the `adds` files (the written DataFrame's); the entry
    * records the table schema it implies under the rule in the object
    * doc, and a type clash fails here, before anything lands. On a log
    * that already lacks schemas the entry records none either. */
  def commit(table: String, adds: Seq[String], removes: Seq[String],
      expectedCurrent: Long, schema: StructType,
      primitive: CommitPrimitive = LocalFs,
      stats: Map[String, Map[String, (Long, Long)]] = Map.empty): Option[Long] = {
    (adds ++ removes).foreach { n =>
      require(!n.contains('"') && !n.contains(',') && !n.contains('|'),
        s"file name must not contain '\"', ',' or '|': $n")
    }
    stats.valuesIterator.flatMap(_.keysIterator).foreach { c =>
      require(!c.contains('"') && !c.contains(',') && !c.contains('|'),
        s"stats column name must not contain '\"', ',' or '|': $c")
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
    val entry =
      s"""{"version":$next,"adds":[${adds.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""removes":[${removes.map("\"" + _ + "\"").mkString(",")}]""" +
        s"""${schemaJson(tableSchema)}${statsJson(stats)},""" +
        s""""ts":${System.currentTimeMillis()}}"""
    if (primitive.createExclusive(d.resolve(s"$next.json"), entry.getBytes("UTF-8")))
      Some(next)
    else None
  }

  /** What one attempt of [[commitRetrying]] commits: the data files it
    * staged in the table (`adds`, deleted again if the commit loses the
    * race), the files it supersedes, the adds' schema and stats, and
    * `after`, run once on the committed version to give the result. */
  final case class Staged[+T](adds: Seq[String], removes: Seq[String],
      schema: StructType, stats: Map[String, Map[String, (Long, Long)]] = Map.empty)(
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
        commit(table, s.adds, s.removes, snap.version, s.schema, primitive, s.stats) match {
          case Some(v) => s.after(v)
          case None =>
            s.adds.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
            commitRetrying(table, primitive)(attempt)
        }
    }
  }

  /** Commit wall-clock time of a version, for timestamp time travel:
    * the entry's recorded `ts` field, falling back to the entry FILE's
    * modification time for pre-`ts` entries (close enough — both are
    * the committing writer's clock at publish time). */
  def commitTimeMillis(table: String, v: Long): Long = {
    val p = logDir(table).resolve(s"$v.json")
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    """"ts":(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong)
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
  }

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
    val referenced = (versions(table)
      .flatMap { v => val t = text(table, s"$v.json"); arr(t, "adds") ++ arr(t, "removes") } ++
      checkpointVersions(table).flatMap(v => arr(text(table, s"$v.checkpoint.json"), "files"))).toSet
    val root = Paths.get(table)
    if (!Files.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = Using.resource(Files.list(root)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map(_.getFileName.toString)
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
