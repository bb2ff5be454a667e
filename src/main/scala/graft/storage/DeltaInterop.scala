package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Two-way bridge between [[VersionedTable]]'s manifest format and a
  * Delta-Lake-readable directory layout — the interop answer to
  * "storage should be Delta/Iceberg": the Delta jars are unavailable in
  * this offline sandbox, so the bridge emits the OPEN, DOCUMENTED commit
  * format (delta.io PROTOCOL.md: a `_delta_log/` of newline-delimited
  * JSON actions next to plain parquet) rather than linking the library.
  * A Delta reader opens the export as version 0 of a table; a plain
  * parquet reader sees the same rows (underscore-prefixed `_delta_log`
  * is hidden from Spark's file index by convention).
  *
  * Export rules:
  *  - keyless (full/append) tables: data files are HARD-COPIED as-is,
  *    one per committed segment file — no recompute, no rewrite; at
  *    scale this is a metadata operation plus byte copies that an
  *    object store performs server-side.
  *  - keyed (upsert) tables: Delta has no analogue of this table's
  *    latest-segment-wins merge-on-read, so the MERGED view is
  *    materialized once (the same rows every [[VersionedTable.read]]
  *    would serve) and exported as a fresh snapshot.
  *
  * One action model carries the log: `protocol`, `metaData`, `add`,
  * `remove`, `cdc` and `commitInfo` ([[Action]]), with one JSON codec
  * for commit lines and one row codec over [[CheckpointSchema]] for
  * checkpoint parquet. Every writer emits through it — the export's v0 is
  * an ordinary [[writeCommit]] (protocol minReader 1 / minWriter 2, the
  * schema's metaData, one `add` per data file), published put-if-absent
  * like every later commit — and every reader replays commits and
  * checkpoints through the same fold ([[replay]]), so the two paths can
  * never disagree on what the log says.
  */
object DeltaInterop {

  private val mapper = new ObjectMapper()

  /** Export the committed snapshot at `tablePath` into `outDir` (created;
    * must not already contain a `_delta_log`). Returns the relative paths
    * of the exported data files, in `add`-action order. Of two exports
    * racing into one directory exactly one commits v0; the other gets a
    * [[VersionedTable.ConcurrentCommitException]] (or the `_delta_log`
    * refusal, when it starts after the winner's log exists).
    */
  def exportSnapshot(
      spark: SparkSession, tablePath: String, outDir: String): Seq[String] = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    require(!Files.exists(out.resolve("_delta_log")),
      s"$outDir already holds a _delta_log — refusing to overwrite a Delta table")
    val m = VersionedTable.readManifest(tablePath).getOrElse(
      throw new NoSuchElementException(s"no committed manifest at $tablePath"))

    val schemaJson = VersionedTable.read(spark, tablePath).schema.json

    // verbatim copy requires flat segments: a hive-partitioned segment
    // (e.g. writeShards' pb=/ps= shard dirs) keeps column values in its
    // DIRECTORY names, which a flat copy would silently drop — those
    // tables take the materialize path, where the read restores the
    // partition columns as data
    val flat = m.segments.forall(seg => !hasSubdirs(Paths.get(tablePath, seg)))
    val verbatim = m.keys.isEmpty && flat

    val dataFiles: Seq[Path] =
      if (verbatim) {
        // copy committed segment files verbatim, names prefixed by their
        // segment so two segments' part files never collide; each copy
        // lands by atomic rename, so an export racing this one never
        // sees (or logs the size of) a half-copied file
        for {
          seg <- m.segments
          f <- listParquet(Paths.get(tablePath, seg))
        } yield {
          val dst = out.resolve(s"$seg-${f.getFileName}")
          val staged = Files.createTempFile(out, s".${dst.getFileName}.", ".tmp")
          try {
            Files.copy(f, staged, StandardCopyOption.REPLACE_EXISTING)
            Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
          } finally Files.deleteIfExists(staged)
          dst
        }
      } else {
        // materialize the committed view once: keyed segments need the
        // latest-wins merge Delta cannot express, partitioned segments
        // need their directory-encoded columns restored as data
        VersionedTable.withStagingDir("graft_delta_merge_") { tmp =>
          VersionedTable.read(spark, tablePath)
            .write.mode("overwrite").parquet(tmp.toString)
          for (f <- listParquet(tmp)) yield {
            val dst = out.resolve(f.getFileName.toString)
            Files.move(f, dst, StandardCopyOption.REPLACE_EXISTING)
            dst
          }
        }
      }

    val rels = dataFiles.map(f => out.relativize(f).toString)
    try writeCommit(outDir, 0L, adds = rels, schemaJson = Some(schemaJson))
    catch {
      // a losing export's materialized parts are its own (uniquely named):
      // they must not sit next to the winner's files as unlogged rows
      case e: VersionedTable.ConcurrentCommitException if !verbatim =>
        dataFiles.foreach(Files.deleteIfExists)
        throw e
    }
    rels
  }

  /** VACUUM — the Delta maintenance op next to Iceberg's
    * [[IcebergInterop.expireSnapshots]]/`removeOrphanFiles`: physically
    * delete parquet files under the table root that the CURRENT snapshot
    * does not reference, subject to the retention window (delta.io
    * VACUUM semantics — default 7 days, and the guard exists for the same
    * reason there: a concurrent reader of an older snapshot or an
    * in-flight uncommitted write may still need recent unreferenced
    * files).
    *
    * Candidate gates, each REQUIRED before a byte is deleted:
    *  - not in the live set of the resolved current state;
    *  - not under `_delta_log/` or `metadata/` (co-resident Iceberg
    *    metadata from [[convertFromIceberg]] stays untouched);
    *  - older than `retentionMs`: a tombstoned file by its remove
    *    action's `deletionTimestamp` (the log is authoritative), an
    *    orphan (never logged — an aborted writer's debris) by file mtime.
    *
    * After a vacuum, time travel to a version that referenced a deleted
    * file fails on read — exactly Delta's documented trade. Returns the
    * table-relative paths deleted (or that WOULD be deleted with
    * `dryRun = true`, which never touches disk).
    *
    * `retentionMs` below the 7-day default is refused unless
    * `disableRetentionCheck = true` — delta.io's
    * `retentionDurationCheck.enabled` guard, and for the same reason: a
    * zero window deletes an in-flight uncommitted writer's files (the
    * orphan-by-mtime arm) and breaks every concurrent older-snapshot
    * reader. Log paths are URL-decoded before resolution (PROTOCOL.md
    * mandates add/remove paths be percent-encoded), so an
    * externally-written table whose live file name contains e.g. a space
    * keeps that file in the live set instead of losing it to the orphan
    * arm.
    */
  def vacuum(spark: SparkSession, deltaDir: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false,
      disableRetentionCheck: Boolean = false): Seq[String] = {
    require(retentionMs >= 0, s"negative retention $retentionMs")
    require(disableRetentionCheck || retentionMs >= 7L * 24 * 3600 * 1000,
      s"retention ${retentionMs}ms is below the 7-day default; a short " +
        "window deletes files a concurrent older-snapshot reader or an " +
        "in-flight writer still needs — pass disableRetentionCheck=true " +
        "to override deliberately")
    val root = Paths.get(deltaDir).normalize()
    val logDir = root.resolve("_delta_log")
    val st = resolveState(spark, deltaDir)
    // live set carries BOTH the decoded and the verbatim-raw resolution of
    // every active path (ADVICE r16): a spec-compliant encoded path decodes
    // onto the on-disk file, while an off-spec raw path whose name happens
    // to contain a decodable sequence (a literal 'a%20b.parquet' on disk)
    // stays live through its RAW form — either way a live file can never
    // fall out of the set and be deleted as orphan debris
    val live: Set[Path] =
      st.active.valuesIterator.flatMap(af =>
        Iterator(af.path, decodeLogPath(af.path)))
        .map(rel => root.resolve(rel).normalize()).toSet
    // deletionTimestamp per removed path, LATEST wins (a path re-added and
    // re-removed carries its most recent tombstone); raw AND decoded forms
    // both tombstone — same double-resolution rule as the live set
    val tombstones = scala.collection.mutable.Map.empty[Path, Long]
    for (commit <- listCommits(logDir);
         RemoveFile(raw, ts, _) <- readCommit(commit);
         rel <- Seq(raw, decodeLogPath(raw)).distinct) {
      val p = root.resolve(rel).normalize()
      tombstones(p) = math.max(tombstones.getOrElse(p, 0L), ts.getOrElse(0L))
    }
    val cutoff = System.currentTimeMillis() - retentionMs
    val candidates = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith(".") && !n.startsWith("_") &&
          !p.normalize().startsWith(logDir) &&
          !p.normalize().startsWith(root.resolve("metadata"))
      }.map(_.normalize()).toSeq
      finally s.close()
    }
    val doomed = candidates.filterNot(live.contains).filter { p =>
      tombstones.get(p) match {
        case Some(ts) => ts <= cutoff // the log's word on when it died
        case None => // never logged: an aborted writer's debris, by mtime
          Files.getLastModifiedTime(p).toMillis <= cutoff
      }
    }.sortBy(_.toString)
    if (!dryRun) doomed.foreach(p => Files.deleteIfExists(p))
    doomed.map(p => root.relativize(p).toString)
  }

  /** PROTOCOL.md mandates add/remove paths be percent-encoded relative
    * URIs; decode before resolving against the filesystem — an encoded
    * live path (`a%20b.parquet`) that stays raw misses the on-disk file
    * and, in [[vacuum]], would be DELETED as an orphan. Off-spec raw
    * paths (illegal chars, opaque scheme-looking names) fall back
    * verbatim: for a %-free name decode is the identity either way. */
  private def decodeLogPath(rel: String): String =
    try {
      val p = new java.net.URI(rel).getPath
      if (p == null || p.isEmpty) rel else p
    } catch { case _: java.net.URISyntaxException => rel }

  /** PROTOCOL.md's inverse leg (ADVICE r16): every add/remove path this
    * engine WRITES is percent-encoded, so self-written logs round-trip
    * through [[decodeLogPath]] exactly — a file named `a b.parquet` logs
    * as `a%20b.parquet`, a literal `a%20b.parquet` logs as
    * `a%2520b.parquet`. For the plain ASCII names the engine itself
    * generates, encode is the identity. The multi-arg URI constructor
    * performs exactly RFC-3986 path quoting.
    */
  private def encodeLogPath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** The on-disk relative path an active log entry resolves to: the
    * DECODED form when that file exists (the spec-compliant case), else
    * the verbatim RAW form when IT exists (tolerance for off-spec writers
    * that logged raw names containing decodable sequences), else the
    * decoded form — so the caller's existence check fails loudly naming
    * the spec-mandated resolution.
    */
  private def diskRel(root: Path, decoded: String, raw: String): String =
    if (Files.exists(root.resolve(decoded))) decoded
    else if (raw != decoded && Files.exists(root.resolve(raw))) raw
    else decoded

  /** Metadata-only Iceberg → Delta conversion — [[IcebergInterop
    * .convertFromDelta]]'s reverse leg: write a v0 `_delta_log` INSIDE the
    * Iceberg table directory whose `add` actions name the live data files
    * by table-relative path. Zero data bytes move; the table then reads
    * through both bridges, and the Iceberg metadata stays authoritative
    * for Iceberg readers. IDENTITY-partitioned tables convert (round 16):
    * the manifest partition structs map 1:1 onto `add.partitionValues`
    * and the spec's source columns become the metaData's
    * `partitionColumns` — both the engine-written shape (files carry the
    * column; the Delta read projects it away and serves the log values)
    * and the Hive-migrated `add_files` shape (files lack it entirely)
    * read identically through [[importSnapshot]]. Refusals ride in
    * [[IcebergInterop.liveSnapshot]] (non-identity transforms, partition
    * types beyond string/int/long, delete files) plus: data files OUTSIDE
    * the table root (legal in Iceberg, unreachable by a relative Delta
    * add) and an existing `_delta_log`.
    */
  def convertFromIceberg(spark: SparkSession, icebergDir: String): Seq[String] = {
    val root = Paths.get(icebergDir).normalize()
    require(!Files.exists(root.resolve("_delta_log")),
      s"$icebergDir already holds a _delta_log — refusing to overwrite")
    val snap = IcebergInterop.liveSnapshot(spark, icebergDir)
    val relPv = snap.files.map { case (abs, size, pv) =>
      val p = Paths.get(abs).normalize()
      require(p.startsWith(root),
        s"live data file outside the table root: $abs — a relative Delta " +
          "add cannot name it, refusing")
      val got = Files.size(p)
      require(got == size,
        s"size mismatch for $abs: manifest says $size bytes, disk has $got")
      (root.relativize(p).toString, pv)
    }
    writeCommit(icebergDir, 0L, adds = relPv.map(_._1),
      schemaJson = Some(snap.schemaJson),
      partitionColumns = snap.partitionColumns,
      partitionValues = relPv.filter(_._2.nonEmpty).toMap)
    relPv.map(_._1)
  }

  /** Import a Delta-format directory (the inverse bridge): load the base
    * state from the latest parquet CHECKPOINT when `_last_checkpoint`
    * points at one (real Delta tables checkpoint every ~10 commits — a
    * reader that refuses checkpoints reads only toy tables), then replay
    * the commit-JSON TAIL in version order — `metaData` last-wins, `add`
    * activates a file, `remove` retires it (last action per path wins) —
    * and serve the active file set as a DataFrame with the log-declared
    * schema. Single-file and multi-part (`parts` in `_last_checkpoint`)
    * checkpoints are both read; a gap in the tail's version sequence
    * refuses loudly (a missing commit silently time-travels the table).
    * `remove` rows inside a checkpoint are vacuum tombstones, not state —
    * they are ignored (the active set is exactly the checkpoint's `add`
    * rows, per delta.io PROTOCOL.md).
    *
    * Scale shape: the checkpoint is ONE parquet scan of all its parts
    * under an explicit schema (one Spark job, no schema inference) — the
    * file listing any planner must hold driver-side anyway; data files
    * are then ONE parquet scan over all active files (not one scan per
    * partition) — partition-column values, which Delta stores in the
    * `add.partitionValues` of the LOG rather than in the data files, are
    * restored by a broadcast join from file name to partition tuple, so
    * a table with 10^5 partitions costs one broadcast of 10^5 tiny rows,
    * not 10^5 driver-side reads. Active file basenames must be distinct
    * (true for Spark/Delta UUID part names and for [[exportSnapshot]]'s
    * `segment-part` names); violated ⇒ loud error, never silent
    * misattribution.
    *
    * `verifySizes` (default true) checks every active file's on-disk
    * byte count against its `add.size` before any read — the same
    * corruption gate [[graft.functions.ShardExport.readShards]] applies
    * to shard manifests.
    */
  def importSnapshot(
      spark: SparkSession, deltaDir: String,
      verifySizes: Boolean = true): org.apache.spark.sql.DataFrame = {
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    assembleSnapshot(spark, root, st, verifySizes)
  }

  /** [[importSnapshot]] with FILE-LEVEL DATA SKIPPING: live files whose
    * per-file statistics (`add.stats` minValues/maxValues/nullCount —
    * PROTOCOL.md "Per-file Statistics") or partition values PROVE no row
    * can satisfy `pred` are never opened, and `pred` is re-applied on the
    * scanned rows as a residual filter, so pruning is pure I/O savings —
    * a wrong-side bound can cost a file read, never a row. At 100 TB
    * this is the difference between a point query touching the 3 files
    * whose [min,max] overlap the key and a full-table scan: the prune
    * runs driver-side over the already-resolved O(files) log state (the
    * same rows Delta's own skipping reads), and the executor scan lists
    * only the survivors. Returns the filtered frame plus the
    * [[DataSkipping.SkipReport]] so callers can assert the prune did
    * what the layout promised.
    */
  def importSnapshotWhere(
      spark: SparkSession, deltaDir: String, pred: DataSkipping.Pred,
      verifySizes: Boolean = true)
      : (org.apache.spark.sql.DataFrame, DataSkipping.SkipReport) = {
    import org.apache.spark.sql.types.StructType
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    val schema = org.apache.spark.sql.types.DataType.fromJson(st.schemaJson)
      .asInstanceOf[StructType]
    val mapped = st.cmMode.isDefined
    // stats JSON and partitionValues are keyed by PHYSICAL name under
    // column mapping; predicates speak LOGICAL names — normalize at parse
    val physToLogical: Map[String, String] =
      schema.fields.map(f => physicalName(f, mapped) -> f.name).toMap
    val colType = (c: String) => schema.fields.find(_.name == c).map(_.dataType)
    val (keep, skip) = st.active.toSeq.sortBy(_._1).partition { case (_, af) =>
      val fs = fileStatsOf(af, schema, st.partCols, physToLogical, mapped)
      DataSkipping.mayMatch(fs, pred, colType)
    }
    skip.foreach { case (rel, _) => st.active.remove(rel) }
    val report = DataSkipping.SkipReport(
      keep.map(_._1), skip.map(_._1))
    (assembleSnapshot(spark, root, st, verifySizes).filter(pred.toColumn), report)
  }

  /** VERSION time travel — `VERSION AS OF v`: the state at commit `v`,
    * resolved through the same single replay path as [[importSnapshot]]
    * (a checkpoint newer than `v` is bypassed in favor of the JSON log
    * from 0; cleaned-up early commits refuse rather than serve a partial
    * state). The pinned files must still exist on disk — [[vacuum]]
    * beyond the retention window is exactly what invalidates old
    * versions, and the assembler's existence check makes that refusal
    * loud.
    */
  def importSnapshotAt(
      spark: SparkSession, deltaDir: String, version: Long,
      verifySizes: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(version >= 0, s"negative version $version")
    val st = resolveState(spark, deltaDir, Some(version))
    assembleSnapshot(spark, Paths.get(deltaDir), st, verifySizes)
  }

  /** TIMESTAMP time travel — `TIMESTAMP AS OF t`: the latest version
    * whose commit time is at or before `tsMillis`. Commit time is the
    * `commitInfo.timestamp` the writer recorded when present, else the
    * commit file's modification time (the protocol's fallback), with
    * Delta's monotonicity adjustment (each commit's effective time is at
    * least its predecessor's + 1 ms — clock skew between writers must
    * never make history non-monotonic, or `t` could resolve to two
    * versions). Asking before the first resolvable commit refuses.
    */
  def importSnapshotAsOfTimestamp(
      spark: SparkSession, deltaDir: String, tsMillis: Long,
      verifySizes: Boolean = true): org.apache.spark.sql.DataFrame = {
    val root = Paths.get(deltaDir)
    val logDir = root.resolve("_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log under $deltaDir")
    val ts = commitTimestamps(logDir)
    require(ts.nonEmpty, s"empty _delta_log under $deltaDir")
    val eligible = ts.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no commit at or before timestamp $tsMillis (first commit is at ${ts.head._2})")
    importSnapshotAt(spark, deltaDir, eligible.last._1, verifySizes)
  }

  /** (version, effective commit time) for every commit JSON present, in
    * version order, monotonicity-adjusted (see
    * [[importSnapshotAsOfTimestamp]]).
    */
  private def commitTimestamps(logDir: Path): Seq[(Long, Long)] = {
    val raw = listCommits(logDir).map { p =>
      val fromInfo = readCommit(p).collectFirst { case CommitInfo(Some(t)) => t }
      versionOf(p) -> fromInfo.getOrElse(Files.getLastModifiedTime(p).toMillis)
    }
    raw.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (v, t)) =>
      acc :+ (v -> acc.lastOption.map { case (_, pt) => math.max(t, pt + 1) }
        .getOrElse(t))
    }
  }

  /** What [[restore]] committed. */
  case class RestoreReport(
      restoredToVersion: Long, committedVersion: Long,
      filesAdded: Int, filesRemoved: Int, metadataRestored: Boolean)

  /** RESTORE TABLE ... VERSION AS OF — roll the live state back to
    * `toVersion` as a NEW commit (history is append-only; the rolled-back
    * commits stay replayable, so a bad restore can itself be restored
    * away): re-ADD every file live at `toVersion` whose state (path, DV,
    * partition values, stats) differs from the current one, REMOVE every
    * currently-live file that wasn't live then, and restore the target's
    * metaData (schema / partition columns / configuration) when it
    * differs. Files already vacuumed refuse BEFORE anything is written —
    * a restore that commits first and discovers missing bytes on read
    * would leave the table broken.
    *
    * Metadata-scale work: two log replays plus one commit; zero data
    * bytes move — at 100 TB a restore costs the same as at 100 MB.
    */
  def restore(spark: SparkSession, deltaDir: String, toVersion: Long): RestoreReport = {
    val root = Paths.get(deltaDir)
    val target = resolveState(spark, deltaDir, Some(toVersion))
    val current = resolveState(spark, deltaDir)
    val tip = tipVersion(root.resolve("_delta_log"))
    require(toVersion < tip,
      s"restore target $toVersion is not before the current version $tip")
    // a file is unchanged when everything a reader serves from it is —
    // the add's commit time and dataChange flag do not count
    def served(af: AddFile) = (af.path, af.size, af.partitionValues, af.deletionVector, af.stats)
    val adds = target.active.toSeq.collect {
      case (p, af) if !current.active.get(p).map(served).contains(served(af)) => (p, af)
    }.sortBy(_._1)
    val removes = (current.active.keySet -- target.active.keySet).toSeq.sorted
    adds.foreach { case (rel, _) =>
      require(Files.exists(root.resolve(rel)),
        s"cannot restore version $toVersion: live file '$rel' is gone " +
          "(vacuumed beyond retention) — nothing was committed")
    }
    val metaChanged = target.schemaJson != current.schemaJson ||
      target.partCols != current.partCols ||
      target.configuration != current.configuration
    writeCommit(deltaDir, tip + 1,
      adds = adds.map(_._1),
      removes = removes,
      schemaJson = if (metaChanged) Some(target.schemaJson) else None,
      dvs = adds.flatMap { case (p, af) => af.deletionVector.map(p -> _) }.toMap,
      configuration = if (metaChanged) target.configuration else Map.empty,
      partitionColumns = if (metaChanged) target.partCols else Nil,
      partitionValues = adds.map { case (p, af) => p -> af.partitionValues }.toMap,
      stats = adds.flatMap { case (p, af) => af.stats.map(p -> _) }.toMap)
    RestoreReport(toVersion, tip + 1, adds.size, removes.size, metaChanged)
  }

  /** CHANGE DATA FEED read — `table_changes(from, to)`: row-level changes
    * per commit, `_change_type` ∈ insert / update_preimage /
    * update_postimage / delete plus `_commit_version`. Per PROTOCOL.md's
    * reader rule, a commit that carries `cdc` actions serves its changes
    * from those `_change_data` files EXCLUSIVELY; a commit without them
    * derives changes from its add/remove actions with `dataChange=true`
    * (added files' rows are inserts, removed files' rows are deletes —
    * the pure-append/blind-delete shapes). A commit that attached
    * deletion vectors without cdc actions REFUSES: its row-level delta
    * is not derivable from file actions (the DV diff never materializes
    * rows), and guessing would silently under-report changes.
    *
    * Scale shape: only the files the commits in [from, to] name are
    * read — change-proportional, never a table scan; that is the whole
    * point of CDF as an incremental-consumer contract at 100 TB.
    * Unpartitioned scope (cdc partition routing mirrors the merge-side
    * refusal); vacuum reclaims aged `_change_data` files, so feeds are
    * readable within the retention window — the same contract real
    * Delta documents.
    */
  def readChangeFeed(spark: SparkSession, deltaDir: String,
      fromVersion: Long, toVersion: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad change-feed range [$fromVersion, $toVersion]")
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    require(st.partCols.isEmpty,
      "change-feed read on a partitioned table is out of scope")
    require(st.cmMode.isEmpty,
      "change-feed read on a column-mapped table is out of scope")
    val schema = org.apache.spark.sql.types.DataType.fromJson(st.schemaJson)
      .asInstanceOf[StructType]
    val cdcSchema = schema.add("_change_type", org.apache.spark.sql.types.StringType)
    val perCommit = (fromVersion to toVersion).map { v =>
      val commit = root.resolve("_delta_log").resolve(f"$v%020d.json")
      require(Files.exists(commit),
        s"commit $v is gone (log cleaned up) — the change feed below the " +
          "checkpoint horizon is unreadable")
      val actions = readCommit(commit)
      (v,
        actions.collect { case c: AddCdcFile => decodeLogPath(c.path) },
        actions.collect { case a: AddFile if a.dataChange => decodeLogPath(a.path) },
        actions.collect { case r: RemoveFile if r.dataChange => decodeLogPath(r.path) },
        actions.exists { case a: AddFile => a.deletionVector.isDefined; case _ => false })
    }
    def readRel(rels: Seq[String], readSchema: StructType): org.apache.spark.sql.DataFrame = {
      val abs = rels.map { rel =>
        val p = root.resolve(rel)
        require(Files.exists(p), s"change-feed file gone (vacuumed?): $p")
        p.toString
      }
      spark.read.schema(readSchema).parquet(abs: _*)
    }
    val frames = perCommit.flatMap { case (v, cdc, adds, removes, dvSeen) =>
      if (cdc.nonEmpty)
        Seq(readRel(cdc, cdcSchema).withColumn("_commit_version", lit(v)))
      else {
        require(!dvSeen,
          s"commit $v attached deletion vectors without cdc actions — its " +
            "row-level changes are not derivable from file actions, refusing")
        val ins = if (adds.isEmpty) Nil else Seq(
          readRel(adds, schema).withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val del = if (removes.isEmpty) Nil else Seq(
          readRel(removes, schema).withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v)))
        ins ++ del
      }
    }
    val outSchema = cdcSchema.add("_commit_version", org.apache.spark.sql.types.LongType)
    frames.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], outSchema))
      .select(outSchema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }

  /** Normalize one active file's skipping inputs into a
    * [[DataSkipping.FileStats]]: the `add.stats` JSON parsed typed via
    * the logical schema, overlaid with the file's partition values as
    * degenerate [v, v] intervals (a partition column is constant per
    * file — PROTOCOL.md partitionValues serialization, which spells
    * timestamps with a space separator). A NULL partition value counts
    * every record null for that column, so comparisons skip and IsNull
    * keeps — the same SQL-null contract the stats rules follow.
    */
  private def fileStatsOf(
      af: AddFile,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      physToLogical: Map[String, String],
      mapped: Boolean): DataSkipping.FileStats = {
    import org.apache.spark.sql.types._
    val parsed = af.stats.flatMap { sj =>
      scala.util.Try(mapper.readTree(sj)).toOption
    }
    var numRecords: Option[Long] = parsed.flatMap(n =>
      Option(n.get("numRecords")).filterNot(_.isNull).map(_.asLong()))
    val mins = Map.newBuilder[String, Any]
    val maxs = Map.newBuilder[String, Any]
    val nulls = Map.newBuilder[String, Long]
    parsed.foreach { n =>
      def walk(objName: String, into: (String, Any) => Unit): Unit =
        Option(n.get(objName)).filterNot(_.isNull).foreach { o =>
          o.properties().forEach { e =>
            val logical = physToLogical.getOrElse(e.getKey, e.getKey)
            schema.fields.find(_.name == logical).foreach { f =>
              DataSkipping.parseStatsValue(e.getValue, f.dataType)
                .foreach(v => into(logical, v))
            }
          }
        }
      walk("minValues", (k, v) => { mins += k -> v; () })
      walk("maxValues", (k, v) => { maxs += k -> v; () })
      Option(n.get("nullCount")).filterNot(_.isNull).foreach { o =>
        o.properties().forEach { e =>
          if (e.getValue.isIntegralNumber) {
            val logical = physToLogical.getOrElse(e.getKey, e.getKey)
            nulls += logical -> e.getValue.asLong()
          }
        }
      }
    }
    // partition columns: constant per file, so pv IS the exact interval
    partCols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      val pv = af.partitionValues.get(c).orElse(
        f.flatMap(ff => af.partitionValues.get(physicalName(ff, mapped))))
      (f, pv) match {
        case (Some(ff), Some(Some(raw))) =>
          parsePartitionValue(raw, ff.dataType).foreach { v =>
            mins += c -> v; maxs += c -> v; nulls += c -> 0L
          }
        case (Some(_), Some(None)) =>
          // all rows of this file are NULL in c; anchor the proof even
          // when the file carries no stats JSON (numRecords unknown)
          if (numRecords.isEmpty) numRecords = Some(1L)
          nulls += c -> numRecords.get
        case _ => ()
      }
    }
    DataSkipping.FileStats(numRecords, mins.result(), maxs.result(), nulls.result())
  }

  /** PROTOCOL.md partition-value deserialization for the types skipping
    * compares: numbers/strings/bools direct, date ISO, timestamp
    * space-separated local → UTC instant.
    */
  private def parsePartitionValue(
      raw: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(raw.toLong).toOption
      case FloatType | DoubleType => scala.util.Try(raw.toDouble).toOption
      case _: DecimalType =>
        scala.util.Try(new java.math.BigDecimal(raw)).toOption
      case StringType => Some(raw)
      case BooleanType => raw.toLowerCase match {
        case "true" => Some(true); case "false" => Some(false); case _ => None
      }
      case DateType =>
        scala.util.Try(java.time.LocalDate.parse(raw)).toOption
      case TimestampType =>
        scala.util.Try(java.time.LocalDateTime
          .parse(raw.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)).toOption
      case _ => None
    }
  }

  private def assembleSnapshot(
      spark: SparkSession, root: Path, st: LogState,
      verifySizes: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._

    val schemaJson = st.schemaJson
    val partCols = st.partCols
    val active = st.active
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    // column mapping: the parquet files carry PHYSICAL names (per-field
    // schemaString metadata); read physically, serve logically. A RENAME
    // only rewrites the logical name in the metaData — the physical
    // name/id is immutable — so pre-rename files read correctly with
    // zero rewrite (the whole point of the mode). ID mode (round 16)
    // rides the same path with field ids attached to the read schema and
    // Spark's native field-id resolution switched on — on a CLONED
    // session (round 17, ADVICE r16): the returned DataFrame is lazy, so
    // the flag must outlive this call, but it must never leak into the
    // caller's session where a later unrelated read of field-id-bearing
    // parquet would silently start resolving by id. A clone shares the
    // SparkContext (zero executor cost) with an isolated conf.
    val mapped = st.cmMode.isDefined
    val session =
      if (!st.cmMode.contains("id")) spark
      else {
        // newSession(): same SparkContext (zero executor cost), ISOLATED
        // SQLConf seeded from the context's SparkConf — builder-level
        // settings (timezone, shuffle partitions) carry, later session
        // mutations don't leak in either direction
        val c = spark.newSession()
        c.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        c
      }
    val dataSchema = physicalType(
      StructType(schema.filterNot(f => partCols.contains(f.name))), st.cmMode)
      .asInstanceOf[StructType]

    val files = active.toSeq.sortBy(_._1).map { case (rel0, af) =>
      val rel = diskRel(root, rel0, af.path)
      val p = root.resolve(rel)
      require(Files.exists(p), s"active file missing on disk: $p")
      if (verifySizes) {
        val got = Files.size(p)
        require(got == af.size,
          s"size mismatch for $rel: log says ${af.size} bytes, disk has $got")
      }
      (p, af)
    }
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    val paths = files.map(_._1.toString)
    val base = session.read.schema(dataSchema).parquet(paths: _*)
    val withParts =
      if (partCols.isEmpty) base
      else {
        val names = files.map(_._1.getFileName.toString)
        require(names.distinct.size == names.size,
          "active data files have colliding basenames — cannot attribute partitionValues")
        val mapRows = files.map { case (p, af) =>
          // under name-mode mapping the log's partitionValues are keyed by
          // PHYSICAL name (PROTOCOL.md Column Mapping); logical tolerated
          org.apache.spark.sql.Row.fromSeq(
            p.getFileName.toString +: partCols.map { c =>
              af.partitionValues.get(physicalName(schema(c), mapped))
                .orElse(af.partitionValues.get(c)).flatten.orNull
            })
        }
        val mapSchema = StructType(
          org.apache.spark.sql.types.StructField("__graft_file",
            org.apache.spark.sql.types.StringType, nullable = false) +:
          partCols.map(c => org.apache.spark.sql.types.StructField(
            "__graft_pv_" + c, org.apache.spark.sql.types.StringType)))
        val pvDf = session.createDataFrame(mapRows.asJava, mapSchema)
        val withFile = base.withColumn("__graft_file",
          element_at(split(input_file_name(), "/"), -1))
        val joined = withFile.join(broadcast(pvDf), Seq("__graft_file"), "left")
        partCols.foldLeft(joined) { (df, c) =>
          val t = schema(c).dataType
          df.withColumn(c, col("__graft_pv_" + c).cast(t))
        }
      }
    val masked = applyDeletionVectors(session, root, withParts, files)
    // physical -> logical restore: pure projection (renames + by-position
    // struct casts for nested fields) — no data movement, pruning intact
    masked.select(schema.fields.map { f =>
      if (partCols.contains(f.name) || !mapped) col(f.name)
      else col(physicalName(f, mapped)).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** The resolved LIVE state of a Delta table, for cross-format consumers
    * ([[IcebergInterop.convertFromDelta]] — the UniForm-style conversion):
    * last-wins schema JSON, partition columns, the column-mapping mode,
    * and the active files as (absolutePath, logSize, carriesDv,
    * partitionValues). Shares [[resolveState]] with the readers, so a
    * converter can never disagree with [[importSnapshot]] about what is
    * live.
    */
  final case class LiveState(
      schemaJson: String, partitionColumns: Seq[String],
      columnMappingMode: Option[String],
      files: Seq[(String, Long, Boolean, Map[String, Option[String]])])

  def liveState(spark: SparkSession, deltaDir: String): LiveState = {
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    LiveState(st.schemaJson, st.partCols, st.cmMode,
      st.active.toSeq.sortBy(_._1).map { case (rel, af) =>
        (root.resolve(diskRel(root, rel, af.path)).toString,
          af.size, af.deletionVector.isDefined, af.partitionValues)
      })
  }

  /** Resolve the table state at `deltaDir`: checkpoint base (when
    * `_last_checkpoint` points at one) + commit-JSON tail replay through
    * the one [[replay]] fold, then the reader-protocol gate. Shared by
    * every reader and writer that needs the live state, so none can
    * disagree with another on what is live.
    */
  private def resolveState(
      spark: SparkSession, deltaDir: String,
      asOfVersion: Option[Long] = None): LogState = {
    val logDir = Paths.get(deltaDir).resolve("_delta_log")
    require(Files.isDirectory(logDir), s"no _delta_log under $deltaDir")
    val st = new LogState
    // version-pinned resolve (time travel / RESTORE): a checkpoint NEWER
    // than the pinned version is useless (it has already folded later
    // commits in), so the replay falls back to the JSON log from 0 —
    // refusing below if pre-checkpoint commits were cleaned up, rather
    // than silently serving a partial state
    val cpVersion = lastCheckpoint(logDir).filter(cp => asOfVersion.forall(cp._1 <= _)) match {
      case None => -1L
      case Some((v, parts)) =>
        val base = readCheckpoint(spark, logDir, v, parts)
        // a parquet file that is no checkpoint reads as all-null rows
        val mds = base.count(_.isInstanceOf[MetaData])
        require(mds == 1,
          s"checkpoint at version $v carries $mds metaData rows, want exactly 1")
        replay(base, st)
        v
    }

    // ---- commit-JSON tail replay ----
    val commits = listCommits(logDir).filter { p =>
      val v = versionOf(p)
      v > cpVersion && asOfVersion.forall(v <= _)
    }
    require(cpVersion >= 0 || commits.nonEmpty, s"empty _delta_log under $deltaDir")
    val tailVersions = commits.map(versionOf)
    if (tailVersions.nonEmpty) {
      require(cpVersion < 0 || tailVersions.head == cpVersion + 1,
        s"commit gap after checkpoint $cpVersion: tail starts at ${tailVersions.head}")
      require(tailVersions == (tailVersions.head to tailVersions.last),
        s"gap in commit log versions: ${tailVersions.mkString(",")}")
    }
    asOfVersion.foreach { want =>
      require(cpVersion >= 0 || tailVersions.headOption.contains(0L),
        s"version $want needs the log from 0, but pre-checkpoint commits " +
          s"were cleaned up (replay would start at " +
          s"${tailVersions.headOption.getOrElse(-1L)}) — refusing a partial state")
      val tip = tailVersions.lastOption.getOrElse(cpVersion)
      require(tip == want,
        s"version $want not in the log (resolvable tip at or before it is $tip)")
    }
    commits.foreach(c => replay(readCommit(c), st))
    require(st.metaData != null, s"log at $deltaDir carries no metaData action")
    gateProtocol(st, deltaDir)
    st
  }

  /** `_last_checkpoint`'s (version, parts), when the pointer exists. */
  private def lastCheckpoint(logDir: Path): Option[(Long, Option[Int])] = {
    val ptr = logDir.resolve("_last_checkpoint")
    Option.when(Files.exists(ptr)) {
      val n = mapper.readTree(Files.readAllBytes(ptr))
      (n.get("version").asLong(), Option(n.get("parts")).filterNot(_.isNull).map(_.asInt()))
    }
  }

  /** The spec's file names of checkpoint `version`: single-file, or the
    * multi-part `v.checkpoint.i.parts.parquet` form.
    */
  private def checkpointFiles(logDir: Path, version: Long, parts: Option[Int]): Seq[Path] =
    parts match {
      case None    => Seq(logDir.resolve(f"$version%020d.checkpoint.parquet"))
      case Some(k) => (1 to k).map(i =>
        logDir.resolve(f"$version%020d.checkpoint.$i%010d.$k%010d.parquet"))
    }

  /** Every action of checkpoint `version`, all parts read in ONE scan
    * under [[CheckpointSchema]] and one collect — the O(files) rows any
    * planner must hold driver-side anyway. The explicit schema infers
    * nothing: a column or nested field the writer left out (an external
    * checkpoint without `add.stats` or `add.deletionVector`) reads as
    * null, exactly as the JSON decoder treats an absent field.
    */
  private def readCheckpoint(
      spark: SparkSession, logDir: Path, version: Long, parts: Option[Int]): Seq[Action] = {
    val files = checkpointFiles(logDir, version, parts)
    files.foreach(p => require(Files.exists(p),
      s"_last_checkpoint points at version $version but $p is missing"))
    spark.read.schema(CheckpointSchema).parquet(files.map(_.toString): _*)
      .collect().toSeq.flatMap(fromRow)
  }

  /** Mask DV'd rows out of the assembled scan: each live file's deletion
    * vector is parsed ON EXECUTORS (one task per descriptor, memory
    * bounded by that DV's compressed size) into `(file, row_index)` pairs,
    * which LEFT-ANTI join the data on
    * (normalized `_metadata.file_path`, `_metadata.row_index`) — the
    * identical shape the Iceberg bridge uses for v2 position deletes
    * (q146). The total deleted-row count is known driver-side from the
    * descriptors' `cardinality` WITHOUT reading any bitmap, so the build
    * side is broadcast exactly when it is provably small and shuffled
    * otherwise — the decision a 100 TB import must get right.
    */
  private def applyDeletionVectors(
      spark: SparkSession, root: Path,
      df: org.apache.spark.sql.DataFrame,
      files: Seq[(Path, AddFile)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dvd = files.collect { case (p, af) if af.deletionVector.isDefined => (p.toString, af.deletionVector.get) }
    if (dvd.isEmpty) return df
    val totalDeleted = dvd.map(_._2.cardinality).sum
    import spark.implicits._
    val descDs = spark.createDataset(dvd.map { case (abs, d) =>
      (abs, d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes,
        d.cardinality)
    })
    val rootStr = root.toString
    val deleted = descDs.flatMap { case (abs, st0, pOrI, off, size, card) =>
      val desc = DeletionVectors.DvDescriptor(
        st0, pOrI, if (off < 0) None else Some(off), size, card)
      DeletionVectors.deletedRows(java.nio.file.Paths.get(rootStr), desc)
        .map(idx => (abs, idx))
    }.toDF("__graft_dv_path", "__graft_dv_pos")
    val build =
      if (totalDeleted <= (1L << 20)) broadcast(deleted) else deleted
    df.withColumn("__graft_dv_path",
        regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
      .join(build, Seq("__graft_dv_path", "__graft_dv_pos"), "left_anti")
  }

  // ---- the log's action model: one JSON codec, one checkpoint-row codec ----

  /** One Delta log action (PROTOCOL.md "Actions"). Paths stay as the log
    * spells them — percent-encoded for spec writers, raw for off-spec ones
    * — and [[replay]] decodes them; action kinds the bridge does not model
    * (`txn`, `domainMetadata`, ...) decode to nothing.
    */
  private sealed trait Action

  private final case class Protocol(
      minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None) extends Action

  /** `id` is the table's identity: minted at v0, carried by every later
    * metaData, checkpointed as is.
    */
  private final case class MetaData(
      id: String, provider: String, schemaString: String,
      partitionColumns: Seq[String], configuration: Map[String, String],
      createdTime: Option[Long]) extends Action {
    // column mapping renames the PHYSICAL parquet columns away from the
    // logical schema names. NAME mode: every field's physical name is
    // declared in the schemaString's per-field metadata — PROTOCOL.md
    // "Column Mapping" — so the read maps physical -> logical
    // deterministically and renames cost nothing. ID mode: columns resolve
    // by parquet field id, which the read honors by attaching each field's
    // delta.columnMapping.id as parquet.field.id on the scan schema (native
    // Spark field-id resolution). Unknown modes refuse in [[replay]].
    def cmMode: Option[String] =
      configuration.get("delta.columnMapping.mode").filterNot(_ == "none")
  }

  /** One live file: its declared size, partition values, per-file stats
    * JSON and (reader protocol v3 `deletionVectors` feature) the deletion
    * vector masking its dead rows.
    */
  private final case class AddFile(
      path: String, partitionValues: Map[String, Option[String]], size: Long,
      modificationTime: Long, dataChange: Boolean, stats: Option[String],
      deletionVector: Option[DeletionVectors.DvDescriptor]) extends Action

  private final case class RemoveFile(
      path: String, deletionTimestamp: Option[Long], dataChange: Boolean) extends Action

  /** PROTOCOL.md "Add CDC File": a change-data file of the commit's
    * row-level changes (unpartitioned; `dataChange` is always false).
    */
  private final case class AddCdcFile(path: String, size: Long) extends Action

  private final case class CommitInfo(timestamp: Option[Long]) extends Action

  /** One commit line per action, fields in PROTOCOL.md order. */
  private def toJson(action: Action): String = {
    val n = mapper.createObjectNode()
    def strings(o: ObjectNode, name: String, xs: Seq[String]): Unit = {
      val arr = o.putArray(name)
      xs.foreach(arr.add)
    }
    action match {
      case p: Protocol =>
        val o = n.putObject("protocol")
        o.put("minReaderVersion", p.minReaderVersion)
        o.put("minWriterVersion", p.minWriterVersion)
        p.readerFeatures.foreach(strings(o, "readerFeatures", _))
        p.writerFeatures.foreach(strings(o, "writerFeatures", _))
      case m: MetaData =>
        val o = n.putObject("metaData")
        o.put("id", m.id)
        val fmt = o.putObject("format")
        fmt.put("provider", m.provider); fmt.putObject("options")
        o.put("schemaString", m.schemaString)
        strings(o, "partitionColumns", m.partitionColumns)
        val cfg = o.putObject("configuration")
        m.configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
        m.createdTime.foreach(t => o.put("createdTime", t))
      case a: AddFile =>
        val o = n.putObject("add")
        o.put("path", a.path)
        val pv = o.putObject("partitionValues")
        a.partitionValues.toSeq.sortBy(_._1).foreach {
          case (c, Some(v)) => pv.put(c, v)
          case (c, None)    => pv.putNull(c)
        }
        o.put("size", a.size)
        o.put("modificationTime", a.modificationTime)
        o.put("dataChange", a.dataChange)
        // per-file statistics (PROTOCOL.md "Per-file Statistics") ride
        // verbatim as the JSON string computeAddStats produced
        a.stats.foreach(s => o.put("stats", s))
        a.deletionVector.foreach { d =>
          val dn = o.putObject("deletionVector")
          dn.put("storageType", d.storageType)
          dn.put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(off => dn.put("offset", off))
          dn.put("sizeInBytes", d.sizeInBytes)
          dn.put("cardinality", d.cardinality)
        }
      case r: RemoveFile =>
        val o = n.putObject("remove")
        o.put("path", r.path)
        r.deletionTimestamp.foreach(t => o.put("deletionTimestamp", t))
        o.put("dataChange", r.dataChange)
      case c: AddCdcFile =>
        val o = n.putObject("cdc")
        o.put("path", c.path)
        o.putObject("partitionValues")
        o.put("size", c.size)
        o.put("dataChange", false)
      case c: CommitInfo =>
        val o = n.putObject("commitInfo")
        c.timestamp.foreach(t => o.put("timestamp", t))
        o.put("engineInfo", "graft")
    }
    mapper.writeValueAsString(n)
  }

  /** The one parse of a commit line. An absent `dataChange` reads true,
    * as PROTOCOL.md's readers assume.
    */
  private def fromJson(line: String): Option[Action] = {
    import scala.jdk.CollectionConverters._
    def field(o: JsonNode, name: String): Option[JsonNode] =
      Option(o.get(name)).filterNot(_.isNull)
    def text(o: JsonNode, name: String) = field(o, name).map(_.asText())
    def long(o: JsonNode, name: String) = field(o, name).map(_.asLong())
    def strings(o: JsonNode, name: String) =
      field(o, name).map(_.elements().asScala.map(_.asText()).toSeq)
    def entries(o: JsonNode, name: String) =
      field(o, name).toSeq.flatMap(_.properties().asScala)
    val node = mapper.readTree(line)
    field(node, "protocol").map[Action] { p =>
      Protocol(p.get("minReaderVersion").asInt(), p.get("minWriterVersion").asInt(),
        strings(p, "readerFeatures"), strings(p, "writerFeatures"))
    }.orElse(field(node, "metaData").map { m =>
      MetaData(text(m, "id").orNull,
        field(m, "format").flatMap(text(_, "provider")).orNull,
        m.get("schemaString").asText(),
        strings(m, "partitionColumns").getOrElse(Nil),
        entries(m, "configuration").collect {
          case e if !e.getValue.isNull => e.getKey -> e.getValue.asText()
        }.toMap,
        long(m, "createdTime"))
    }).orElse(field(node, "add").map { a =>
      AddFile(a.get("path").asText(),
        entries(a, "partitionValues").map(e =>
          e.getKey -> Option(e.getValue).filterNot(_.isNull).map(_.asText())).toMap,
        a.get("size").asLong(), long(a, "modificationTime").getOrElse(0L),
        field(a, "dataChange").forall(_.asBoolean()),
        text(a, "stats").filter(_.nonEmpty),
        field(a, "deletionVector").map { d =>
          DeletionVectors.DvDescriptor(d.get("storageType").asText(),
            d.get("pathOrInlineDv").asText(), field(d, "offset").map(_.asInt()),
            d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
        })
    }).orElse(field(node, "remove").map { r =>
      RemoveFile(r.get("path").asText(), long(r, "deletionTimestamp"),
        field(r, "dataChange").forall(_.asBoolean()))
    }).orElse(field(node, "cdc").map { c =>
      AddCdcFile(c.get("path").asText(), long(c, "size").getOrElse(0L))
    }).orElse(field(node, "commitInfo").map(c => CommitInfo(long(c, "timestamp"))))
  }

  /** PROTOCOL.md checkpoint schema, one row per action: the `protocol`,
    * `metaData` and `add` structs this bridge reads and writes (checkpoint
    * `remove` rows are vacuum tombstones, not state). `configuration`,
    * `add.deletionVector` and `add.stats` must survive a checkpoint:
    * dropping the first serves NULLs for every column-mapped column, the
    * second resurrects checkpointed deletes, the third disables data
    * skipping past the checkpoint.
    */
  private val CheckpointSchema: StructType = {
    import org.apache.spark.sql.types._
    val strings = ArrayType(StringType)
    val stringMap = MapType(StringType, StringType)
    StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", strings),
        StructField("writerFeatures", strings)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", strings),
        StructField("configuration", stringMap),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", stringMap),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        StructField("stats", StringType))))))
  }

  /** One [[CheckpointSchema]] row per protocol, metaData or add action. */
  private def toRow(action: Action): Row = action match {
    case p: Protocol =>
      Row(Row(p.minReaderVersion, p.minWriterVersion,
        p.readerFeatures.orNull, p.writerFeatures.orNull), null, null)
    case m: MetaData =>
      Row(null, Row(m.id, Row(m.provider), m.schemaString, m.partitionColumns,
        m.configuration, m.createdTime.map(Long.box).orNull), null)
    case a: AddFile =>
      Row(null, null, Row(a.path, a.partitionValues.map { case (k, v) => k -> v.orNull },
        a.size, a.modificationTime, a.dataChange,
        a.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull,
        a.stats.orNull))
    case other =>
      throw new IllegalArgumentException(s"a checkpoint carries no $other rows")
  }

  /** The inverse of [[toRow]]; a null nested field decodes as the JSON
    * decoder decodes an absent one.
    */
  private def fromRow(row: Row): Option[Action] = {
    def opt[T](r: Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    def strings(r: Row, i: Int) = opt[scala.collection.Seq[String]](r, i).map(_.toSeq)
    def stringMap(r: Row, i: Int) =
      opt[scala.collection.Map[String, String]](r, i).getOrElse(Map.empty)
    opt[Row](row, 0).map[Action] { p =>
      Protocol(p.getInt(0), p.getInt(1), strings(p, 2), strings(p, 3))
    }.orElse(opt[Row](row, 1).map { m =>
      MetaData(m.getString(0), opt[Row](m, 1).map(_.getString(0)).orNull, m.getString(2),
        strings(m, 3).getOrElse(Nil),
        stringMap(m, 4).collect { case (k, v) if v != null => k -> v }.toMap,
        opt[Long](m, 5))
    }).orElse(opt[Row](row, 2).map { a =>
      AddFile(a.getString(0), stringMap(a, 1).map { case (k, v) => k -> Option(v) }.toMap,
        a.getLong(2), opt[Long](a, 3).getOrElse(0L), opt[Boolean](a, 4).getOrElse(true),
        opt[String](a, 6).filter(_.nonEmpty),
        opt[Row](a, 5).map(d => DeletionVectors.DvDescriptor(
          d.getString(0), d.getString(1), opt[Int](d, 2),
          d.getInt(3), d.getLong(4))))
    })
  }

  /** Log-replay state: the last protocol and metaData actions, and the
    * live files keyed by DECODED path (PROTOCOL.md mandates
    * percent-encoding; the add keeps the log's verbatim path, which
    * vacuum's live set also needs — see [[vacuum]]).
    */
  private final class LogState {
    var protocol: Protocol = Protocol(1, 2)
    var metaData: MetaData = _
    // path -> live add; insertion order irrelevant (reads sort)
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    def schemaJson: String = metaData.schemaString
    def partCols: Seq[String] = metaData.partitionColumns
    def configuration: Map[String, String] = metaData.configuration
    def cmMode: Option[String] = metaData.cmMode
  }

  /** The one fold over log actions, for checkpoint rows and commit lines
    * alike: protocol and metaData last-wins, add activates, remove retires
    * (last action per path wins). The ONE point paths are decoded, so
    * importSnapshot, liveState, vacuum, deleteWhere and both
    * format converters can never disagree on the on-disk resolution.
    */
  private def replay(actions: Seq[Action], st: LogState): Unit = actions.foreach {
    case p: Protocol => st.protocol = p
    case m: MetaData =>
      require(m.provider == "parquet", s"unsupported format provider: ${m.provider}")
      gateCmMode(m.cmMode)
      st.metaData = m
    case a: AddFile => st.active.put(decodeLogPath(a.path), a)
    case r: RemoveFile => st.active.remove(decodeLogPath(r.path))
    case _ => ()
  }

  /** Reader features this bridge implements. `minReaderVersion` 3 tables
    * whose `readerFeatures` exceed this set REFUSE on import — reading a
    * table through an unimplemented reader feature (v2 checkpoints, type
    * widening, ...) produces silently wrong rows, the failure class the
    * Iceberg bridge refuses the same way. `columnMapping` is honored in
    * NAME mode only; the metaData parse refuses id mode before the gate.
    */
  private val SupportedReaderFeatures = Set("deletionVectors", "columnMapping")

  /** Declared column-mapping modes this bridge reads: name + id. A mode
    * string outside the protocol's vocabulary refuses at parse time —
    * mis-mapping columns is the silent-NULL failure class.
    */
  private def gateCmMode(mode: Option[String]): Unit =
    mode.foreach(m => require(m == "name" || m == "id",
      s"unknown delta.columnMapping.mode '$m' — this bridge reads " +
        "name and id modes"))

  private def gateProtocol(st: LogState, where: String): Unit = {
    val minReader = st.protocol.minReaderVersion
    if (minReader == 2) {
      // reader v2 = column mapping (PROTOCOL.md): honored iff the table
      // declares a mode we implement (name or id)
      require(st.cmMode.contains("name") || st.cmMode.contains("id"),
        s"minReaderVersion 2 at $where without a supported " +
          "delta.columnMapping.mode (name|id) — refusing rather than " +
          "mis-mapping columns")
    } else if (minReader >= 3) {
      require(minReader == 3,
        s"minReaderVersion $minReader at $where is beyond this bridge")
      val unsupported =
        st.protocol.readerFeatures.getOrElse(Nil).toSet -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"unsupported readerFeatures ${unsupported.mkString(",")} at $where — " +
          s"this bridge implements ${SupportedReaderFeatures.mkString(",")} only")
    }
  }

  /** The physical (on-disk parquet) column name of a schema field under
    * name-mode column mapping — declared per field in the schemaString's
    * metadata (PROTOCOL.md "Column Mapping"); a mapped table whose field
    * lacks the declaration refuses (guessing the logical name would
    * silently serve NULLs for genuinely-renamed columns).
    */
  private def physicalName(
      f: org.apache.spark.sql.types.StructField, mapped: Boolean): String =
    if (!mapped) f.name
    else {
      require(f.metadata.contains("delta.columnMapping.physicalName"),
        s"column-mapped table: field '${f.name}' carries no " +
          "delta.columnMapping.physicalName metadata — refusing to guess")
      f.metadata.getString("delta.columnMapping.physicalName")
    }

  /** Recursively rewrite a logical Spark type to its PHYSICAL shape under
    * column mapping: struct fields (at any depth) take their declared
    * physical names; arrays/maps recurse; scalars pass through. Types are
    * never changed — only names — so the physical->logical restore is a
    * by-position struct cast.
    *
    * Under ID mode (`mode = Some("id")`) each field ADDITIONALLY carries
    * its `delta.columnMapping.id` as `parquet.field.id` metadata — the
    * key Spark's parquet reader resolves by when
    * `spark.sql.parquet.fieldId.read.enabled` is on. That delegates the
    * whole id-resolution contract (PROTOCOL.md "Column Mapping": id-mode
    * columns resolve by parquet field id, never by name) to the native
    * vectorized scan: a file whose physical NAME drifted from the
    * metadata (an Iceberg-compat/UniForm import) still reads correctly
    * because the immutable field id matches, and a field id absent from
    * an older file null-fills exactly like schema evolution.
    */
  private def physicalType(
      dt: org.apache.spark.sql.types.DataType,
      mode: Option[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val mapped = mode.isDefined
    dt match {
      case st0: StructType => StructType(st0.fields.map { f =>
        val base = StructField(physicalName(f, mapped),
          physicalType(f.dataType, mode), f.nullable)
        if (mode.contains("id")) {
          require(f.metadata.contains("delta.columnMapping.id"),
            s"id-mapped table: field '${f.name}' carries no " +
              "delta.columnMapping.id metadata — refusing to guess")
          base.copy(metadata = new MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id")).build())
        } else base
      })
      case ArrayType(el, n) => ArrayType(physicalType(el, mode), n)
      case MapType(k, v, n) =>
        MapType(physicalType(k, mode), physicalType(v, mode), n)
      case other => other
    }
  }

  /** Every action of one commit JSON, in log order. */
  private def readCommit(commit: Path): Seq[Action] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(commit).asScala.toSeq.filter(_.nonEmpty).flatMap(fromJson)
  }

  private def versionOf(commit: Path): Long =
    commit.getFileName.toString.dropRight(5).toLong

  private def listCommits(logDir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(logDir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Compute PROTOCOL.md "Per-file Statistics" JSON for files about to be
    * added: ONE distributed pass over the named parquet files, grouped by
    * `_metadata.file_path`, aggregating numRecords + per-column
    * min/max/nullCount map-side — the driver collects exactly |files|
    * small rows (the bytes any Delta writer must hold to emit the log),
    * never data. Stats cover every top-level column of a skipping-capable
    * type (numeric/string/bool/date/timestamp/decimal), or the `columns`
    * subset when given; unsupported-typed columns get a nullCount only
    * (still enough for IsNull pruning). Feed the result to
    * [[writeCommit]]'s `stats` and [[importSnapshotWhere]] prunes on it.
    * A caller that holds the files' schema passes it as `dataSchema`: the
    * read then infers nothing (no footer-read Spark job).
    */
  def computeAddStats(
      spark: SparkSession, deltaDir: String, rels: Seq[String],
      columns: Seq[String] = Nil,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): Map[String, String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (rels.isEmpty) return Map.empty
    val root = Paths.get(deltaDir)
    val paths = rels.map { rel =>
      val p = root.resolve(rel)
      require(Files.exists(p), s"stats requested for a file not on disk: $p")
      p
    }
    val df = dataSchema.fold(spark.read)(spark.read.schema(_)).parquet(paths.map(_.toString): _*)
    def boundable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    val fields =
      if (columns.isEmpty) df.schema.fields.toSeq
      else columns.map(c => df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"stats column '$c' not in the files")))
    val aggs =
      count(lit(1)).as("__n") +:
      fields.flatMap { f =>
        val nc = sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nc_${f.name}")
        if (boundable(f.dataType))
          Seq(min(col(f.name)).as(s"__mn_${f.name}"),
            max(col(f.name)).as(s"__mx_${f.name}"), nc)
        else Seq(nc)
      }
    val rows = df
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byAbs = rows.map { r =>
      new java.net.URI(r.getAs[String]("__f")).getPath -> r
    }.toMap
    paths.zip(rels).map { case (p, rel) =>
      val abs = p.toAbsolutePath.toString
      val n = mapper.createObjectNode()
      byAbs.get(abs) match {
        case None => // zero-row file: parquet scan emits no group for it
          n.put("numRecords", 0L)
          n.putObject("minValues"); n.putObject("maxValues")
          val ncO = n.putObject("nullCount")
          fields.foreach(f => ncO.put(f.name, 0L))
        case Some(r) =>
          n.put("numRecords", r.getAs[Long]("__n"))
          val mnO = n.putObject("minValues")
          val mxO = n.putObject("maxValues")
          val ncO = n.putObject("nullCount")
          fields.foreach { f =>
            if (boundable(f.dataType)) {
              val mn = r.getAs[Any](s"__mn_${f.name}")
              val mx = r.getAs[Any](s"__mx_${f.name}")
              if (mn != null) DataSkipping.renderStatsValue(mnO, f.name, f.dataType, mn)
              if (mx != null) DataSkipping.renderStatsValue(mxO, f.name, f.dataType, mx)
            }
            ncO.put(f.name, r.getAs[Long](s"__nc_${f.name}"))
            ()
          }
      }
      rel -> mapper.writeValueAsString(n)
    }.toMap
  }

  /** The latest committed version, -1 for an empty log: the newer of the
    * last commit JSON and the checkpoint pointer (pre-checkpoint commits
    * may have been cleaned up — Delta metadata cleanup — so the pointer
    * anchors contiguity when it is newer).
    */
  private def tipVersion(logDir: Path): Long =
    math.max(listCommits(logDir).lastOption.map(versionOf).getOrElse(-1L),
      lastCheckpoint(logDir).fold(-1L)(_._1))

  /** `version` must be the log's next one: an already-committed version is
    * a lost race ([[VersionedTable.ConcurrentCommitException]]), a later
    * one a gap.
    */
  private def requireNext(deltaDir: String, logDir: Path, version: Long): Unit = {
    val expected = tipVersion(logDir) + 1
    if (version < expected) throw new VersionedTable.ConcurrentCommitException(
      s"concurrent commit at $deltaDir: version $version is already committed")
    require(version == expected,
      s"non-contiguous commit: want version $expected, got $version")
  }

  /** The table's current metaData action without replaying the live
    * state: the last one in the newest commit JSON that carries one, else
    * the checkpoint's.
    */
  private def latestMetaData(logDir: Path): Option[MetaData] =
    listCommits(logDir).reverseIterator
      .flatMap(c => readCommit(c).reverseIterator.collectFirst { case m: MetaData => m })
      .nextOption()
      .orElse(lastCheckpoint(logDir).flatMap { case (v, parts) =>
        readCheckpoint(SparkSession.active, logDir, v, parts)
          .collectFirst { case m: MetaData => m }
      })

  /** Append commit `version` to an existing (or fresh) `_delta_log`:
    * `removes` retire previously-added relative paths, `adds` activate
    * relative paths whose files must already sit under `deltaDir` (sizes
    * are read from disk — the log never carries a size the bytes don't
    * back). `schemaJson` must be given on the FIRST commit (it emits the
    * protocol + metaData actions) and may be given later to record a
    * schema or configuration change; the table's metaData `id` and
    * `createdTime` are minted at v0 and carried by every later metaData.
    * Versions must be appended contiguously — the same no-gap rule
    * [[importSnapshot]] enforces on read. The commit file is published
    * put-if-absent, so of two writers racing on one version exactly one
    * lands and the other gets a [[VersionedTable.ConcurrentCommitException]],
    * as does a writer whose version is already in the log.
    */
  def writeCommit(
      deltaDir: String, version: Long, adds: Seq[String],
      removes: Seq[String] = Nil, schemaJson: Option[String] = None,
      dvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty,
      configuration: Map[String, String] = Map.empty,
      protocolVersions: Option[(Int, Int)] = None,
      partitionColumns: Seq[String] = Nil,
      partitionValues: Map[String, Map[String, Option[String]]] = Map.empty,
      stats: Map[String, String] = Map.empty,
      commitTimestampMs: Option[Long] = None,
      cdcFiles: Seq[String] = Nil): Unit = {
    val root = Paths.get(deltaDir)
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    requireNext(deltaDir, root.resolve("_delta_log"), version)
    require(version > 0 || schemaJson.isDefined,
      "the first commit must carry schemaJson (protocol + metaData)")
    require((dvs.keySet -- adds.toSet).isEmpty,
      s"dv descriptors for paths not being added: ${(dvs.keySet -- adds.toSet).mkString(",")}")
    require(partitionColumns.isEmpty || schemaJson.isDefined,
      "partitionColumns ride the metaData action — pass schemaJson with them")
    require((partitionValues.keySet -- adds.toSet).isEmpty,
      "partitionValues for paths not being added: " +
        (partitionValues.keySet -- adds.toSet).mkString(","))
    require((stats.keySet -- adds.toSet).isEmpty,
      "stats for paths not being added: " +
        (stats.keySet -- adds.toSet).mkString(","))
    val now = System.currentTimeMillis()
    def sizeOnDisk(rel: String, kind: String): Long = {
      val f = root.resolve(rel)
      require(Files.exists(f), s"$kind action for a file not on disk: $f")
      Files.size(f)
    }
    // attaching a DV is a reader-visible capability: upgrade the protocol
    // in the SAME commit (PROTOCOL.md: deletionVectors is a reader+writer
    // feature under minReaderVersion 3 / minWriterVersion 7), so any
    // feature-honest reader either applies the DVs or refuses — never
    // silently serves deleted rows
    val protocol =
      if (dvs.nonEmpty)
        Some(Protocol(3, 7, Some(Seq("deletionVectors")), Some(Seq("deletionVectors"))))
      else Option.when(version == 0L) {
        val (minR, minW) = protocolVersions.getOrElse((1, 2))
        Protocol(minR, minW)
      }
    val metaData = schemaJson.map { sj =>
      val prior = if (version == 0L) None else latestMetaData(logDir)
      MetaData(prior.fold(java.util.UUID.randomUUID().toString)(_.id), "parquet", sj,
        partitionColumns, configuration, prior.fold(Option(now))(_.createdTime))
    }
    // commitInfo leads the commit when the writer pins a commit time —
    // the timestamp importSnapshotAsOfTimestamp resolves through (the
    // file-mtime fallback covers logs written without one). add/remove/cdc
    // paths are PERCENT-ENCODED at emission (PROTOCOL.md: paths are
    // URL-encoded relative URIs) — the caller's paths stay plain on-disk
    // relative paths, and the decode in replay makes the round trip exact.
    // cdc files carry the commit's row-level changes; CDF readers use them
    // INSTEAD of add/remove for a commit that has any
    val actions: Seq[Action] =
      commitTimestampMs.map(t => CommitInfo(Some(t))).toSeq ++ protocol ++ metaData ++
        removes.map(rel => RemoveFile(encodeLogPath(rel), Some(now), dataChange = true)) ++
        cdcFiles.map(rel => AddCdcFile(encodeLogPath(rel), sizeOnDisk(rel, "cdc"))) ++
        adds.map(rel => AddFile(encodeLogPath(rel), partitionValues.getOrElse(rel, Map.empty),
          sizeOnDisk(rel, "add"), now, dataChange = true, stats.get(rel), dvs.get(rel)))
    // put-if-absent (PROTOCOL.md: mutual exclusion on N.json)
    VersionedTable.publishIfAbsent(logDir, f"$version%020d.json",
      actions.map(toJson).mkString("", "\n", "\n").getBytes("UTF-8"),
      s"concurrent commit at $deltaDir: another writer committed version $version")
  }

  /** Row-level DELETE expressed as deletion vectors — the modern Delta
    * DELETE shape (no data-file rewrite): rows matching `predicate` are
    * marked dead in per-file RoaringBitmaps, every touched file's NEW
    * vector is the union of its old one and this wave's matches
    * (PROTOCOL.md: a file's DV replaces its predecessor, so it must
    * contain it), and one commit retires + re-adds the touched files
    * with their new descriptors. All vectors of the wave share ONE
    * `deletion_vector_<uuid>.bin` (the real writer layout, exercising
    * non-zero offsets); `inline = true` stores them in the log instead
    * (storageType `"i"`, small-DV shape). The commit carries the
    * protocol upgrade to minReader 3 + `deletionVectors`.
    *
    * Scale shape: matching runs as ONE distributed scan; bitmaps are
    * built and compressed ON EXECUTORS (`groupByKey` on the file path —
    * each task holds one file's bitmap); the driver collects only the
    * already-serialized DV bytes, i.e. exactly the bytes any writer must
    * hold to emit the single shared `.bin` file. Returns the count of
    * newly deleted rows (rows already dead in a prior DV don't recount).
    *
    * Partitioned tables refuse: the predicate would need the import-side
    * partition-column restoration join; write descriptors via
    * [[writeCommit]]'s `dvs` parameter for those layouts.
    */
  def deleteWhere(
      spark: SparkSession, deltaDir: String, version: Long,
      predicate: org.apache.spark.sql.Column,
      inline: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    import org.apache.spark.sql.types.{DataType, StructType}
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    require(st.partCols.isEmpty,
      "deleteWhere supports unpartitioned tables; partitioned layouts need " +
        "the partition-restoration join — attach descriptors via writeCommit(dvs=...)")
    require(st.cmMode.isEmpty,
      "deleteWhere on a column-mapped table is out of scope: the predicate " +
        "names logical columns but the scan below reads physical files — " +
        "import + rewrite, or attach descriptors via writeCommit(dvs=...)")
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val files = st.active.toSeq
    val absToRel = files.map { case (rel, af) =>
      root.resolve(diskRel(root, rel, af.path)).toString -> rel }.toMap
    val paths = absToRel.keys.toSeq.sorted

    import spark.implicits._
    // match on the RAW scan: a previously-deleted row re-matching is
    // harmless — the merged bitmap is a superset either way
    val matched: Array[(String, Array[Byte], Long)] =
      spark.read.schema(schema).parquet(paths: _*)
        .withColumn("__graft_dv_path",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("__graft_dv_pos", col("_metadata.row_index"))
        .filter(predicate)
        .select(col("__graft_dv_path").as[String], col("__graft_dv_pos").as[Long])
        .groupByKey(_._1)
        .mapGroups { (p, it) =>
          val rows = it.map(_._2).toArray
          (p, DeletionVectors.serializeBitmapArray(rows), rows.length.toLong)
        }
        .collect()
        .sortBy(_._1)
    if (matched.isEmpty) {
      writeCommit(deltaDir, version, adds = Nil) // empty commit keeps versions contiguous
      return 0L
    }

    // merge each touched file's existing DV (delete-scale driver work —
    // the same bytes the new .bin must contain)
    val merged: Seq[(String, Array[Long], Long)] = matched.toSeq.map {
      case (abs, bytes, _) =>
        val rel = absToRel.getOrElse(abs,
          throw new IllegalStateException(s"matched rows in unknown file $abs"))
        val fresh = DeletionVectors.deserializeBitmapArray(bytes)
        val old = st.active(rel).deletionVector
          .map(d => DeletionVectors.deletedRows(root, d)).getOrElse(Array.empty[Long])
        val union = (old ++ fresh).distinct.sorted
        (rel, union, union.length.toLong - old.length.toLong)
    }
    val payloads = merged.map { case (_, rows, _) =>
      DeletionVectors.serializeBitmapArray(rows) }
    val descriptors: Map[String, DeletionVectors.DvDescriptor] =
      if (inline)
        merged.zip(payloads).map { case ((rel, rows, _), p) =>
          rel -> DeletionVectors.DvDescriptor(
            "i", DeletionVectors.z85EncodePadded(p), None, p.length, rows.length.toLong)
        }.toMap
      else {
        val (pathOrInline, placements) = DeletionVectors.writeDvFile(root, payloads)
        merged.zip(placements).map { case ((rel, rows, _), pl) =>
          rel -> DeletionVectors.DvDescriptor(
            "u", pathOrInline, Some(pl.offset), pl.sizeInBytes, rows.length.toLong)
        }.toMap
      }
    val touched = merged.map(_._1)
    writeCommit(deltaDir, version, adds = touched, removes = touched,
      dvs = descriptors)
    merged.map(_._3).sum
  }

  /** Purge deletion vectors (the Delta `REORG TABLE ... APPLY (PURGE)`
    * maintenance op): every file carrying a DV is rewritten WITHOUT its
    * dead rows and re-committed clean, so accumulated mask overhead
    * (every read pays the anti-join) converts back into plain scans.
    * Untouched files are untouched — work is O(DV'd files), never
    * O(table). Row order within a rewritten file is preserved (the scan
    * order of the source file), the old `.bin` payloads become
    * unreferenced (vacuum-able), and the commit is remove+add per
    * rewritten file. Returns the number of files rewritten.
    */
  def purgeDeletionVectors(
      spark: SparkSession, deltaDir: String, version: Long): Int = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.types.{DataType, StructType}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    require(st.partCols.isEmpty,
      "purgeDeletionVectors supports unpartitioned tables (the deleteWhere scope)")
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val dvd = st.active.toSeq.collect { case (rel, af) if af.deletionVector.isDefined => (rel, af) }
    if (dvd.isEmpty) {
      writeCommit(deltaDir, version, adds = Nil)
      return 0
    }
    // ONE distributed pass over only the DV'd files: mask via the import's
    // executor-parsed anti-join, then the writeShards one-file-per-key
    // shape — hash repartition on the source-file index + partitionBy puts
    // each rewritten file wholly in one task, rows in their original
    // row_index order
    val absFiles = dvd.map { case (rel, af) =>
      (root.resolve(diskRel(root, rel, af.path)), af) }
    val scan = spark.read.schema(schema)
      .parquet(absFiles.map(_._1.toString): _*)
    val masked = applyDeletionVectors(spark, root, scan, absFiles)
    val idxRows = dvd.zipWithIndex.map { case ((rel, af), i) =>
      org.apache.spark.sql.Row(
        root.resolve(diskRel(root, rel, af.path)).toString, i) }
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__graft_dv_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__graft_pidx",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val idxDf = spark.createDataFrame(idxRows.asJava, idxSchema)
    val renames = Seq.newBuilder[(String, String)]
    val removedOnly = Seq.newBuilder[String]
    VersionedTable.withStagingDir("graft_dv_purge_") { tmp =>
      masked.join(broadcast(idxDf), Seq("__graft_dv_path"))
        .repartition(dvd.size, col("__graft_pidx"))
        .sortWithinPartitions(col("__graft_pidx"), col("__graft_dv_pos"))
        .select((schema.fieldNames.map(col) :+ col("__graft_pidx")).toIndexedSeq: _*)
        .write.mode("overwrite").partitionBy("__graft_pidx").parquet(tmp.toString)
      dvd.zipWithIndex.foreach { case ((rel, _), i) =>
        val dir = tmp.resolve(s"__graft_pidx=$i")
        if (!Files.isDirectory(dir)) removedOnly += rel // fully-dead file: just retire
        else {
          val part = listParquet(dir) match {
            case Seq(one) => one
            case other => throw new IllegalStateException(
              s"expected one purged part file for $rel, got ${other.size}")
          }
          val cleanRel = s"${rel.stripSuffix(".parquet")}-purged-$version.parquet"
          Files.move(part, root.resolve(cleanRel), StandardCopyOption.REPLACE_EXISTING)
          renames += ((rel, cleanRel))
        }
      }
    }
    val rn = renames.result()
    writeCommit(deltaDir, version, adds = rn.map(_._2),
      removes = rn.map(_._1) ++ removedOnly.result())
    dvd.size
  }

  /** What a [[merge]] did, for plan-shape assertions and telemetry: at
    * 100 TB the feature IS `filesSkipped` — a CDC wave whose keys span a
    * narrow range must rewrite only the files whose stats overlap it.
    */
  final case class MergeReport(
      filesSkipped: Int, filesScanned: Int, filesRewritten: Int,
      targetRowsReplaced: Long, rowsWritten: Long)

  /** MERGE (CDC upsert) at file granularity — the storage primitive an
    * incremental materialization folds its wave with (the reference's
    * `refresh_mode = INCREMENTAL` dynamic tables merge each lag tick's
    * changes into the stored table — `macros/materializations/
    * feature_view.sql:125`; this is that merge expressed on the Delta
    * bridge): for each source row, matched target rows (equal `keyCols`
    * tuple) are REPLACED by the source row — or deleted when the
    * `deleteCol` flag is true (the CDC tombstone shape) — and unmatched
    * non-tombstone source rows are inserted.
    *
    * Scale shape, the reason this isn't `importSnapshot → union →
    * overwrite`: work is O(wave + touched files), never O(table).
    *  1. PRUNE by per-file statistics — the source's per-key [min,max]
    *     envelope is evaluated against every live file's `add.stats`
    *     bounds via the same [[DataSkipping.mayMatch]] the read side
    *     uses; files whose key ranges are disjoint from the wave are
    *     never OPENED (at 100 TB with time-ordered keys this is almost
    *     every file).
    *  2. MATCH: among survivors, ONE distributed join (source keys
    *     broadcast — a CDC wave is small by construction) returns every
    *     matched live row with its file path. The touched files and
    *     `targetRowsReplaced` derive from those rows, which number the
    *     matched count (the wave's size when table keys are unique);
    *     survivors without matches stay live untouched.
    *  3. WRITE ONCE: the touched files' unmatched rows (existing deletion
    *     vectors are applied first, so the rewrite also purges them —
    *     their rows are dead, not matched) and the wave's surviving rows
    *     (updates + inserts, tombstones dropped) are unioned and
    *     coalesced to `ceil(bytes / spark.sql.files.maxPartitionBytes)`
    *     files — the split count Spark's own reader plans for the same
    *     bytes, from the touched files' sizes plus the new rows at the
    *     schema's default row size. No shuffle: rows keep scan order. A
    *     merge never adds one file per touched file: small fragmented
    *     tables compact as they are merged, and at scale the write keeps
    *     the scan's parallelism.
    *  4. One commit retires the touched files and adds the written ones
    *     (`merge-<version>-<i>-<uuid>.parquet`, zero-row parts dropped) WITH
    *     fresh [[computeAddStats]] statistics, so the next merge prunes
    *     against this one's output.
    *
    * PARTITIONED tables: partition values join the prune as degenerate
    * [v, v] intervals (a wave scoped to one date partition never opens
    * the others), the match/rewrite scan restores partition columns from
    * `add.partitionValues` (files don't store them — the import's
    * restoration join), and the write routes rows via `partitionBy`, each
    * file's partitionValues parsed back from its hive-style directory
    * names (NULL included) — so an update may MOVE a row across
    * partitions: the old row leaves its file, the new one lands under its
    * new value.
    *
    * CHANGE DATA FEED (PROTOCOL.md "Add CDC File"): when the table
    * declares delta.enableChangeDataFeed, the commit carries its
    * row-level changes as `_change_data` parquet + cdc actions — CDF
    * readers use them INSTEAD of deriving from add/remove. The match
    * pass's rows are the pre-images (`update_preimage`, or `delete` under
    * a tombstone); non-tombstone wave rows whose key matched emit
    * `update_postimage`, the rest `insert`; a tombstone for an absent key
    * emits nothing (MERGE deleted nothing). No table is re-read: the
    * change data is one write of O(matched + wave) rows, sized by the
    * same rule. Partitioned tables refuse before anything is written
    * (cdc partition routing is out of scope).
    *
    * Contract guards: duplicate source keys refuse (SQL MERGE's
    * nondeterministic-update error), NULL source keys refuse (a NULL
    * never equals anything — the row could neither match nor be keyed),
    * `deleteCol` must be boolean and is consumed (not written).
    * Column-mapped tables refuse with the same rationale as
    * [[deleteWhere]]. Staging directories are deleted before `merge`
    * returns or throws.
    */
  def merge(
      spark: SparkSession, deltaDir: String, version: Long,
      source: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      deleteCol: Option[String] = None): MergeReport = {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, max, min, not, regexp_replace, sum, when}
    import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val root = Paths.get(deltaDir)
    val st = resolveState(spark, deltaDir)
    require(st.cmMode.isEmpty,
      "merge on a column-mapped table is out of scope: keys name logical " +
        "columns but the rewrite scans physical files")
    val cdf = st.configuration.get("delta.enableChangeDataFeed").contains("true")
    require(!cdf || st.partCols.isEmpty,
      "CDF emission for a PARTITIONED table is out of scope — " +
        "disable delta.enableChangeDataFeed or keep the layout unpartitioned")
    // a stale version fails here, before its files could replace the
    // same-named files of the commit that took the version
    requireNext(deltaDir, root.resolve("_delta_log"), version)
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val dataSchema = StructType(schema.filterNot(f => st.partCols.contains(f.name)))
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' not in the table schema"))
    deleteCol.foreach { d =>
      require(source.schema.fieldNames.contains(d),
        s"deleteCol '$d' not in the source")
      require(source.schema(d).dataType == BooleanType,
        s"deleteCol '$d' must be boolean, got ${source.schema(d).dataType}")
      require(!schema.fieldNames.contains(d),
        s"deleteCol '$d' collides with a table column")
    }
    val missing = schema.fieldNames.filterNot(source.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"source lacks table columns: ${missing.mkString(",")} — a MERGE " +
        "update replaces the whole row, so the wave must carry every column")

    // normalize the wave to the table's column order/types once; persist —
    // the guard aggregation, the match pass and the writes all read it
    val srcCols = schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    val delFlag = deleteCol.map(d => col(d)).getOrElse(lit(false))
    val src = source.select((srcCols :+ coalesce(delFlag, lit(false))
      .as("__graft_del")).toIndexedSeq: _*).persist()
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[Path]
    try {
      // ONE action computes the null-key guard, the duplicate-key guard,
      // the wave row/tombstone counts AND the per-key min/max envelope
      // (r17: these ran as four separate jobs over the persisted wave —
      // pure per-job driver latency, the dominant cost of the q215/q219
      // profiles after the fixture work)
      val anyNullKey = keyCols.map(col(_).isNull).reduce(_ || _)
      val perKey = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__c"),
          max(when(anyNullKey, 1L).otherwise(0L)).as("__nk"),
          sum(when(col("__graft_del"), 1L).otherwise(0L)).as("__nd"))
      val chkAggs =
        Seq(coalesce(sum(col("__c")), lit(0L)).as("__n"),
          coalesce(max(col("__c")), lit(0L)).as("__dupmax"),
          coalesce(max(col("__nk")), lit(0L)).as("__anynk"),
          coalesce(sum(col("__nd")), lit(0L)).as("__ndel")) ++
        keyCols.flatMap(k => Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
      val chk = perKey.agg(chkAggs.head, chkAggs.tail: _*).head()
      require(chk.getAs[Long]("__anynk") == 0L,
        "source rows with NULL key values — a NULL key " +
        "can neither match nor be inserted under SQL equality; filter them first")
      require(chk.getAs[Long]("__dupmax") <= 1L, "duplicate source keys — " +
        "SQL MERGE refuses nondeterministic multi-updates")
      val waveRows = chk.getAs[Long]("__n")
      if (waveRows == 0L) {
        writeCommit(deltaDir, version, adds = Nil)
        return MergeReport(st.active.size, 0, 0, 0L, 0L)
      }

      // 1. stats prune: the wave's per-key envelope vs each file's bounds
      // (the __mn_/__mx_ fields of the fused aggregation above)
      val envelope = DataSkipping.And(keyCols.flatMap { k =>
        Seq(DataSkipping.Ge(k, chk.getAs[Any](s"__mn_$k")),
          DataSkipping.Le(k, chk.getAs[Any](s"__mx_$k")))
      })
      val colType = (c: String) => schema.fields.find(_.name == c).map(_.dataType)
      val (candidates, pruned) = st.active.toSeq.sortBy(_._1).partition {
        case (_, af) =>
          DataSkipping.mayMatch(
            fileStatsOf(af, schema, st.partCols, Map.empty, mapped = false),
            envelope, colType)
      }
      val located = (rels: Seq[String]) => rels.map(rel =>
        (root.resolve(diskRel(root, rel, st.active(rel).path)), st.active(rel)))

      // masked scan of a file set, partition columns restored from the
      // log's partitionValues (data files don't store them — the
      // import's restoration shape, keyed by full path)
      def mergeScan(files: Seq[(Path, AddFile)]): DataFrame = {
        val base = spark.read.schema(dataSchema)
          .parquet(files.map(_._1.toString): _*)
          .withColumn("__graft_mg_path",
            regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
          .withColumn("__graft_dv_pos", col("_metadata.row_index"))
        val withParts =
          if (st.partCols.isEmpty) base
          else {
            val mapRows = files.map { case (p, af) =>
              Row.fromSeq(p.toString +: st.partCols.map(c => af.partitionValues.get(c).flatten.orNull))
            }
            val mapSchema = StructType(StructField("__graft_mg_path", StringType,
              nullable = false) +: st.partCols.map(c => StructField("__graft_pv_" + c, StringType)))
            val joined = base.join(
              broadcast(spark.createDataFrame(mapRows.asJava, mapSchema)),
              Seq("__graft_mg_path"), "left")
            st.partCols.foldLeft(joined) { (df, c) =>
              df.withColumn(c, col("__graft_pv_" + c).cast(schema(c).dataType))
            }
          }
        applyDeletionVectorsKeyed(spark, root, withParts, files)
      }

      // one write of `df`, coalesced to the split count Spark's reader
      // plans for `bytes`; returns the written parts in path order, each
      // with the partition values its hive-style directories encode
      def writeSized(df: DataFrame, bytes: Long, prefix: String,
          partCols: Seq[String]): Seq[(Path, Map[String, Option[String]])] = {
        val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        val tmp = Files.createTempDirectory(prefix)
        staged.add(tmp)
        val w = df.coalesce(math.max(1L, (bytes + split - 1) / split).toInt)
          .write.mode("overwrite")
        (if (partCols.isEmpty) w else w.partitionBy(partCols: _*)).parquet(tmp.toString)
        val parts = {
          val s0 = Files.walk(tmp)
          try s0.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.toString)
          finally s0.close()
        }
        parts.map { part =>
          // dir components between tmp and the file are c=v pairs in
          // partitionBy order, hive-escaped (Spark's escapePathName)
          val pv = if (partCols.isEmpty) Map.empty[String, Option[String]] else {
            val relDirs = tmp.relativize(part.getParent)
            (0 until relDirs.getNameCount).map { k =>
              val seg = relDirs.getName(k).toString
              val eq = seg.indexOf('=')
              require(eq > 0, s"unexpected partition dir segment '$seg'")
              val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(seg.substring(eq + 1))
              seg.substring(0, eq) -> (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
            }.toMap
          }
          require(pv.keySet == partCols.toSet, s"partition dirs $pv do not cover $partCols")
          part -> pv
        }
      }

      // 2. the match pass: every matched live row of the candidates with
      // its file — under CDF the whole row and its wave row's tombstone
      // flag, which make the pre-image (an inner join: wave keys are unique)
      val srcKeys = broadcast(src.select((keyCols :+ "__graft_del").map(col): _*))
      val candFiles = located(candidates.map(_._1))
      val absToRel = candFiles.map(_._1.toString).zip(candidates.map(_._1)).toMap
      val matched =
        if (candFiles.isEmpty) Array.empty[Row]
        else mergeScan(candFiles).join(srcKeys, keyCols)
          .select(("__graft_mg_path" +:
            (if (cdf) schema.fieldNames.toSeq :+ "__graft_del" else Nil)).map(col): _*)
          .collect()
      val touchedRels = matched.map(_.getString(0)).distinct.sorted.map(absToRel).toSeq
      val touched = located(touchedRels)

      // 3. ONE size-targeted write: the touched files' unmatched rows plus
      // the wave's surviving rows (updates + inserts). File names carry a
      // per-merge token: a writer racing this version must never replace
      // a file the winning commit names
      val token = java.util.UUID.randomUUID().toString
      val outCols = schema.fieldNames.map(col).toIndexedSeq
      val live = src.filter(not(col("__graft_del"))).select(outCols: _*)
      // survivor count comes from the fused guard aggregation
      val rowsWritten = waveRows - chk.getAs[Long]("__ndel")
      val kept = if (touched.isEmpty) Nil
        else Seq(mergeScan(touched).join(srcKeys, keyCols, "left_anti").select(outCols: _*))
      def writeData(): (Seq[(String, Map[String, Option[String]])], Map[String, String]) = {
        val landed = (kept ++ Option.when(rowsWritten > 0)(live)).reduceOption(_ union _)
          .map(writeSized(_, touched.map(_._2.size).sum + rowsWritten * schema.defaultSize,
            "graft_merge_", st.partCols))
          .getOrElse(Nil).zipWithIndex.map { case ((part, pv), i) =>
            val rel = s"merge-$version-$i-$token.parquet"
            Files.move(part, root.resolve(rel))
            rel -> pv
          }
        (landed, computeAddStats(spark, deltaDir, landed.map(_._1),
          dataSchema = Some(dataSchema)))
      }

      // the change data: pre-images from the match pass, post-images and
      // inserts from the wave split by the matched keys
      def writeChanges(): Seq[String] = if (!cdf) Nil else {
        val pre = spark.createDataFrame(matched.toSeq.map(r => Row.fromSeq(r.toSeq.tail)).asJava,
          schema.add("__graft_del", BooleanType))
        val matchedKeys = pre.select(keyCols.map(col) :+ lit(true).as("__graft_m"): _*)
        val changes = pre
          .select(outCols :+ when(col("__graft_del"), lit("delete"))
            .otherwise(lit("update_preimage")).as("_change_type"): _*)
          .union(live.join(broadcast(matchedKeys), keyCols, "left")
            .select(outCols :+ when(col("__graft_m"), lit("update_postimage"))
              .otherwise(lit("insert")).as("_change_type"): _*))
        val parts = writeSized(changes, (matched.length + waveRows) * schema.defaultSize,
          "graft_merge_cdc_", Nil)
        Files.createDirectories(root.resolve("_change_data"))
        parts.zipWithIndex.map { case ((part, _), i) =>
          val rel = s"_change_data/cdc-$version-$i-$token.parquet"
          Files.move(part, root.resolve(rel))
          rel
        }
      }
      // the two writes are independent (disjoint staging dirs and outputs)
      // — overlapped via Par so one write's commit tail back-fills the other
      val ((landed, stats), cdcRels) = graft.operators.Par.run2(writeData _, writeChanges _)

      // 4. one commit: retire touched, add the written files with their
      // stats; a part the coalesce left empty is dropped, not added
      val adds = landed.filter { case (rel, _) =>
        val nonEmpty = mapper.readTree(stats(rel)).get("numRecords").asLong() > 0
        if (!nonEmpty) Files.delete(root.resolve(rel))
        nonEmpty
      }
      writeCommit(deltaDir, version, adds = adds.map(_._1), removes = touchedRels,
        partitionValues = if (st.partCols.isEmpty) Map.empty else adds.toMap,
        stats = adds.map { case (rel, _) => rel -> stats(rel) }.toMap,
        cdcFiles = cdcRels)
      MergeReport(pruned.size, candidates.size, touchedRels.size,
        matched.length.toLong, rowsWritten)
    } finally {
      src.unpersist()
      staged.asScala.foreach(VersionedTable.deleteRecursively)
    }
  }

  /** [[applyDeletionVectors]] for scans that already carry
    * `__graft_dv_pos` and their own path column — joins on the absolute
    * path + row index without re-deriving them.
    */
  private def applyDeletionVectorsKeyed(
      spark: SparkSession, root: Path,
      df: org.apache.spark.sql.DataFrame,
      files: Seq[(Path, AddFile)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dvd = files.collect { case (p, af) if af.deletionVector.isDefined => (p.toString, af.deletionVector.get) }
    if (dvd.isEmpty) return df
    import spark.implicits._
    val rootStr = root.toString
    val deleted = spark.createDataset(dvd.map { case (abs, d) =>
      (abs, d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes,
        d.cardinality)
    }).flatMap { case (abs, st0, pOrI, off, size, card) =>
      val desc = DeletionVectors.DvDescriptor(
        st0, pOrI, if (off < 0) None else Some(off), size, card)
      DeletionVectors.deletedRows(java.nio.file.Paths.get(rootStr), desc)
        .map(idx => (abs, idx))
    }.toDF("__graft_mg_path", "__graft_dv_pos")
    val build =
      if (dvd.map(_._2.cardinality).sum <= (1L << 20)) broadcast(deleted) else deleted
    df.join(build, Seq("__graft_mg_path", "__graft_dv_pos"), "left_anti")
  }

  /** Compact the commit-JSON log at `deltaDir` up to and including
    * `version` into a parquet checkpoint (delta.io PROTOCOL.md checkpoint
    * schema: one row per action, `protocol`/`metaData`/`add` structs) and
    * flip `_last_checkpoint` to it — after which readers load the base
    * state from one parquet scan and replay only the tail, the shape that
    * keeps a long-lived table's open cost O(tail) instead of O(history).
    * `parts` > 1 splits the add rows round-robin into the multi-part
    * file-name form (`v.checkpoint.i.parts.parquet`) — real tables use it
    * above ~10^6 actions; supported here so the reader's multi-part path
    * is exercised by the same writer.
    *
    * The checkpoint is written as actual FILES under `_delta_log/` (one
    * rename per part — atomic on a real object store's metadata layer)
    * and `_last_checkpoint` flips LAST, so a crash mid-write leaves the
    * previous pointer valid — readers never see a half-checkpoint.
    */
  def writeCheckpoint(
      spark: SparkSession, deltaDir: String, version: Long,
      parts: Int = 1): Unit = {
    import scala.jdk.CollectionConverters._
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val logDir = Paths.get(deltaDir).resolve("_delta_log")
    val commits = listCommits(logDir).filter(versionOf(_) <= version)
    val versions = commits.map(versionOf)
    require(versions.nonEmpty && versions.head == 0L &&
      versions == (0L to versions.last) && versions.last == version,
      s"cannot checkpoint version $version: commits on disk are ${versions.mkString(",")}")
    val st = new LogState
    commits.foreach(c => replay(readCommit(c), st))
    require(st.metaData != null, s"log at $deltaDir carries no metaData action")

    // the replayed protocol and metaData ride as they are in part 1 (table
    // id, writer features and configuration included); adds, each with
    // its verbatim log path, split round-robin across parts
    val head = Seq(toRow(st.protocol), toRow(st.metaData))
    val addRows = st.active.valuesIterator.map(toRow).toSeq
    val partRows: Seq[Seq[Row]] =
      if (parts == 1) Seq(head ++ addRows)
      else (0 until parts).map { i =>
        val mine = addRows.zipWithIndex.collect { case (r, j) if j % parts == i => r }
        if (i == 0) head ++ mine else mine
      }
    partRows.zip(checkpointFiles(logDir, version, Option.when(parts > 1)(parts))).foreach {
      case (rows, dst) =>
        // a checkpoint part is a single parquet FILE: write a 1-part dir,
        // then move the part file onto the spec-mandated name
        VersionedTable.withStagingDir("graft_delta_cp_") { tmp =>
          spark.createDataFrame(rows.asJava, CheckpointSchema).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val part = listParquet(tmp) match {
            case Seq(one) => one
            case other => throw new IllegalStateException(
              s"expected exactly one checkpoint part file, got ${other.size}")
          }
          Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        }
    }
    val ptr = mapper.createObjectNode()
    ptr.put("version", version)
    ptr.put("size", partRows.map(_.size).sum)
    if (parts > 1) ptr.put("parts", parts)
    // pointer flips LAST via atomic rename — a crash mid-write must leave
    // the PREVIOUS pointer intact (the appendSnapshot/publishIncremental
    // pointer rule; an in-place truncate+write would strand a corrupt
    // pointer that fails hard on JSON parse), staged under a unique name
    // so two checkpoint writers never move each other's pointer
    val tmpPtr = Files.createTempFile(logDir, "._last_checkpoint.", ".tmp")
    try {
      Files.write(tmpPtr, (mapper.writeValueAsString(ptr) + "\n").getBytes("UTF-8"))
      Files.move(tmpPtr, logDir.resolve("_last_checkpoint"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmpPtr)
    ()
  }

  private def hasSubdirs(dir: Path): Boolean = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.exists(Files.isDirectory(_))
    } finally s.close()
  }

  private def listParquet(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }
}
