package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Transactional table layout for managed feature views — the minimal
  * Delta-shaped commit protocol the reference gets from Snowflake's dynamic
  * tables (SURVEY §1.1 "metadata Delta/parquet table"): a table directory
  * holds immutable parquet *segments* plus one `_MANIFEST.json` whose
  * compare-and-swap flip is the single commit point.
  *
  *   path/
  *     seg-00000001-3fa9c1d2/ ...parquet (possibly date-partitioned)
  *     seg-00000002-b01e77aa/ ...
  *     _MANIFEST.json   {"version":2,"kind":"upsert","keys":["user_id"],
  *                       "segments":["seg-...","seg-..."]}
  *
  * Readers resolve the manifest once and only ever see a fully-written
  * committed segment set — there is no delete→rename window where the table
  * is missing, and a crashed writer leaves only an unreferenced segment dir
  * behind (cleaned by [[vacuum]]), never a broken table.
  *
  * '''Commit protocol (optimistic, object-store-mappable).''' A writer
  *  1. reads the manifest (base version v) — no lock held;
  *  2. writes its segment to a ''uniquely named'' dir (version + random
  *     suffix, so racing writers never collide on data files) — no lock held,
  *     data writes can take minutes;
  *  3. flips the manifest inside a short critical section that re-checks the
  *     base version: if another commit landed since step 1 the flip throws
  *     [[ConcurrentCommitException]] — ''one loser errors, no commit is ever
  *     silently lost''. The critical section is guarded by an exclusive
  *     `_LOCK` file create (≙ object-store conditional PUT `If-None-Match`)
  *     and the version re-check (≙ conditional PUT `If-Match` on the
  *     manifest's etag/generation) — both primitives exist on S3/GCS/ABFS,
  *     so the protocol ports without a rename-is-atomic assumption. Locally
  *     the flip itself is additionally tmp-write + ATOMIC_MOVE. The lock is
  *     held for milliseconds (one read + one small write); a lock file older
  *     than [[LockTtlMs]] is a crashed writer and is taken over. Because
  *     stale-lock takeover is check-then-delete (not atomic on a shared
  *     path), the flip is additionally guarded by an atomic per-version
  *     ''claim'' — `createFile` of the versioned snapshot, exactly one
  *     winner per version — so even a double takeover costs one loser a
  *     clean [[ConcurrentCommitException]], never a silently lost commit
  *     (see [[claimVersion]]).
  *
  * Commit kinds:
  *  - [[overwrite]]: manifest := [newSegment] — FULL refresh.
  *  - [[append]]: manifest := segments :+ newSegment — append-mode streams
  *    (each micro-batch lands O(batch) bytes, never rewrites history).
  *  - [[upsert]]: like append, but the manifest carries the key columns and
  *    readers merge-on-read with latest-segment-wins per key — update-mode
  *    streaming aggregations land O(changed keys) per tick. Every
  *    `compactEvery` commits the merged view is rewritten into one segment
  *    (manifest := [compacted]) so read amplification stays bounded — the
  *    LSM/Delta compaction trade.
  *  - [[fold]]: an append or upsert segment (or a replacing one) committed
  *    together with the set of source files the batch refresh folded;
  *    an upsert fold's segments hold partial aggregates that the
  *    manifest's per-column `merge` functions (sum, min, max) combine at
  *    read time.
  *
  * Mode compatibility is enforced at commit: upserting into a table whose
  * history is keyless ''append'' segments is refused (merge-on-read would
  * nondeterministically collapse legitimate duplicate-key rows inside a
  * segment); upserting on top of a single whole-table ''full'' segment is the
  * normal initialize→incremental flow and is allowed (a FULL publish of an
  * aggregation has unique keys by construction). Appending into a keyed
  * upsert table is likewise refused rather than silently dropping its merge
  * semantics.
  *
  * Pre-manifest layouts (plain parquet dirs from older stores) are honored
  * for reads; the first append/upsert commit ''folds'' the legacy files into
  * segment 1 so history survives the layout migration.
  *
  * Dereferenced segments are NOT deleted at commit — an in-flight reader may
  * still hold them — but by an explicit [[vacuum]] with a retention horizon,
  * exactly Delta's VACUUM contract (at 100 TB the horizon would be
  * time-based, e.g. 7 days; here it is "keep the last N segment
  * generations").
  *
  * Scale note: the manifest is O(#segments) driver-side JSON; data files are
  * only ever written once and never renamed, the object-store-safe choice
  * (S3 rename = copy).
  *
  * '''Read-side contract: one schema inference per segment.''' A committed
  * segment is written once into a uniquely named dir and never changes, so
  * its Parquet schema is too. Every segment read goes through
  * `readSegment`, which infers the schema on the first read of a dir
  * (one Spark job) and afterwards reads with that schema supplied (no
  * job); an N-segment upsert table would otherwise pay N inference jobs
  * on every read. The memo is keyed by the segment's absolute dir plus the
  * session confs that change what inference returns for the same files
  * (`InferenceConfs`), so a retuned session misses instead of reading a
  * stale type. It is a bounded access-order LRU (`SchemaMemoCap`
  * entries). Legacy plain-parquet dirs (no manifest) are mutable and are
  * never memoized. [[vacuum]] evicts the entries of the segments it
  * deletes; a read of a deleted segment still fails at plan time, because
  * Spark resolves the path even when the schema is given.
  */
object VersionedTable {
  private val ManifestName = "_MANIFEST.json"
  private val LockName = "_LOCK"
  private val SegPrefix = "seg-"
  private val mapper = new ObjectMapper()

  /** How long a `_LOCK` file may exist before it is considered abandoned by
    * a crashed writer. The lock spans one manifest read + one small write.
    */
  val LockTtlMs: Long = 30000L

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** The put-if-absent publish the Delta and Iceberg bridges commit
    * through: `bytes` are staged to a uniquely named temp file in `dir`,
    * then hard-linked in as `name` — atomic, and a file already there is
    * never replaced. Of two writers racing on one `name` exactly one lands;
    * the other gets a [[ConcurrentCommitException]] carrying `lost`. The
    * staged file is deleted either way.
    */
  private[storage] def publishIfAbsent(
      dir: Path, name: String, bytes: Array[Byte], lost: => String): Unit = {
    val tmp = Files.createTempFile(dir, s".$name.", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.createLink(dir.resolve(name), tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(lost)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** Run `f` over a fresh temp directory named `prefix…` and delete the
    * directory afterwards, whether `f` returns or throws: the staging
    * area of writers that move their output into a table.
    */
  private[storage] def withStagingDir[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally deleteRecursively(dir)
  }

  /** `batchId`: the streaming micro-batch that produced this commit (−1 for
    * batch writers) — the idempotence key that makes foreachBatch sinks
    * exactly-once: a replayed micro-batch (checkpoint recovery re-runs the
    * last uncommitted batch) is detected as `batchId <= committed` and
    * skipped instead of double-appending its rows. Contract: the streaming
    * checkpoint and the table share a lifetime — resetting the checkpoint
    * without rebuilding the table (or vice versa) breaks the guard; the
    * force-full-refresh admin op resets both together, and any batch
    * overwrite (batchId −1) clears the guard.
    *
    * `merge`: per value column of a keyed table, the [[MergeFns]] function
    * that folds its per-segment partial aggregates at read time; empty
    * means latest-segment-wins for every column. `consumed`: the source
    * files a batch fold ([[fold]]) has folded into the table, committed in
    * the same flip as the data they produced, so a fold lists exactly the
    * files it has not seen yet. None means no fold record (a table written
    * by any other writer); every rewrite of a table (compaction, optimize,
    * range delete) carries both fields over.
    */
  final case class Manifest(version: Long, kind: String, keys: Seq[String],
      segments: Seq[String], batchId: Long = -1L,
      stats: Map[String, SegStats] = Map.empty,
      merge: Map[String, String] = Map.empty,
      consumed: Option[Set[String]] = None)

  /** Merge-on-read functions a keyed table may name per value column (see
    * `merge` on [[Manifest]]): every segment then holds a partial
    * aggregate per key, and the read folds them with the named function.
    * `sum` also merges counts. Columns without one stay latest-wins.
    */
  val MergeFns: Set[String] = Set("sum", "min", "max")

  /** Segments an upsert table holds before a commit compacts it. */
  val CompactEvery: Int = 8

  /** Per-segment min/max of one long-ordered column (event time as epoch
    * micros) — the manifest-level data-skipping index. Parquet footers
    * already skip row groups INSIDE a file; these stats skip whole segments
    * BEFORE the scan plan is even built, which is what matters when a table
    * holds thousands of micro-batch segments: the driver never lists, opens,
    * or schedules the files of a segment whose [min,max] is disjoint from
    * the query's time range (Delta data-skipping, specialized to the
    * event-time column feature tables are indexed by).
    */
  final case class SegStats(col: String, min: Long, max: Long)

  object SegStats {
    /** min/max epoch-micros of `c` over `df` — one small agg (the writer is
      * about to scan `df` anyway; for incremental sinks this is O(batch)).
      * None when the batch is empty or the column is entirely null.
      */
    def of(df: DataFrame, c: String): Option[SegStats] = {
      val r = df.agg(
        min(unix_micros(col(c))).as("mn"), max(unix_micros(col(c))).as("mx")).head()
      if (r.isNullAt(0)) None else Some(SegStats(c, r.getLong(0), r.getLong(1)))
    }
  }

  private def manifestPath(path: String): Path = Paths.get(path, ManifestName)

  private def parseManifest(bytes: Array[Byte]): Manifest = {
    val n = mapper.readTree(bytes)
    val keys = n.get("keys").elements().asScala.map(_.asText()).toSeq
    // pre-`kind` manifests: keyed tables were only ever written by upsert
    val kind = Option(n.get("kind")).map(_.asText())
      .getOrElse(if (keys.nonEmpty) "upsert" else "append")
    val stats = Option(n.get("stats")).map { sn =>
      sn.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> SegStats(v.get("col").asText(), v.get("min").asLong(), v.get("max").asLong())
      }.toMap
    }.getOrElse(Map.empty[String, SegStats])
    val merge = Option(n.get("merge")).map(
      _.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val consumed = Option(n.get("consumed")).map(_.elements().asScala.map(_.asText()).toSet)
    Manifest(
      n.get("version").asLong(), kind, keys,
      n.get("segments").elements().asScala.map(_.asText()).toSeq,
      Option(n.get("batchId")).map(_.asLong()).getOrElse(-1L),
      stats, merge, consumed)
  }

  def readManifest(path: String): Option[Manifest] = {
    val p = manifestPath(path)
    if (!Files.exists(p)) None
    else Some(parseManifest(Files.readAllBytes(p)))
  }

  private def snapshotPath(path: String, version: Long): Path =
    Paths.get(path, f"_MANIFEST-v$version%08d.json")

  /** The manifest as of a past commit — Delta-style time travel. Every
    * commit leaves a versioned snapshot behind; reading one whose segments
    * have since been [[vacuum]]ed fails at scan time, exactly Delta's
    * post-VACUUM contract.
    */
  def readManifestAt(path: String, version: Long): Option[Manifest] = {
    val p = snapshotPath(path, version)
    // a zero-byte snapshot is a claimed-but-unfilled version marker from an
    // in-flight (or crashed) commit, not a committed manifest
    if (Files.exists(p) && Files.size(p) > 0) Some(parseManifest(Files.readAllBytes(p)))
    else readManifest(path).filter(_.version == version)
  }

  /** The CAS flip: verify the on-disk manifest is still at `expectedVersion`
    * (None = no manifest yet) inside the lock's critical section, claim the
    * version with an ATOMIC create of the versioned-snapshot file, then
    * publish `m`. Throws [[ConcurrentCommitException]] when another commit
    * has landed since the caller read its base — the caller's segment stays
    * behind as an unreferenced dir for [[vacuum]].
    *
    * '''Why the claim step exists.''' The `_LOCK` file's stale-TTL takeover
    * is inherently a check-then-delete on a shared path: two writers can
    * both judge the lock stale, and the slower one's delete can remove the
    * FRESH lock the faster one just created — both then run this critical
    * section concurrently and both pass the version re-check, which without
    * a second defense would silently lose one commit (both flip to the same
    * version, last rename wins). `Files.createFile` on the per-version
    * snapshot path is O_CREAT|O_EXCL — genuinely atomic, exactly one winner
    * per version number — so the racer that loses the claim throws instead
    * of clobbering (≙ object-store conditional PUT `If-None-Match` on a
    * per-version key, so the defense ports off the local FS too). The lock
    * remains the throughput device; the claim is the correctness arbiter.
    *
    * Crash recovery: a writer that dies between claiming and flipping
    * leaves a version marker with no manifest flip. A later committer that
    * finds the marker, sees the current manifest still BELOW the marker's
    * version, and measures the marker older than [[LockTtlMs]] rolls the
    * orphan back (delete + re-claim, where re-claim's createFile again
    * arbitrates concurrent recoverers). A fresh marker is a live racer and
    * stays a [[ConcurrentCommitException]].
    */
  private def commitManifest(path: String, expectedVersion: Option[Long], m: Manifest): Unit =
    withCommitLock(path) {
      val cur = readManifest(path).map(_.version)
      if (cur != expectedVersion)
        throw new ConcurrentCommitException(
          s"concurrent commit at $path: expected base version $expectedVersion, found $cur")
      val n = mapper.createObjectNode()
      n.put("version", m.version)
      n.put("kind", m.kind)
      n.put("batchId", m.batchId)
      val ks = n.putArray("keys"); m.keys.foreach(ks.add)
      val ss = n.putArray("segments"); m.segments.foreach(ss.add)
      if (m.stats.nonEmpty) {
        val st = n.putObject("stats")
        m.stats.foreach { case (seg, s) =>
          val o = st.putObject(seg)
          o.put("col", s.col); o.put("min", s.min); o.put("max", s.max)
        }
      }
      if (m.merge.nonEmpty) {
        val mo = n.putObject("merge")
        m.merge.toSeq.sorted.foreach { case (c, f) => mo.put(c, f) }
      }
      m.consumed.foreach { c =>
        val ca = n.putArray("consumed"); c.toSeq.sorted.foreach(ca.add)
      }
      val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(n)
      claimVersion(path, m.version)
      // fill the claimed marker with the snapshot content atomically (time
      // travel readers must never parse a half-written snapshot)
      val snap = snapshotPath(path, m.version)
      val snapTmp = Paths.get(path, snap.getFileName.toString + ".tmp")
      Files.write(snapTmp, bytes)
      Files.move(snapTmp, snap, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // the commit point: flip the current manifest
      val tmp = Paths.get(path, ManifestName + ".tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, manifestPath(path), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** Atomically claim `version`: exactly one `createFile` on the snapshot
    * path succeeds per version number. Rolls back a crashed predecessor's
    * orphaned claim (marker older than [[LockTtlMs]] with the manifest
    * still below `version`); any other existing marker is a lost race.
    */
  private def claimVersion(path: String, version: Long): Unit = {
    val snap = snapshotPath(path, version)
    def lost() = new ConcurrentCommitException(
      s"concurrent commit at $path: version $version already claimed by another writer")
    try Files.createFile(snap)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val orphaned =
          try {
            readManifest(path).forall(_.version < version) &&
            System.currentTimeMillis() - Files.getLastModifiedTime(snap).toMillis > LockTtlMs
          } catch { case _: java.io.IOException => false }
        if (!orphaned) throw lost()
        // Roll back ATOMICALLY: deleteIfExists+createFile would recreate the
        // exact check-then-act window this claim exists to close (two
        // recoverers both judge the marker stale; the slower delete removes
        // the faster one's FRESH claim and both flip the same version).
        // ATOMIC_MOVE to a unique graveyard name has exactly one winner —
        // the loser's move throws NoSuchFileException and is a lost race.
        val graveyard = Paths.get(path,
          snap.getFileName.toString + s".orphan.${ProcessHandle.current().pid()}.${System.nanoTime()}")
        try Files.move(snap, graveyard, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.NoSuchFileException => throw lost() }
        // Re-validate on the MOVED file: its mtime travels with the move.
        // The pre-move staleness check judged whatever was at `snap` THEN;
        // between check and move another recoverer may have rolled back and
        // re-claimed, so the move can grab a FRESH claim. A fresh mtime
        // here means exactly that — restore it and lose the race. The
        // restore is `createLink` (atomic no-replace: link creation fails
        // if `snap` exists again), NOT a rename, because a rename REPLACES
        // the target: a third writer whose `createFile(snap)` landed during
        // the absence window would have its fresh claim silently clobbered.
        // If the link fails, that third writer owns the claim and the
        // graveyard copy is left for the stale-orphan sweep below. Residual
        // honesty: the absence window itself (moved-out live claim until
        // restore) can still let one writer claim while the original
        // believes it holds — reachable only when the commit LOCK was
        // TTL-stolen twice concurrently during a live commit, i.e. when the
        // LockTtlMs liveness assumption is already violated; a plain
        // filesystem offers no compare-and-swap to close that last gap.
        val stoleLive =
          try System.currentTimeMillis() - Files.getLastModifiedTime(graveyard).toMillis <= LockTtlMs
          catch { case _: java.io.IOException => false }
        if (stoleLive) {
          // hard links may be unsupported (FAT/NFS/FUSE mounts) — that
          // surfaces as UnsupportedOperationException, not IOException;
          // either way the restore is best-effort and we lose the race
          try {
            Files.createLink(snap, graveyard)
            Files.deleteIfExists(graveyard)
          } catch {
            case _: java.io.IOException | _: UnsupportedOperationException => ()
          }
          throw lost()
        }
        Files.deleteIfExists(graveyard)
        // a crash between the move and the delete above leaks the uniquely
        // named graveyard file — sweep stale `.orphan.` siblings of this
        // version eagerly instead of relying on vacuum's `_MANIFEST-v`
        // prefix filter to catch them past the retention horizon
        try {
          val ls = Files.list(Paths.get(path))
          try {
            val prefix = snap.getFileName.toString + ".orphan."
            val it = ls.iterator()
            while (it.hasNext) {
              val p = it.next()
              val stale = p.getFileName.toString.startsWith(prefix) &&
                (try System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis > LockTtlMs
                 catch { case _: java.io.IOException => false })
              if (stale) { try Files.deleteIfExists(p) catch { case _: java.io.IOException => () } }
            }
          } finally ls.close()
        } catch { case _: java.io.IOException => () }
        try Files.createFile(snap)
        catch { case _: java.nio.file.FileAlreadyExistsException => throw lost() }
    }
  }

  private def withCommitLock[T](path: String)(body: => T): T = {
    Files.createDirectories(Paths.get(path))
    val lock = Paths.get(path, LockName)
    val deadline = System.nanoTime() + 10_000_000_000L
    var acquired = false
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis > LockTtlMs
            catch { case _: java.io.IOException => false } // holder just released
          if (stale) Files.deleteIfExists(lock)
          else if (System.nanoTime() > deadline)
            throw new ConcurrentCommitException(s"timed out acquiring commit lock at $path")
          else Thread.sleep(5)
      }
    }
    try body finally Files.deleteIfExists(lock)
  }

  /** The table exists once a manifest is committed; pre-manifest layouts
    * (plain parquet dirs from older stores) are honored for reads.
    */
  def exists(path: String): Boolean =
    Files.exists(manifestPath(path)) || legacyExists(path)

  private def legacyExists(path: String): Boolean =
    legacyFiles(path).nonEmpty

  private def legacyFiles(path: String): Array[java.io.File] = {
    val d = new java.io.File(path)
    if (!d.isDirectory) Array.empty
    else Option(d.listFiles()).getOrElse(Array.empty).filter(f =>
      f.getName.endsWith(".parquet") || f.getName.startsWith("_graft_date=") ||
        f.getName == "_SUCCESS")
  }

  /** Fold a pre-manifest plain-parquet layout into segment 1 and commit the
    * migration, so append/upsert history stacks on top of the legacy rows
    * instead of silently dropping them from the table view. No data is
    * rewritten — the files move into the segment dir. Single-writer like all
    * layout changes; returns the committed migration manifest.
    */
  private def migrateLegacy(path: String): Manifest = {
    val seg = newSegName(1)
    val segPath = Paths.get(path, seg)
    Files.createDirectories(segPath)
    legacyFiles(path).foreach(f =>
      Files.move(f.toPath, segPath.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE))
    val m = Manifest(1, "append", Seq.empty, Seq(seg))
    commitManifest(path, None, m)
    m
  }

  private def segDir(path: String, name: String): String =
    Paths.get(path, name).toString

  /** Session confs that change the schema Parquet inference returns for the
    * same files (string vs binary, timestamp flavours, nanos as long,
    * partition-value types); folded into the schema memo key.
    */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** Inferred schema per committed segment dir (see the object scaladoc).
    * Access-order LRU: eviction drops the coldest segment only, and costs
    * one inference job on its next read.
    */
  private val SchemaMemoCap = 1024
  private type SchemaKey = (String, Seq[String])
  private val schemaMemo: java.util.Map[SchemaKey, StructType] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[SchemaKey, StructType](64, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
          size() > SchemaMemoCap
      })

  private def absDir(path: String, seg: String): String =
    Paths.get(path, seg).toAbsolutePath.normalize.toString

  /** Read one committed segment, inferring its schema only on the first read
    * of the dir under the current inference confs.
    */
  private def readSegment(spark: SparkSession, path: String, seg: String): DataFrame = {
    val dir = segDir(path, seg)
    val key = (absDir(path, seg), InferenceConfs.map(c => spark.conf.getOption(c).getOrElse("")))
    Option(schemaMemo.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None =>
        val df = spark.read.parquet(dir)
        schemaMemo.put(key, df.schema)
        df
    }
  }

  /** Committed merged view of the table. Plain union for overwrite/append
    * tables; for keyed (upsert) tables, one row per key — the merge-on-read
    * side of the upsert commit: each column the manifest's `merge` names is
    * folded over the segments by its function, every other column is
    * latest-segment-wins. `asOfVersion` reads the table as of a past commit
    * (time travel; see [[readManifestAt]]).
    */
  def read(spark: SparkSession, path: String, asOfVersion: Option[Long] = None): DataFrame =
    (asOfVersion match {
      case Some(v) => Some(readManifestAt(path, v).getOrElse(
        throw new NoSuchElementException(s"no committed version $v at $path")))
      case None => readManifest(path)
    }) match {
    case None =>
      // legacy plain-parquet table: mutable, so its schema is never memoized
      spark.read.parquet(path)
    case Some(m) =>
      require(m.segments.nonEmpty, s"empty manifest at $path")
      val SegCol = "__graft_seg"
      // allowMissingColumns: an all-empty segment is written unpartitioned
      // (no _graft_date column) while data segments are partitioned
      def union(dfs: Seq[DataFrame]): DataFrame =
        dfs.reduce(_.unionByName(_, allowMissingColumns = true))
      if (m.keys.isEmpty || m.segments.size == 1) {
        union(m.segments.map(s => readSegment(spark, path, s)))
      } else {
        val tagged = m.segments.zipWithIndex.map { case (s, i) =>
          readSegment(spark, path, s).withColumn(SegCol, lit(i))
        }
        mergeByKey(union(tagged), m.keys, m.merge, Some(SegCol))
      }
  }

  /** One row per `keys` tuple of `u`: each column `merge` names is folded
    * by its [[MergeFns]] function and cast back to its type in `u` (a
    * `sum` widens), every other value column is latest-wins by the
    * `order` column, which is dropped. Without `order`, `merge` must name
    * every value column.
    *
    * Latest-wins is a hash max_by aggregation, not a partitioned
    * row_number sort (r17, guide §2.2): same one shuffle on the keys, but
    * map-side partial aggregation replaces the per-key sort, and segments
    * hold at most one row per key (the upsert contract) so max_by(…, seg)
    * picks the identical row. The merge functions ride the same
    * aggregation.
    */
  private[graft] def mergeByKey(u: DataFrame, keys: Seq[String],
      merge: Map[String, String], order: Option[String]): DataFrame = {
    val outCols = u.columns.filterNot(order.contains).toSeq
    val valCols = outCols.filterNot(keys.contains)
    val latest = valCols.filterNot(merge.contains)
    require(latest.isEmpty || order.isDefined,
      s"no merge function and no order for ${latest.mkString(",")}")
    if (valCols.isEmpty) // key-only table: latest-wins ≡ distinct
      return u.select(outCols.map(col): _*).distinct()
    val folded = valCols.filter(merge.contains).map { c =>
      val f = merge(c) match {
        case "sum" => sum(col(c))
        case "min" => min(col(c))
        case "max" => max(col(c))
        case other => throw new IllegalArgumentException(s"unknown merge function $other for $c")
      }
      f.cast(u.schema(c).dataType).as(c)
    }
    val winner = if (latest.isEmpty) Nil
      else Seq(max_by(struct(latest.map(col): _*), col(order.get)).as("__graft_v"))
    val aggs = folded ++ winner
    u.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(outCols.map(c =>
        if (keys.contains(c) || merge.contains(c)) col(c) else col(s"__graft_v.$c").as(c)): _*)
  }

  /** Change data feed between two committed versions — the Delta CDF /
    * "incremental consumer" read shape: everything a downstream pipeline
    * needs to catch up from `fromVersion` to `toVersion` without
    * re-reading the table. Rows carry the table's columns plus
    * `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage (the Delta CDF vocabulary; updates emit BOTH
    * images, keyed comparisons are null-safe).
    *
    * Scale shape: any row that changed must live in a segment ADDED or
    * REMOVED between the two manifests, so the key universe is pruned to
    * the keys of exactly those segments (one distinct over the delta
    * segments, broadcast-or-shuffle semi-join into both snapshot reads)
    * before the full-outer diff — O(changed + merge cost of the touched
    * keys), never a blind corpus×corpus join. Rows that merely moved
    * segments (compaction) survive pruning but drop out at the
    * value-equality gate, so OPTIMIZE emits no phantom changes.
    */
  def readChanges(spark: SparkSession, path: String, keys: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(keys.nonEmpty, "readChanges needs the key columns")
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val mFrom = readManifestAt(path, fromVersion).getOrElse(
      throw new NoSuchElementException(s"no committed version $fromVersion at $path"))
    val mTo = readManifestAt(path, toVersion).getOrElse(
      throw new NoSuchElementException(s"no committed version $toVersion at $path"))
    val deltaSegs = (mTo.segments.diff(mFrom.segments)) ++
      (mFrom.segments.diff(mTo.segments))
    val oldView = read(spark, path, asOfVersion = Some(fromVersion))
    val newView = read(spark, path, asOfVersion = Some(toVersion))
    val valCols = newView.columns.filterNot(keys.contains).toSeq
    require(oldView.columns.sorted.sameElements(newView.columns.sorted),
      "readChanges requires the same schema at both versions")
    if (deltaSegs.isEmpty)
      return newView.limit(0).withColumn("_change_type", lit(""))
    val touched = deltaSegs
      .map(s => readSegment(spark, path, s).select(keys.map(col): _*))
      .reduce(_.unionByName(_)).distinct()
    def pruned(v: DataFrame) = v.join(touched, keys, "left_semi")
    val o = pruned(oldView).select(keys.map(col) :+
      struct(valCols.map(col): _*).as("__old"): _*)
    val n = pruned(newView).select(keys.map(col) :+
      struct(valCols.map(col): _*).as("__new"): _*)
    val j = o.join(n, keys, "full_outer")
    def emit(cond: Column, src: Column, tag: String) =
      j.filter(cond).select(
        keys.map(col) ++ valCols.map(c => src.getField(c).as(c)) :+
          lit(tag).as("_change_type"): _*)
    val changed = col("__old").isNotNull && col("__new").isNotNull &&
      !(col("__old") <=> col("__new"))
    val inserts = emit(col("__old").isNull && col("__new").isNotNull,
      col("__new"), "insert")
    val deletes = emit(col("__new").isNull && col("__old").isNotNull,
      col("__old"), "delete")
    val updPre = emit(changed, col("__old"), "update_preimage")
    val updPost = emit(changed, col("__new"), "update_postimage")
    inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
  }

  /** Apply a [[readChanges]] feed onto a base snapshot — the CDC consumer
    * op and [[readChanges]]'s inverse: drop the keys the feed deletes or
    * pre-images, then add its insert/post-image rows. With
    * `base = read(v_from)` and `changes = readChanges(v_from, v_to)`, the
    * result row-set EQUALS `read(v_to)` (the closure property q179 pins).
    * One left-anti join on the (feed-sized) removed-key set + one union —
    * a 100 TB consumer applies a wave without re-reading the table.
    */
  def applyChanges(base: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "applyChanges needs the key columns")
    val dataCols = base.columns.toSeq
    require(changes.columns.contains("_change_type"),
      "changes must carry _change_type (a readChanges feed)")
    val removedKeys = changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(keys.map(col): _*).distinct()
    val added = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(dataCols.map(col): _*)
    base.join(removedKeys, keys, "left_anti")
      .unionByName(added)
  }

  /** Segment names split by the [loMicros, hiMicros] time range: (kept,
    * skipped). A segment is skipped only when it HAS stats on `statsCol` and
    * its [min,max] is disjoint from the range — segments without stats are
    * conservatively kept, so pre-stats tables degrade to a full read, never
    * a wrong one.
    */
  def segmentsInRange(path: String, statsCol: String,
      loMicros: Long, hiMicros: Long): (Seq[String], Seq[String]) =
    readManifest(path) match {
      case None => (Seq.empty, Seq.empty)
      case Some(m) =>
        m.segments.partition { s =>
          m.stats.get(s) match {
            case Some(st) if st.col.equalsIgnoreCase(statsCol) =>
              st.max >= loMicros && st.min <= hiMicros
            case _ => true // no stats (or different column) → must read
          }
        }
    }

  /** OPTIMIZE — rewrite the committed table into ONE fresh segment of (at
    * most) `numFiles` files: bin-packing compaction for the thousands of
    * micro-batch segments a streaming sink accumulates, optionally Z-ORDERed
    * by two dimension columns (`zorderBy`) so parquet footer min/max stats
    * prune multi-dimensional box scans afterwards — the lakehouse
    * `OPTIMIZE [ZORDER BY]` maintenance operation, manifest-native.
    *
    * Logical content is untouched: what gets rewritten is the committed
    * MERGED view (merge-on-read for upsert tables), `keys` and `merge` are
    * preserved (an optimized upsert table keeps accepting upserts), and the
    * committed `batchId` watermark and fold `consumed` set carry over so a
    * streaming sink's exactly-once replay guard, or a batch fold's, survives
    * an optimize between refreshes.
    * Event-time stats for the new segment fold the old per-segment
    * envelopes (min of mins / max of maxes — conservative: an upsert merge
    * can only narrow the true range, and a too-wide envelope keeps a
    * segment, never wrongly prunes one); segments lacking stats fall back
    * to one O(result) aggregation when `statsCol` is given.
    *
    * Layout note: the z-order write here uses `repartitionByRange` on the
    * interleaved key — one range shuffle, sampling-based file SPLITS. That
    * nondeterminism is fine for physical maintenance (pruning quality, not
    * file identity, is the contract); evidence queries that must be
    * portable across sessions use [[ZOrderLayout.writeRangeBucketed]]'s
    * exact boundaries instead.
    *
    * Concurrency: the same optimistic CAS as every commit — racing with a
    * writer makes one of them the loser with an error; no lost update.
    * Crash between segment write and manifest flip leaves an orphan dir
    * for vacuum, never a partial table.
    */
  def optimize(
      spark: SparkSession,
      path: String,
      numFiles: Int,
      zorderBy: Seq[String] = Seq.empty,
      statsCol: Option[String] = None,
      bits: Int = 12): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val m = readManifest(path).getOrElse(throw new IllegalArgumentException(
      s"no manifest at $path — nothing to optimize"))
    val df = read(spark, path)
    val laidOut =
      if (zorderBy.isEmpty) df.repartition(numFiles)
      else {
        // per-dim bit budget shrinks so the N-dim Morton code fits a long;
        // 62/N bits of rank per dimension is far beyond file-level
        // resolution anyway (even 1000 files only need ~10 curve bits)
        val effBits = math.min(bits, 62 / zorderBy.size)
        val stats = df.agg(
          zorderBy.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long")))).head,
          zorderBy.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long")))).tail: _*).head
        if (zorderBy.indices.exists(i => stats.isNullAt(2 * i))) df.repartition(numFiles)
        else df
          .withColumn("__z", ZOrderLayout.zkeyN(
            zorderBy.zipWithIndex.map { case (c, i) =>
              (col(c), (stats.getLong(2 * i), stats.getLong(2 * i + 1)))
            }, effBits))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    val segStats = statsCol.flatMap { c =>
      val have = m.segments.flatMap(s => m.stats.get(s))
        .filter(_.col.equalsIgnoreCase(c))
      if (have.nonEmpty && have.size == m.segments.size)
        Some(SegStats(c, have.map(_.min).min, have.map(_.max).max))
      else SegStats.of(df, c)
    }
    val v = m.version + 1
    val seg = newSegName(v)
    laidOut.write.parquet(segDir(path, seg))
    commitManifest(path, Some(m.version),
      m.copy(version = v, kind = if (m.kind == "upsert") "upsert" else "full",
        segments = Seq(seg), stats = segStats.map(seg -> _).toMap))
    vacuum(path)
  }

  /** Range DELETE with manifest-level segment skipping — the retention /
    * TTL operation for event-history tables ("expire rows older than X"),
    * shaped like Delta's file-skipping DELETE: per committed segment,
    *   - `statsCol` envelope DISJOINT from [loMicros, hiMicros] → kept
    *     verbatim (same directory, zero IO);
    *   - envelope fully INSIDE the range → dropped from the manifest (a
    *     whole-segment delete costs one manifest edit, no data touched);
    *   - straddling (or stat-less — conservatively treated as straddling)
    *     → rewritten with the range filtered out, exact stats recomputed
    *     on the surviving rows.
    * For a contiguous expiry range that is at most two segment rewrites no
    * matter how large the table — the cost profile that makes daily
    * retention ticks viable on a table of thousands of segments. Keyed
    * upsert tables take the conservative whole-table path (merge-on-read
    * first, then filter: a pruned segment there could resurrect a
    * superseded key), preserving keys and merge functions. The commit is
    * one CAS manifest flip; `batchId` and the fold `consumed` set carry
    * over so refresh replay guards survive (a fold that lost its consumed
    * set would re-read every source file and resurrect the expired rows).
    * Returns (segments kept verbatim, dropped, rewritten).
    */
  def deleteRange(
      spark: SparkSession,
      path: String,
      statsCol: String,
      loMicros: Long,
      hiMicros: Long): (Int, Int, Int) = {
    val m = readManifest(path).getOrElse(throw new IllegalArgumentException(
      s"no manifest at $path — nothing to delete from"))
    val v = m.version + 1
    val keep = not(unix_micros(col(statsCol)).between(loMicros, hiMicros))
    if (m.keys.nonEmpty) {
      // upsert table: merge first (latest-wins), then filter — O(table),
      // but correct under superseded keys; keys/kind preserved
      val merged = read(spark, path).filter(keep)
      val seg = newSegName(v)
      merged.write.parquet(segDir(path, seg))
      val st = SegStats.of(readSegment(spark, path, seg), statsCol)
      commitManifest(path, Some(m.version),
        m.copy(version = v, kind = "upsert", segments = Seq(seg), stats = st.map(seg -> _).toMap))
      vacuum(path)
      return (0, 0, 1)
    }
    var kept, dropped, rewritten = 0
    val (newSegs, newStats) = m.segments.foldLeft(
      (Seq.empty[String], Map.empty[String, SegStats])) { case ((segs, stats), s) =>
      m.stats.get(s).filter(_.col.equalsIgnoreCase(statsCol)) match {
        case Some(st) if st.max < loMicros || st.min > hiMicros =>
          kept += 1
          (segs :+ s, stats ++ m.stats.get(s).map(s -> _))
        case Some(st) if st.min >= loMicros && st.max <= hiMicros =>
          dropped += 1
          (segs, stats) // whole segment expires — manifest edit only
        case _ => // straddling, or no usable stats: rewrite filtered
          val remaining = readSegment(spark, path, s).filter(keep)
          if (remaining.isEmpty) { dropped += 1; (segs, stats) }
          else {
            rewritten += 1
            val ns = newSegName(v)
            remaining.write.parquet(segDir(path, ns))
            val nst = SegStats.of(readSegment(spark, path, ns), statsCol)
            (segs :+ ns, stats ++ nst.map(ns -> _))
          }
      }
    }
    // a delete that empties the table still needs one (empty) segment so
    // readers keep resolving the schema
    val (finalSegs, finalStats) =
      if (newSegs.nonEmpty) (newSegs, newStats)
      else {
        val ns = newSegName(v)
        readSegment(spark, path, m.segments.head).limit(0)
          .write.parquet(segDir(path, ns))
        (Seq(ns), Map.empty[String, SegStats])
      }
    commitManifest(path, Some(m.version),
      m.copy(version = v, segments = finalSegs, stats = finalStats))
    vacuum(path)
    (kept, dropped, rewritten)
  }

  /** Time-range read with manifest-level segment skipping: only segments
    * whose `statsCol` envelope intersects [loMicros, hiMicros] enter the
    * scan plan — the others are never listed, opened, or scheduled. The
    * row-exact `statsCol BETWEEN` filter is applied on top (stats prune
    * segments, not rows). Append/full tables only: on a keyed upsert table,
    * skipping an old segment could resurrect a superseded row (a newer
    * version of its key may live outside the range), so pruning there is
    * refused rather than silently wrong — compact first, or read fully.
    */
  def readRange(spark: SparkSession, path: String, statsCol: String,
      loMicros: Long, hiMicros: Long): DataFrame = {
    val m = readManifest(path).getOrElse(
      return spark.read.parquet(path)
        .filter(unix_micros(col(statsCol)).between(loMicros, hiMicros)))
    require(m.keys.isEmpty,
      s"readRange on keyed upsert table at $path: segment pruning would break " +
        "latest-wins merge (a pruned segment may hold the superseding row)")
    val (kept, _) = segmentsInRange(path, statsCol, loMicros, hiMicros)
    val base =
      if (kept.isEmpty) read(spark, path).limit(0) // all segments disjoint
      else kept.map(s => readSegment(spark, path, s))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    base.filter(unix_micros(col(statsCol)).between(loMicros, hiMicros))
  }

  /** Unique segment dir name: manifest version it targets + random suffix,
    * so two optimistic writers racing toward the same version never write
    * into the same directory (the loser's dir is vacuumed later).
    */
  private def newSegName(version: Long): String = {
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    f"$SegPrefix$version%08d-$suffix"
  }

  /** True when a streaming micro-batch has already been committed to this
    * table — checkpoint recovery replays the last batch, and committing it
    * again would duplicate its rows.
    */
  private def alreadyCommitted(m: Option[Manifest], batchId: Option[Long]): Boolean =
    batchId.exists(b => m.exists(_.batchId >= b))

  /** FULL publish: write one fresh segment, point the manifest at it alone.
    * Valid on any base (it replaces the whole table). `batchId` makes a
    * streaming complete-mode sink idempotent under batch replay.
    */
  def overwrite(path: String, batchId: Option[Long] = None,
      stats: Option[SegStats] = None)(writeSeg: String => Unit): Unit = {
    val m = readManifest(path)
    if (alreadyCommitted(m, batchId)) return
    commitSegment(path, m, replace = true, "full", Seq.empty, batchId.getOrElse(-1L),
      stats, Map.empty, None)(writeSeg)
  }

  /** Append publish: the new segment joins the committed set (O(batch)).
    * Refused on a keyed upsert table — a keyless segment there would
    * silently bypass merge-on-read. `batchId` (streaming sinks) skips
    * replayed micro-batches instead of double-appending their rows.
    */
  def append(path: String, batchId: Option[Long] = None,
      stats: Option[SegStats] = None)(writeSeg: String => Unit): Unit = {
    val m0 = readManifest(path)
    val m = if (m0.isEmpty && legacyExists(path)) Some(migrateLegacy(path)) else m0
    if (alreadyCommitted(m, batchId)) return
    m.foreach(prev => require(prev.keys.isEmpty,
      s"cannot append keyless rows into upsert table (keys ${prev.keys}) at $path"))
    commitSegment(path, m, replace = false, "append", Seq.empty, batchId.getOrElse(-1L),
      stats, Map.empty, None)(writeSeg)
  }

  /** Upsert publish: new segment's rows supersede older rows with the same
    * `keys` tuple at read time. Valid bases: a latest-wins upsert table with
    * the same keys, a single-segment FULL or upsert publish (the
    * initialize→incremental flow; a FULL aggregation result has unique keys
    * by construction), or an empty table. An append-history base is
    * refused — merge-on-read would collapse legitimate duplicate-key rows
    * inside its segments — and so is a multi-segment table with merge
    * functions, whose segments hold partial aggregates, not rows. Rewrites
    * the merged view into a single segment every `compactEvery` commits via
    * `compactWrite`.
    */
  def upsert(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      compactEvery: Int = CompactEvery,
      compactWrite: (DataFrame, String) => Unit,
      batchId: Option[Long] = None,
      stats: Option[SegStats] = None)(writeSeg: String => Unit): Unit = {
    val m0 = readManifest(path)
    val m = if (m0.isEmpty && legacyExists(path)) Some(migrateLegacy(path)) else m0
    if (alreadyCommitted(m, batchId)) return
    m.foreach { prev =>
      val compatible = prev.segments.size == 1 && prev.kind == "full" ||
        prev.kind == "upsert" && prev.keys == keys && (prev.merge.isEmpty || prev.segments.size == 1)
      require(compatible,
        s"upsert(keys=$keys) incompatible with ${prev.kind} table (keys ${prev.keys}) at $path")
    }
    val appended = commitSegment(path, m, replace = false, "upsert", keys,
      batchId.getOrElse(-1L), stats, Map.empty, None)(writeSeg)
    maybeCompact(spark, path, appended, compactEvery, compactWrite)
  }

  /** Fold publish — the commit of one batch refresh that folded the source
    * files it had not consumed yet. `base` is the manifest the caller
    * listed those files against, and the flip is a compare-and-swap on its
    * version, so the data and the new `consumed` set land together or not
    * at all: a racing fold that read the same base loses with a
    * [[ConcurrentCommitException]] and no file is folded twice, with no
    * checkpoint beside the table.
    *
    * `replace` makes the new segment the whole table (the first fold, or a
    * rebase); otherwise it joins `base`'s segments — an append segment when
    * `keys` is empty, else a partial-aggregate upsert segment that `merge`
    * folds into the older ones at read time. A keyed fold compacts every
    * [[CompactEvery]] segments through `compactWrite`, as [[upsert]] does.
    * Returns the manifest that ends up committed.
    */
  def fold(
      spark: SparkSession,
      path: String,
      base: Option[Manifest],
      consumed: Set[String],
      keys: Seq[String] = Seq.empty,
      merge: Map[String, String] = Map.empty,
      replace: Boolean = false,
      stats: Option[SegStats] = None,
      compactWrite: (DataFrame, String) => Unit = (df, dir) => df.write.parquet(dir))(
      writeSeg: String => Unit): Manifest = {
    require(merge.values.forall(MergeFns.contains), s"unknown merge function in $merge")
    if (!replace) {
      val prev = base.getOrElse(throw new IllegalArgumentException(
        s"a stacking fold needs a committed base at $path"))
      require(canStack(prev, keys, merge),
        s"fold(keys=$keys, merge=$merge) cannot stack on ${prev.kind} table " +
          s"(keys ${prev.keys}, merge ${prev.merge}) at $path")
    }
    val kind = if (keys.nonEmpty) "upsert" else if (replace) "full" else "append"
    val m = commitSegment(path, base, replace, kind, keys, -1L, stats, merge,
      Some(consumed))(writeSeg)
    if (keys.isEmpty) m else maybeCompact(spark, path, m, CompactEvery, compactWrite)
  }

  /** True when a fold with `keys` and `merge` may add a segment on top of
    * `base` instead of replacing it: an append fold onto any keyless table,
    * a keyed fold onto a table with the same keys whose merge functions
    * match (or that has one segment, whose keys are unique).
    */
  private[graft] def canStack(base: Manifest, keys: Seq[String], merge: Map[String, String]): Boolean =
    if (keys.isEmpty) base.keys.isEmpty
    else base.segments.size == 1 && (base.kind == "full" || base.keys == keys) ||
      base.kind == "upsert" && base.keys == keys && base.merge == merge

  /** Write one segment and flip the manifest from `base` to a manifest that
    * holds it: alone (`replace`) or after `base`'s segments, whose stats
    * it keeps.
    */
  private def commitSegment(path: String, base: Option[Manifest], replace: Boolean,
      kind: String, keys: Seq[String], batchId: Long, stats: Option[SegStats],
      merge: Map[String, String], consumed: Option[Set[String]])(
      writeSeg: String => Unit): Manifest = {
    val v = base.map(_.version).getOrElse(0L) + 1
    val seg = newSegName(v)
    writeSeg(segDir(path, seg))
    val prior = if (replace) None else base
    val m = Manifest(v, kind, keys, prior.map(_.segments).getOrElse(Seq.empty) :+ seg,
      batchId, prior.map(_.stats).getOrElse(Map.empty) ++ stats.map(seg -> _),
      merge, consumed)
    commitManifest(path, base.map(_.version), m)
    m
  }

  /** Rewrite a keyed table's merged view into one segment once it has
    * `compactEvery` segments; returns the manifest left committed.
    */
  private def maybeCompact(spark: SparkSession, path: String, appended: Manifest,
      compactEvery: Int, compactWrite: (DataFrame, String) => Unit): Manifest = {
    if (appended.segments.size < compactEvery) return appended
    val merged = read(spark, path) // resolves the manifest just committed
    val cseg = newSegName(appended.version + 1)
    compactWrite(merged, segDir(path, cseg))
    // the compacted segment's stats are the union envelope of its inputs'
    // (valid iff every input segment carried stats on the same column —
    // merge-on-read only drops rows, so the envelope stays a sound bound)
    val cstats = {
      val ss = appended.segments.flatMap(appended.stats.get)
      if (ss.size == appended.segments.size && ss.map(_.col).distinct.size == 1)
        Map(cseg -> SegStats(ss.head.col, ss.map(_.min).min, ss.map(_.max).max))
      else Map.empty[String, SegStats]
    }
    // compaction is an optimization, not a publish: if a concurrent commit
    // beat the flip, skip it — the commit above is already durable. The
    // compacted manifest keeps the data-state batchId, merge functions and
    // consumed set.
    val compacted = appended.copy(version = appended.version + 1,
      segments = Seq(cseg), stats = cstats)
    try { commitManifest(path, Some(appended.version), compacted); compacted }
    catch { case _: ConcurrentCommitException => appended }
  }

  /** Delete unreferenced segments older than `keepGenerations` manifest
    * versions — Delta VACUUM semantics: safe as long as no reader holds a
    * manifest that many commits stale.
    */
  def vacuum(path: String, keepGenerations: Int = 8): Int = {
    readManifest(path) match {
      case None => 0
      case Some(m) =>
        val referenced = m.segments.toSet
        val horizon = m.version - keepGenerations
        val dir = new java.io.File(path)
        val victims = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith(SegPrefix))
          .filterNot(f => referenced.contains(f.getName))
          .filter { f =>
            // seg-VVVVVVVV[-suffix] → VVVVVVVV
            val digits = f.getName.stripPrefix(SegPrefix).takeWhile(_.isDigit)
            val idx = scala.util.Try(digits.toLong).getOrElse(Long.MaxValue)
            idx <= horizon
          }
        victims.foreach(f => deleteRecursively(f.toPath))
        val gone = victims.map(f => absDir(path, f.getName)).toSet
        schemaMemo.keySet.removeIf(k => gone.contains(k._1))
        // expire snapshot manifests past the same horizon — their segments
        // are (or may be) gone, so time travel to them is over anyway
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.startsWith("_MANIFEST-v"))
          .filter { f =>
            val digits = f.getName.stripPrefix("_MANIFEST-v").takeWhile(_.isDigit)
            scala.util.Try(digits.toLong).getOrElse(Long.MaxValue) <= horizon
          }
          .foreach(f => Files.deleteIfExists(f.toPath))
        victims.length
    }
  }

  private[storage] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
