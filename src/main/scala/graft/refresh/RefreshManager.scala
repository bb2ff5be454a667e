package graft.refresh

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.catalog.MetadataCatalog.FeatureViewRecord
import graft.core.FeatureStore
import graft.model._
import graft.storage.VersionedTable

/** Managed-feature-view refresh — the Spark-native realization of Snowflake
  * Dynamic Tables (SURVEY.md §2.C; reference feature_view.sql:116-128:
  * target_lag / refresh_mode / initialize).
  *
  *  - FULL: scheduled batch recompute every `refreshFreq`, published as one
  *    atomic manifest flip ([[graft.storage.VersionedTable.overwrite]]) —
  *    Snowflake's refresh_mode=FULL.
  *  - INCREMENTAL over a parquet source directory, routed by the shape of
  *    the FV query's analyzed plan alone:
  *      - **batch fold** for the two shapes a fold expresses exactly —
  *        Project/Filter over the source (append), and one top Aggregate
  *        over such a child, grouped by named output columns other than
  *        the event-time column, whose every other output is a bare
  *        `count`, integral or decimal `sum`, `min` or `max` (distributive
  *        aggregates: a partial aggregate of new rows merges into the
  *        stored one without reading old rows). A fold lists the source
  *        files the FV's manifest has not consumed, runs the FV query once
  *        over only those, and commits the segment (an append segment, or
  *        a partial-aggregate upsert segment merged on read by sum, min or
  *        max) together with the new consumed set in one
  *        [[graft.storage.VersionedTable.fold]] flip: the manifest
  *        compare-and-swap is the exactly-once guard, with no streaming
  *        checkpoint. The first fold with no consumed record replaces the
  *        table with the FV query over every file, or adopts the files of a
  *        streaming checkpoint the table was written from;
  *      - **Structured Streaming** for every other plan (joins, windows,
  *        HAVING, expressions over aggregates, double sums,
  *        expression-grouped keys), sink chosen from the plan shape:
  *          - aggregation with derivable grouping keys → **update** output
  *            mode, each micro-batch's changed keys land as an upsert
  *            segment;
  *          - no aggregation → **append** output mode, each batch's new
  *            rows land as an append segment (never an overwrite, which
  *            would drop all history);
  *          - aggregation whose grouping keys can't be named from the
  *            plan → try the FV's DECLARED entity join keys (+ timestamp
  *            col) as the upsert key, guarded by a structural check and a
  *            one-time uniqueness dry-run ([[electEntityKeys]]); only if
  *            that fails → **complete** mode, atomic whole-table publish
  *            per tick (write O(result));
  *      - declared event-analytics maintenance streams through its
  *        maintainer ([[startMaintenanceStream]]).
  *  - AUTO: INCREMENTAL as above; if Spark's unsupported-operation checker
  *    rejects a streamed plan (non-incrementalizable query), fall back to
  *    FULL — the same choice Snowflake's AUTO makes.
  *
  * `target_lag` parity: observed staleness at any instant is the tick period
  * PLUS the refresh's own processing time, so ticking every `refreshFreq`
  * overshoots the target by one batch duration (round-6 probe: max 70 s at a
  * 60 s target). Every scheduler therefore ticks at 3/4 of the target lag
  * (1 s floor, never above the lag itself — see [[RefreshManager.tickMillis]]),
  * reserving a 25% allowance for batch processing — the same
  * reasoning Snowflake's dynamic-table scheduler applies when it aims
  * refresh completion, not refresh start, at the TARGET_LAG boundary
  * (round-10 matrix: every sink mode × feed scale cell within a 60 s
  * target, `LAGPROBE_r10.json`).
  */
final class RefreshManager(fs: FeatureStore) {
  import RefreshManager._

  private val spark: SparkSession = fs.spark
  private val scheduler = Executors.newScheduledThreadPool(2, r => {
    val t = new Thread(r, "graft-refresh"); t.setDaemon(true); t
  })
  private val scheduled = new ConcurrentHashMap[String, ScheduledFuture[_]]()
  private val fullFailures = new ConcurrentHashMap[String, Throwable]()
  private val runs = new ConcurrentHashMap[String, RefreshRun]()
  private val elected = new ConcurrentHashMap[String, String]()

  /** Route the last `startIncremental` elected for this FV ("fold-append" |
    * "fold-aggregate" | "append" | "update" | "complete" | "maintenance")
    * — observability for status surfaces, specs, and the lag probe.
    */
  def electedMode(rec: FeatureViewRecord): Option[String] =
    Option(elected.get(key(rec)))

  private def key(rec: FeatureViewRecord): String = rec.logicalId

  private def managedPath(rec: FeatureViewRecord): String = rec.physicalPath.getOrElse(
    throw new IllegalArgumentException(s"${rec.logicalId} is not a managed feature view"))

  /** One full recompute of a managed FV (refresh_mode=FULL tick, or manual
    * refresh). Publishes the new result as a single manifest flip — a
    * concurrent reader sees either the old committed table or the new one,
    * never a missing or partial table (the old delete→rename swap had both
    * hazards). Dereferenced segments are vacuumed with a retention horizon
    * so in-flight readers keep their files. The overwrite carries no fold
    * record, so the next INCREMENTAL fold starts over from every file.
    */
  def refreshOnce(rec: FeatureViewRecord): Unit = {
    val path = managedPath(rec)
    rec.fv.refresh.flatMap(_.maintenance) match {
      case Some(m) =>
        // declared event-analytics maintenance: a FULL tick re-folds the
        // whole event relation — semantically a no-op on already-ingested
        // events (all three maintainers are idempotent merges), so this is
        // always CORRECT, just events-scale; startMaintenanceStream is the
        // O(batch) path
        graft.streaming.EventAnalyticsStream.maintain(
          spark, m, path, spark.sql(rec.fv.query))
      case None =>
        VersionedTable.overwrite(path)(dir =>
          FeatureStore.writeManaged(spark.sql(rec.fv.query), rec.fv, dir))
    }
    VersionedTable.vacuum(path)
  }

  /** The maintained relation a declared-maintenance FV serves — the
    * public read surface next to [[refreshOnce]] (q196/q197/q205's serve
    * through the FV plane).
    */
  def serveMaintained(rec: FeatureViewRecord,
      asOfTableVersion: Option[Long] = None): DataFrame = {
    val path = managedPath(rec)
    val m = rec.fv.refresh.flatMap(_.maintenance).getOrElse(
      throw new IllegalArgumentException(s"${rec.logicalId} declares no maintenance"))
    graft.streaming.EventAnalyticsStream.serve(spark, m, path, asOfTableVersion)
  }

  /** INCREMENTAL refresh for a declared-maintenance FV: stream `sourceDir`
    * parquet under temp-view `sourceName`, project each micro-batch
    * through the FV query, and fold it into the FV's state table via the
    * declared maintainer — batchId-guarded (exactly-once despite
    * foreachBatch's at-least-once replay), work per tick
    * O(batch + touched state). The [[startIncremental]] sibling for the
    * aggregates Spark's streaming planner cannot incrementalize from SQL.
    */
  def startMaintenanceStream(
      rec: FeatureViewRecord,
      sourceName: String,
      sourceDir: String,
      sourceSchema: StructType,
      availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      pathGlobFilter: Option[String] = None): RefreshRun = {
    val path = managedPath(rec)
    val m = rec.fv.refresh.flatMap(_.maintenance).getOrElse(
      throw new IllegalArgumentException(s"${rec.logicalId} declares no maintenance"))
    val reader = spark.readStream.schema(sourceSchema)
    pathGlobFilter.foreach(g => reader.option("pathGlobFilter", g))
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    elected.put(key(rec), "maintenance")
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // bind the batch under the FV query's source name and resolve the
        // query in the BATCH's OWN session: foreachBatch hands a DataFrame
        // bound to the micro-batch's cloned session, so a view registered
        // here lands in that clone's catalog — resolving through the outer
        // session would silently read the view's stale registration-time
        // binding instead of this batch
        batch.createOrReplaceTempView(sourceName)
        graft.streaming.EventAnalyticsStream.maintain(
          spark, m, path, batch.sparkSession.sql(rec.fv.query), Some(bid))
        ()
      }
      .option("checkpointLocation", path + "__checkpoint")
      .trigger(trigger(rec, availableNow))
      .start()
    register(rec, new RefreshRun.Streamed(q, path))
  }

  /** Start the FULL-mode scheduler: recompute at the target-lag tick. A
    * failed tick is reported by [[status]] until a later tick succeeds.
    */
  def startFullSchedule(rec: FeatureViewRecord): Unit = {
    val freq = tickMillis(rec.fv.refresh.get.freqMillis)
    val k = key(rec)
    val fut = scheduler.scheduleAtFixedRate(
      () => try { refreshOnce(rec); fullFailures.remove(k) } catch { case NonFatal(e) =>
        fullFailures.put(k, e)
        System.err.println(s"[refresh] ${rec.logicalId} tick failed: ${e.getMessage}") },
      freq, freq, TimeUnit.MILLISECONDS)
    Option(scheduled.put(k, fut)).foreach(_.cancel(false))
  }

  /** Start INCREMENTAL refresh of `rec` from the parquet files under
    * `sourceDir`, which its query reads as temp-view `sourceName`: a batch
    * fold or a streaming query, as the class doc says.
    *
    * `availableNow = true` brings the table up to date with the files
    * present now and returns a finished run (a fold runs in the caller's
    * thread); false keeps refreshing at the target-lag tick until stopped.
    */
  def startIncremental(
      rec: FeatureViewRecord,
      sourceName: String,
      sourceDir: String,
      sourceSchema: StructType,
      availableNow: Boolean = false,
      pathGlobFilter: Option[String] = None): RefreshRun = {
    val path = managedPath(rec)
    val src = Source(sourceName, sourceDir, sourceSchema, pathGlobFilter)
    foldShape(rec, src) match {
      case Some(shape) =>
        elected.put(key(rec), shape.mode)
        val run = new RefreshRun.Folded(() => foldTick(rec, path, src, shape))
        if (availableNow) { run.runTick(); run.stop() }
        else run.scheduledBy(scheduler.scheduleAtFixedRate(() => run.scheduledTick(),
          0L, tickMillis(rec.fv.refresh.get.freqMillis), TimeUnit.MILLISECONDS))
        register(rec, run)
      case None => register(rec, startStream(rec, path, src, availableNow))
    }
  }

  private def register(rec: FeatureViewRecord, run: RefreshRun): RefreshRun = {
    Option(runs.put(key(rec), run)).foreach(_.stop())
    run
  }

  private def trigger(rec: FeatureViewRecord, availableNow: Boolean): Trigger =
    if (availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(tickMillis(rec.fv.refresh.get.freqMillis))

  /** One fold of the fold-shaped `rec` now, in the caller's thread, over
    * every file under `sourceDir`; `beforeCommit` runs between the segment
    * write and the manifest flip. Returns the table version.
    */
  private[refresh] def foldOnce(rec: FeatureViewRecord, sourceName: String,
      sourceDir: String, sourceSchema: StructType,
      beforeCommit: String => Unit = _ => ()): Long = {
    val src = Source(sourceName, sourceDir, sourceSchema, None)
    val shape = foldShape(rec, src).getOrElse(
      throw new IllegalArgumentException(s"${rec.logicalId} is not fold-shaped"))
    foldTick(rec, managedPath(rec), src, shape, beforeCommit)._1
  }

  /** The fold route of `rec`'s query over `src`, from its analyzed plan;
    * None means the streaming path.
    */
  private def foldShape(rec: FeatureViewRecord, src: Source): Option[FoldShape] = {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), src.schema)
    val plan = resolveWith(src.name, empty, rec.fv.query).queryExecution.analyzed
    def overSource(p: LogicalPlan): Boolean = p match {
      case SubqueryAlias(id, _) if id.name.equalsIgnoreCase(src.name) => true
      case _ if p.expressions.exists(e =>
        !e.deterministic || SubqueryExpression.hasSubquery(e)) => false
      case Project(_, c) => overSource(c)
      case Filter(_, c) => overSource(c)
      case SubqueryAlias(_, c) => overSource(c)
      case v: View => overSource(v.child)
      case _ => false
    }
    plan match {
      case a: Aggregate if overSource(a.child) =>
        val groups = a.groupingExpressions
        def isGroup(e: Attribute) = groups.exists(_.semanticEquals(e))
        val outs = a.aggregateExpressions.map {
          case g: Attribute if isGroup(g) => Some(g.name -> None)
          case Alias(g: Attribute, n) if isGroup(g) => Some(n -> None)
          case Alias(ae: AggregateExpression, n) if !ae.isDistinct && ae.filter.isEmpty =>
            (ae.aggregateFunction match {
              case _: Count => Some("sum")
              case s: Sum => s.child.dataType match {
                case ByteType | ShortType | IntegerType | LongType | _: DecimalType => Some("sum")
                case _ => None
              }
              case _: Min => Some("min")
              case _: Max => Some("max")
              case _ => None
            }).map(f => n -> Some(f))
          case _ => None
        }
        val keys = outs.flatten.collect { case (n, None) => n }
        val named = a.aggregateExpressions.collect {
          case g: Attribute => g
          case Alias(g: Attribute, _) => g
        }
        val eventTimeKey = rec.fv.timestampCol.exists(tc =>
          keys.exists(_.equalsIgnoreCase(tc)) ||
            groups.exists { case g: Attribute => g.name.equalsIgnoreCase(tc); case _ => false })
        val ok = outs.forall(_.isDefined) && !eventTimeKey && groups.forall {
          case g: Attribute => named.exists(_.semanticEquals(g))
          case _ => false
        }
        if (!ok) None
        else Some(AggFold(keys, outs.flatten.collect { case (n, Some(f)) => n -> f }.toMap))
      case p if overSource(p) => Some(AppendFold)
      case _ => None
    }
  }

  /** Fold the files under `src` that the table at `path` has not consumed:
    * one FV query over those files and one manifest flip committing the
    * segment with the grown consumed set (see [[VersionedTable.fold]]).
    * Returns the table version and the consumed-file count.
    */
  private def foldTick(rec: FeatureViewRecord, path: String, src: Source,
      shape: FoldShape, beforeCommit: String => Unit = _ => ()): (Long, Int) = {
    val base = VersionedTable.readManifest(path)
    val prior = base.flatMap(b => b.consumed.orElse(streamedFiles(path, b.batchId)))
    val fresh = src.files.filterNot(f => prior.exists(_.contains(f)))
    if (fresh.isEmpty)
      return (base.map(_.version).getOrElse(0L), prior.map(_.size).getOrElse(0))
    val consumed = prior.getOrElse(Set.empty[String]) ++ fresh
    val out = resolveWith(src.name,
      spark.read.schema(src.schema).option("basePath", src.dir).parquet(fresh: _*),
      rec.fv.query)
    val write = (df: DataFrame, dir: String) => FeatureStore.writeManaged(df, rec.fv, dir)
    shape match {
      case AppendFold =>
        // segment-level event-time stats: one O(batch) agg at write time
        // buys manifest-level data skipping for every later time-range
        // read of this log-shaped table (VersionedTable.readRange)
        val stats = rec.fv.timestampCol
          .filter(tc => out.schema.fields.exists(f =>
            f.name.equalsIgnoreCase(tc) && f.dataType == TimestampType))
          .flatMap(VersionedTable.SegStats.of(out, _))
        VersionedTable.fold(spark, path, base, consumed, replace = prior.isEmpty,
          stats = stats) { dir => write(out, dir); beforeCommit(dir) }
        maybeAutoOptimize(rec, path)
      case AggFold(keys, merge) =>
        val stack = prior.isDefined && base.exists(VersionedTable.canStack(_, keys, merge))
        // a table the streaming path left holds latest-wins segments, not
        // partial aggregates: its merged view and the new partial are
        // merged into one replacing segment, once
        val data =
          if (stack || prior.isEmpty) out
          else VersionedTable.mergeByKey(
            VersionedTable.read(spark, path).drop(FeatureStore.PartCol).unionByName(out),
            keys, merge, None)
        VersionedTable.fold(spark, path, base, consumed, keys, merge, replace = !stack,
          compactWrite = write) { dir => write(data, dir); beforeCommit(dir) }
    }
    VersionedTable.vacuum(path)
    (VersionedTable.readManifest(path).map(_.version).getOrElse(0L), consumed.size)
  }

  /** Resolve `query` with temp view `name` bound to `df`, then put back
    * whatever `name` was bound to before: the resolved plan keeps `df`,
    * and other users of the session's `name` never see the swap. One lock
    * serializes bindings, so two folds in one session cannot resolve each
    * other's files.
    */
  private def resolveWith(name: String, df: DataFrame, query: String): DataFrame =
    BindLock.synchronized {
      val catalog = spark.sessionState.catalog
      val prev = catalog.getRawTempView(name)
      df.createOrReplaceTempView(name)
      try spark.sql(query)
      finally prev match {
        case Some(v) => catalog.createTempView(name, v, overrideIfExists = true)
        case None => catalog.dropTempView(name)
      }
    }

  /** The streaming route of [[startIncremental]]: stream `src` under its
    * name, run the FV query per micro-batch via foreachBatch, and
    * maintain the sink.
    */
  private[refresh] def startStream(rec: FeatureViewRecord, path: String, src: Source,
      availableNow: Boolean): RefreshRun = {
    val freq = rec.fv.refresh.get.refreshFreq
    // Entity-key rescue needs a BATCH run of the FV query over the current
    // source data (uniqueness dry-run). Lazy thunk: the relation (and its
    // file listing) is only built when the plan-derived key election has
    // actually failed (see electEntityKeys) — the common path pays nothing.
    val batchView = () => scala.util.Try {
      val batchReader = spark.read.schema(src.schema)
      src.glob.foreach(g => batchReader.option("pathGlobFilter", g))
      batchReader.parquet(src.dir)
    }.toOption
    val reader = spark.readStream.schema(src.schema)
    src.glob.foreach(g => reader.option("pathGlobFilter", g))
    val raw = reader.parquet(src.dir)
    // C7: bound state for event-time aggregations — watermark the source at
    // the FV's timestamp column with lag = refresh_freq (the sane default
    // SURVEY §2.C7 prescribes; Snowflake DTs handle this internally)
    val stream = rec.fv.timestampCol
      .filter(tc => raw.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(tc) && f.dataType == TimestampType))
      .map(tc => raw.withWatermark(tc, freq))
      .getOrElse(raw)
    stream.createOrReplaceTempView(src.name)
    val transformed = spark.sql(rec.fv.query)
    val writeSeg = (batch: DataFrame, dir: String) =>
      FeatureStore.writeManaged(batch, rec.fv, dir)
    // Pick output mode + publish kind from the plan shape (see class doc):
    // update→upsert / append→append / complete→atomic overwrite. Append-mode
    // batches contain ONLY new rows, so they must never overwrite the sink.
    // When the plan can't NAME its grouping keys (expression-grouped), fall
    // back to the FV's DECLARED entity join keys (+ timestamp col) before
    // resorting to complete-mode whole-table publish — the declaration is
    // metadata the plan introspection doesn't have, and it turns an
    // O(result)-per-tick rewrite into an O(changed keys) upsert.
    val isStreamingAgg = transformed.isStreaming && hasAggregate(transformed)
    val aggKeys =
      if (!isStreamingAgg) None
      else groupingKeyNames(transformed)
        .orElse {
          val ks = electEntityKeys(rec, transformed, batchView, src.name)
          // the dry-run re-bound the source view to batch data; restore the
          // streaming binding for anything that resolves the view later
          stream.createOrReplaceTempView(src.name)
          ks
        }
    val outMode =
      if (!isStreamingAgg) "append"
      else if (aggKeys.isDefined) "update"
      else "complete"
    elected.put(key(rec), outMode)
    System.err.println(s"[refresh] ${rec.logicalId} output mode = $outMode" +
      aggKeys.map(ks => s" (upsert keys: ${ks.mkString(",")})").getOrElse(""))
    // the micro-batch id rides into the manifest commit: foreachBatch
    // replays the last batch on checkpoint recovery, and the sink skips a
    // batchId it has already committed — exactly-once despite at-least-once
    // delivery (the standard idempotent-sink contract foreachBatch requires)
    val q = transformed.writeStream
      .outputMode(outMode)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        outMode match {
          case "append" =>
            val stats = rec.fv.timestampCol
              .filter(tc => batch.schema.fields.exists(f =>
                f.name.equalsIgnoreCase(tc) && f.dataType == TimestampType))
              .flatMap(tc => VersionedTable.SegStats.of(batch, tc))
            VersionedTable.append(path, Some(bid), stats)(dir => writeSeg(batch, dir))
            maybeAutoOptimize(rec, path)
          case "update" =>
            VersionedTable.upsert(spark, path, aggKeys.get,
              compactWrite = (merged, dir) => writeSeg(merged, dir),
              batchId = Some(bid))(
              dir => writeSeg(batch, dir))
          case _ =>
            VersionedTable.overwrite(path, Some(bid))(dir => writeSeg(batch, dir))
        }
        VersionedTable.vacuum(path)
        ()
      }
      .option("checkpointLocation", path + "__checkpoint")
      .trigger(trigger(rec, availableNow))
      .start()
    new RefreshRun.Streamed(q, path)
  }

  /** Opportunistic auto-compaction for append-mode sinks — the upsert sink
    * compacts every `compactEvery` commits; append sinks otherwise
    * accumulate one segment per micro-batch forever (the read-amplification
    * cliff `OPTPROBE_r10.json` measures: a 64-segment table scans ~20×
    * slower than its compacted form). After each append commit, if the
    * live segment count has reached `graft.refresh.autoOptimize.segments`
    * (default 64; 0 disables), the table is rewritten into
    * `graft.refresh.autoOptimize.numFiles` files with range-pruning stats
    * refolded. Runs inline on the micro-batch thread — the same trade the
    * upsert compaction makes: one slower tick instead of every read paying
    * the amplification. A concurrent writer winning the CAS just means
    * this tick skips; the next qualifying tick retries.
    */
  private[refresh] def maybeAutoOptimize(
      rec: FeatureViewRecord, path: String): Unit = {
    val threshold = spark.conf.get("graft.refresh.autoOptimize.segments", "64").toInt
    if (threshold <= 0) return
    val segs = VersionedTable.readManifest(path).map(_.segments.size).getOrElse(0)
    if (segs >= threshold) {
      val numFiles = spark.conf.get("graft.refresh.autoOptimize.numFiles", "32").toInt
      try {
        VersionedTable.optimize(spark, path, numFiles, statsCol = rec.fv.timestampCol)
        System.err.println(s"[refresh] ${rec.logicalId} auto-optimized: " +
          s"$segs segments -> 1 ($numFiles files)")
      } catch {
        case _: VersionedTable.ConcurrentCommitException => () // racer won; retry next tick
      }
    }
  }

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
    }.nonEmpty

  /** Output-column names of the topmost aggregate's grouping expressions —
    * the upsert key. None when a grouping expression has no stable output
    * name (the caller then falls back to complete-mode whole-table publish).
    */
  private def groupingKeyNames(df: DataFrame): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val outCols = df.columns.map(_.toLowerCase).toSet
    df.queryExecution.analyzed.collectFirst { case a: Aggregate =>
      val names = a.groupingExpressions.map {
        case ne: NamedExpression => Some(ne.name)
        case other => a.aggregateExpressions.collectFirst {
          case al: org.apache.spark.sql.catalyst.expressions.Alias
            if al.child.semanticEquals(other) => al.name
        }
      }
      if (names.forall(n => n.exists(x => outCols.contains(x.toLowerCase))))
        Some(names.map(_.get))
      else None
    }.flatten
  }

  /** Entity-key fallback for expression-grouped aggregations: when the plan
    * can't name its grouping keys, the FV's declared entity join keys
    * (+ timestamp column for time-series FVs) are still a valid upsert key
    * IF the FV honors its one-row-per-key contract. Two guards, both paid
    * once at stream start (never per tick):
    *   1. structural — the aggregate must have exactly as many grouping
    *      expressions as candidate key columns; a finer grouping (e.g.
    *      user_id, category with entity key user_id) would make upsert
    *      silently drop sibling rows, so it stays complete-mode;
    *   2. empirical — one batch dry-run of the FV query over the CURRENT
    *      source data must show the candidate key is unique. An empty
    *      source trusts the declaration (registration already validated the
    *      key columns exist in the output).
    * Returns the candidate keys in output-column case, or None → complete.
    */
  private def electEntityKeys(
      rec: FeatureViewRecord,
      transformed: DataFrame,
      batchView: () => Option[DataFrame],
      sourceName: String): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions.{col, count, lit}
    val candidate = rec.fv.joinKeys ++ rec.fv.timestampCol.toSeq
    val outCols = transformed.columns
    val resolved = candidate.map(k => outCols.find(_.equalsIgnoreCase(k)))
    if (candidate.isEmpty || resolved.exists(_.isEmpty)) return None
    val keys = resolved.map(_.get)
    val nGrouping = transformed.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a.groupingExpressions.size
    }
    if (!nGrouping.contains(keys.size)) return None
    val unique = batchView().forall { bv =>
      // re-bind the source view to batch data for the dry-run, restore after
      bv.createOrReplaceTempView(sourceName)
      try {
        val dups = spark.sql(rec.fv.query)
          .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).count()
        dups == 0
      } catch { case NonFatal(_) => false }
    }
    if (unique) {
      System.err.println(s"[refresh] ${rec.logicalId} grouping keys not " +
        s"derivable from the plan; rescued to update-mode upsert on declared " +
        s"entity keys (${keys.mkString(",")}) after uniqueness dry-run")
      Some(keys)
    } else {
      System.err.println(s"[refresh] ${rec.logicalId} declared keys " +
        s"(${keys.mkString(",")}) are NOT unique in the FV output — " +
        s"complete-mode whole-table publish")
      None
    }
  }

  /** AUTO mode: INCREMENTAL if the plan folds or streams, else FULL
    * schedule — mirrors Snowflake's refresh_mode=AUTO selection.
    */
  def startAuto(
      rec: FeatureViewRecord,
      sourceName: String,
      sourceDir: String,
      sourceSchema: StructType,
      availableNow: Boolean = false,
      pathGlobFilter: Option[String] = None): Either[String, RefreshRun] = {
    // a DECLARED-maintenance FV elects the maintenance stream outright
    // (round 17, VERDICT r16 missing #4): its query is the raw event
    // relation, which Spark's streaming planner happily runs as a plain
    // append — appending raw events to the STATE table, or falling to an
    // events-scale FULL refold, are both the wrong plan when the
    // declaration names the O(batch) fold
    if (rec.fv.refresh.exists(_.maintenance.isDefined))
      return Right(startMaintenanceStream(rec, sourceName, sourceDir,
        sourceSchema, availableNow, pathGlobFilter = pathGlobFilter))
    try Right(startIncremental(rec, sourceName, sourceDir, sourceSchema, availableNow, pathGlobFilter))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        // non-incrementalizable plan → FULL (silent fallback, logged).
        // startIncremental already swapped in a STREAMING temp view; restore
        // the batch view first so the FULL recompute can .write.
        System.err.println(s"[refresh] ${rec.logicalId} not streamable (${e.getMessage.take(120)}); AUTO → FULL")
        val reader = spark.read
        pathGlobFilter.foreach(g => reader.option("pathGlobFilter", g))
        reader.schema(sourceSchema).parquet(sourceDir).createOrReplaceTempView(sourceName)
        refreshOnce(rec)
        startFullSchedule(rec)
        Left("FULL")
    }
  }

  /** Status of a managed FV's refresh (reference: SHOW DYNAMIC TABLES /
    * describeFeatureView, SURVEY §2.C8).
    */
  def status(rec: FeatureViewRecord): String = {
    val k = key(rec)
    Option(runs.get(k)) match {
      case Some(r) => (r, r.exception) match {
        case (_, Some(e)) => s"INCREMENTAL:failed(${e.getMessage})"
        case (f: RefreshRun.Folded, _) =>
          s"INCREMENTAL:fold(version=${f.lastCommit.map(_.version).getOrElse(-1L)}, files=${f.files})"
        case (s: RefreshRun.Streamed, _) if s.isActive =>
          s"INCREMENTAL:active(batch=${Option(s.query.lastProgress).map(_.batchId).getOrElse(-1L)})"
        case _ => "INCREMENTAL:stopped"
      }
      case None if scheduled.containsKey(k) && !scheduled.get(k).isCancelled =>
        Option(fullFailures.get(k)).fold("FULL:scheduled")(e => s"FULL:failed(${e.getMessage})")
      case None => "IDLE"
    }
  }

  def stop(rec: FeatureViewRecord): Unit = {
    Option(scheduled.remove(key(rec))).foreach(_.cancel(false))
    Option(runs.remove(key(rec))).foreach(_.stop())
  }

  def stopAll(): Unit = {
    scheduled.values().forEach(f => f.cancel(false)); scheduled.clear()
    runs.values().forEach(r => try r.stop() catch { case NonFatal(_) => }); runs.clear()
  }
}

object RefreshManager {
  /** Tick period for a target lag: 3/4 of the lag, floored at 1 s but never
    * above the lag itself. The 25% headroom absorbs the refresh's own
    * processing time so that data committed by tick N is at most `lag`
    * stale when tick N+1 commits — without it, worst-case staleness is
    * `lag + batch` (see class doc). Sub-1 s lags tick at the lag itself:
    * below the floor there is no headroom to reserve, and the lag+batch
    * overshoot regime applies (not the contract's target regime — the
    * reference's tested values are minutes to hours).
    */
  private[refresh] def tickMillis(lagMs: Long): Long =
    math.max(math.min(1000L, lagMs), lagMs * 3 / 4)

  /** Held while a temp view is rebound to resolve an FV query. */
  private val BindLock = new Object

  /** The parquet source an INCREMENTAL refresh reads as temp view `name`. */
  private[refresh] final case class Source(name: String, dir: String, schema: StructType,
      glob: Option[String]) {
    /** The files a refresh reads, as absolute paths in name order: every
      * file under `dir` that the file source would list — hidden names
      * (`_…` unless a `k=v` partition dir, `.…`) skipped at any depth,
      * `glob` (a `pathGlobFilter`) matched against the file name.
      */
    def files: Seq[String] = {
      val root = Paths.get(dir).toAbsolutePath.normalize
      val accept = glob.map(g => new org.apache.hadoop.fs.GlobFilter(g))
      def hidden(p: Path) = {
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_") && !n.contains("=")
      }
      def walk(d: Path): Seq[Path] = {
        val ls = Files.list(d)
        try ls.iterator().asScala.toSeq.filterNot(hidden).flatMap { p =>
          if (Files.isDirectory(p)) walk(p)
          else if (accept.forall(_.accept(new org.apache.hadoop.fs.Path(p.getFileName.toString)))) Seq(p)
          else Nil
        } finally ls.close()
      }
      if (Files.isDirectory(root)) walk(root).map(_.toString).sorted else Nil
    }
  }

  /** A plan shape the batch fold handles (see the class doc). */
  private[refresh] sealed trait FoldShape { def mode: String }
  private[refresh] case object AppendFold extends FoldShape { val mode = "fold-append" }
  /** `merge`: value column → its [[VersionedTable.MergeFns]] function. */
  private[refresh] final case class AggFold(keys: Seq[String], merge: Map[String, String])
      extends FoldShape { val mode = "fold-aggregate" }

  /** Source files the streaming path committed into the table at `path`:
    * the entries of its checkpoint's file-source log whose micro-batch is
    * at most `batchId`, the last one the table holds. None when the table
    * holds no micro-batch or there is no log.
    */
  private def streamedFiles(path: String, batchId: Long): Option[Set[String]] = {
    val log = Paths.get(path + "__checkpoint", "sources", "0")
    if (batchId < 0 || !Files.isDirectory(log)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ls = Files.list(log)
    val entries =
      try ls.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
        .flatMap(f => Files.readAllLines(f).asScala.drop(1)) // line 1: log version
      finally ls.close()
    Some(entries.filter(_.trim.nonEmpty).map(mapper.readTree).collect {
      case e if e.get("batchId").asLong() <= batchId =>
        Paths.get(new java.net.URI(e.get("path").asText()).getPath).normalize.toString
    }.toSet)
  }
}
