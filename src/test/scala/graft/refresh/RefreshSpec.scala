package graft.refresh

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.core.FeatureStore
import graft.model._

/** Managed-refresh plane (SURVEY §2.C): FULL refresh ticks, INCREMENTAL via
  * Structured Streaming (AvailableNow for deterministic tests), and the
  * refresh-status surface.
  */
class RefreshSpec extends SparkSpec {

  private def freshStore(): FeatureStore =
    FeatureStore(spark, Files.createTempDirectory("graft_refresh_test_").toString)

  test("refreshOnce (FULL) picks up new source data atomically") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_").toString
    Tables.events(spark, sfDir).limit(100).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("stream_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    val fv = FeatureView("fv_full", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM stream_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Full)))
    fs.registerFeatureView(fv, "1")
    val before = fs.readFeatureView("fv_full", "1").agg(sum("f_n")).collect()(0).getLong(0)
    assert(before == 100)
    // append more source data, re-point the view, tick once
    Tables.events(spark, sfDir).limit(300).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("stream_src")
    val mgr = new RefreshManager(fs)
    mgr.refreshOnce(fs.getFeatureView("fv_full", "1"))
    val after = fs.readFeatureView("fv_full", "1").agg(sum("f_n")).collect()(0).getLong(0)
    assert(after == 300)
  }

  test("INCREMENTAL (AvailableNow) streams an aggregation into the FV table") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_inc_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(200).write.mode("overwrite").parquet(srcDir)
    // register with a query over the *streaming* temp view name
    spark.read.parquet(srcDir).createOrReplaceTempView("inc_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    val fv = FeatureView("fv_inc", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM inc_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule)))
    fs.registerFeatureView(fv, "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_inc", "1")
    val q = mgr.startIncremental(rec, "inc_src", srcDir, ev.schema, availableNow = true)
    q.awaitTermination(120000)
    val out = fs.readFeatureView("fv_inc", "1")
    assert(out.agg(sum("f_n")).collect()(0).getLong(0) == 200)
    assert(mgr.status(rec).startsWith("INCREMENTAL"))
    mgr.stopAll()
  }

  test("AUTO picks INCREMENTAL for a streamable aggregation") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_auto_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(150).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("auto_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_auto", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM auto_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Auto, InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_auto", "1")
    val res = mgr.startAuto(rec, "auto_src", srcDir, ev.schema, availableNow = true)
    assert(res.isRight, s"expected INCREMENTAL, got $res")
    res.foreach(_.awaitTermination(120000))
    assert(fs.readFeatureView("fv_auto", "1").agg(sum("f_n")).collect()(0).getLong(0) == 150)
    mgr.stopAll()
  }

  test("AUTO falls back to FULL for a non-incrementalizable plan (sort over stream)") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_autofull_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(80).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("autofull_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    // ORDER BY + LIMIT over a streaming source is rejected by Spark's
    // unsupported-operation checker → AUTO must choose FULL
    fs.registerFeatureView(FeatureView("fv_autofull", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, value FROM autofull_src ORDER BY value DESC LIMIT 10",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Auto, InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_autofull", "1")
    val res = mgr.startAuto(rec, "autofull_src", srcDir, ev.schema, availableNow = true)
    assert(res == Left("FULL"))
    assert(fs.readFeatureView("fv_autofull", "1").count() == 10)  // refreshOnce ran
    assert(mgr.status(rec) == "FULL:scheduled")
    mgr.stopAll()
  }

  test("INCREMENTAL applies a watermark when the FV has an event-time column") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_wm_").toString
    // µs-timestamp source (normalized events), so the watermark branch engages
    val ev = Tables.events(spark, sfDir).limit(120)
    ev.write.mode("overwrite").parquet(srcDir)
    val src = spark.read.parquet(srcDir)
    src.createOrReplaceTempView("wm_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_wm", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, max(value) AS f_v FROM wm_src GROUP BY user_id, ts",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental, InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val q = mgr.startIncremental(fs.getFeatureView("fv_wm", "1"),
      "wm_src", srcDir, src.schema, availableNow = true)
    q.awaitTermination(120000)
    // complete-mode result equals batch recompute despite the watermark
    assert(fs.readFeatureView("fv_wm", "1").count() ==
      src.groupBy(col("user_id"), col("ts")).count().count())
    mgr.stopAll()
  }

  test("sustained ProcessingTime refresh: batch completes well under the target lag") {
    // BASELINE.md parity target: sustain a '1 minute' target lag on the
    // events table. We tick every 2s and assert the micro-batch duration
    // stays far below 60s — the lag the reference's test pins.
    val fs = freshStore()
    val dir = "/root/testdata/sf0.1"
    // Raw read on purpose: only user_id/count are used, so the ts physical
    // type (ns-as-long or TIMESTAMP_MICROS NTZ, depending on corpus vintage)
    // doesn't matter — the streaming source just carries it through.
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.createOrReplaceTempView("lag_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_lag", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM lag_src GROUP BY user_id",
      refresh = Some(RefreshConfig("2 seconds", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_lag", "1")
    val q = mgr.startIncremental(rec, "lag_src", dir, raw.schema,
      availableNow = false, pathGlobFilter = Some("events.parquet"))
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (q.lastCommit.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(q.lastCommit.nonEmpty, "no refresh completed within 2 minutes")
      val batchMs = q.lastCommit.get.millis
      assert(batchMs < 60000, s"micro-batch took ${batchMs}ms — exceeds the 1-minute target lag")
      assert(fs.readFeatureView("fv_lag", "1").agg(sum("f_n")).collect()(0).getLong(0) ==
        raw.count())
    } finally mgr.stopAll()
  }

  test("concurrent reads during 50 refresh cycles never see a missing/partial table") {
    val fs = freshStore()
    Tables.events(spark, sfDir).limit(200).createOrReplaceTempView("atomic_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_atomic", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM atomic_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Full))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_atomic", "1")
    val expected = fs.readFeatureView("fv_atomic", "1").agg(sum("f_n")).collect()(0).getLong(0)

    @volatile var failure: Option[Throwable] = None
    @volatile var writing = true
    var reads = 0
    val reader = new Thread(() => {
      try while (writing) {
        val got = fs.readFeatureView("fv_atomic", "1").agg(sum("f_n")).collect()(0).getLong(0)
        assert(got == expected, s"partial table observed: $got != $expected")
        reads += 1
      } catch { case t: Throwable => failure = Some(t) }
    }, "graft-concurrent-reader")
    reader.start()
    try (1 to 50).foreach(_ => mgr.refreshOnce(rec))
    finally { writing = false; reader.join(60000) }
    failure.foreach(t => fail(s"reader failed during refresh cycles: ${t.getMessage}", t))
    assert(reads > 0, "reader never completed a read while refreshes ran")
  }

  test("append-mode INCREMENTAL accumulates batches instead of overwriting (non-aggregate plan)") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_app_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(100).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("app_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    // projection only — streams in append mode; every batch holds ONLY new
    // rows, so an overwriting sink would silently drop all prior data
    fs.registerFeatureView(FeatureView("fv_app", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, event_id, value FROM app_src",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_app", "1")
    val q1 = mgr.startIncremental(rec, "app_src", srcDir, ev.schema, availableNow = true)
    q1.awaitTermination(120000)
    assert(fs.readFeatureView("fv_app", "1").count() == 100)
    // land 150 MORE rows as new files; a second drain must ADD them
    ev.orderBy(col("event_id").desc).limit(150).write.mode("append").parquet(srcDir)
    val q2 = mgr.startIncremental(rec, "app_src", srcDir, ev.schema, availableNow = true)
    q2.awaitTermination(120000)
    assert(fs.readFeatureView("fv_app", "1").count() == 250,
      "append-mode batch overwrote previously materialized rows")
    mgr.stopAll()
  }

  test("append-mode segments carry event-time stats; range read skips disjoint batches") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_rng_").toString
    val ev = Tables.events(spark, sfDir).select("user_id", "event_id", "ts", "value")
    // two drains with disjoint time halves → two stats-bearing segments
    val half = to_timestamp(lit("2024-01-15 00:00:00"))
    ev.filter(col("ts") < half).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("rng_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_rng", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, event_id, ts, value FROM rng_src",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_rng", "1")
    val schema = spark.read.parquet(srcDir).schema
    mgr.startIncremental(rec, "rng_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    ev.filter(col("ts") >= half).write.mode("append").parquet(srcDir)
    mgr.startIncremental(rec, "rng_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    mgr.stopAll()
    val path = rec.physicalPath.get
    val m = graft.storage.VersionedTable.readManifest(path).get
    assert(m.segments.size == 2 && m.stats.size == 2,
      s"expected 2 stats-bearing segments, got $m")
    def micros(s: String): Long =
      spark.sql(s"SELECT unix_micros(CAST('$s' AS TIMESTAMP))").head().getLong(0)
    // querying the first half must skip the second-half segment
    val (kept, skipped) = graft.storage.VersionedTable.segmentsInRange(
      path, "ts", micros("2024-01-01 00:00:00"), micros("2024-01-14 00:00:00"))
    assert(kept.size == 1 && skipped.size == 1)
    // and the API-level range read returns exactly the filtered rows
    val expected = fs.readFeatureView("fv_rng", "1")
      .filter(col("ts") < to_timestamp(lit("2024-01-14 00:00:00"))).count()
    val got = fs.readFeatureViewRange("fv_rng", "1",
      micros("2024-01-01 00:00:00"), micros("2024-01-14 00:00:00") - 1).count()
    assert(got == expected && got > 0)
  }

  test("optimizeFeatureView compacts accumulated segments; range pruning and content survive") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_opt_").toString
    val ev = Tables.events(spark, sfDir).select("user_id", "event_id", "ts", "value")
    val half = to_timestamp(lit("2024-01-15 00:00:00"))
    ev.filter(col("ts") < half).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("opt_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_opt", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, event_id, ts, value FROM opt_src",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_opt", "1")
    val schema = spark.read.parquet(srcDir).schema
    mgr.startIncremental(rec, "opt_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    ev.filter(col("ts") >= half).write.mode("append").parquet(srcDir)
    mgr.startIncremental(rec, "opt_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    mgr.stopAll()
    val before = fs.readFeatureView("fv_opt", "1")
    val beforeCount = before.count()
    fs.optimizeFeatureView("fv_opt", "1", numFiles = 4, zorderBy = Seq("user_id", "ts"))
    val path = rec.physicalPath.get
    val m = graft.storage.VersionedTable.readManifest(path).get
    assert(m.segments.size == 1, s"expected one compacted segment, got ${m.segments}")
    val after = fs.readFeatureView("fv_opt", "1")
    assert(after.count() == beforeCount)
    def micros(s: String): Long =
      spark.sql(s"SELECT unix_micros(CAST('$s' AS TIMESTAMP))").head().getLong(0)
    // stats were refolded, so an out-of-range range-read sees zero segments
    val (kept, _) = graft.storage.VersionedTable.segmentsInRange(
      path, "ts", micros("2030-01-01 00:00:00"), micros("2030-12-31 00:00:00"))
    assert(kept.isEmpty, "refolded stats must prune a disjoint range")
    // and an in-range read is row-exact
    val expected = after.filter(col("ts") < to_timestamp(lit("2024-01-14 00:00:00"))).count()
    val got = fs.readFeatureViewRange("fv_opt", "1",
      micros("2024-01-01 00:00:00"), micros("2024-01-14 00:00:00") - 1).count()
    assert(got == expected && got > 0)
  }

  test("append sinks auto-optimize at the segment threshold (conf-gated, race-tolerant)") {
    val fs = freshStore()
    import spark.implicits._
    Seq((1L, 1L, 1.0)).toDF("user_id", "event_id", "value")
      .createOrReplaceTempView("auto_opt_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_auto_opt", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, event_id, value FROM auto_opt_src",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    // build the segment pile directly (driving 64 micro-batches is slow);
    // maybeAutoOptimize only looks at the manifest
    val mgr = new RefreshManager(fs)
    val rec0 = fs.getFeatureView("fv_auto_opt", "1")
    val path = java.nio.file.Files.createTempDirectory("graft_auto_opt_").toString
    (1 to 64).foreach(i => graft.storage.VersionedTable.append(path)(d =>
      Seq((i.toLong, i.toLong, i.toDouble)).toDF("user_id", "event_id", "value")
        .coalesce(1).write.parquet(d)))
    // below threshold: untouched
    spark.conf.set("graft.refresh.autoOptimize.segments", "65")
    try {
      mgr.maybeAutoOptimize(rec0, path)
      assert(graft.storage.VersionedTable.readManifest(path).get.segments.size == 64)
      // disabled: untouched
      spark.conf.set("graft.refresh.autoOptimize.segments", "0")
      mgr.maybeAutoOptimize(rec0, path)
      assert(graft.storage.VersionedTable.readManifest(path).get.segments.size == 64)
      // at threshold: compacts to one segment, content intact
      spark.conf.set("graft.refresh.autoOptimize.segments", "64")
      mgr.maybeAutoOptimize(rec0, path)
      val m = graft.storage.VersionedTable.readManifest(path).get
      assert(m.segments.size == 1, s"expected auto-compaction, got ${m.segments.size} segments")
      assert(graft.storage.VersionedTable.read(spark, path).count() == 64)
    } finally spark.conf.unset("graft.refresh.autoOptimize.segments")
  }

  test("expireFeatureViewData drops fully-expired segments without touching newer ones") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_exp_").toString
    val ev = Tables.events(spark, sfDir).select("user_id", "event_id", "ts", "value")
    val half = to_timestamp(lit("2024-01-15 00:00:00"))
    ev.filter(col("ts") < half).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("exp_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_exp", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, event_id, ts, value FROM exp_src",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_exp", "1")
    val schema = spark.read.parquet(srcDir).schema
    mgr.startIncremental(rec, "exp_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    ev.filter(col("ts") >= half).write.mode("append").parquet(srcDir)
    mgr.startIncremental(rec, "exp_src", srcDir, schema, availableNow = true)
      .awaitTermination(120000)
    mgr.stopAll()
    val path = rec.physicalPath.get
    val newerSeg = graft.storage.VersionedTable.readManifest(path).get.segments.last
    def micros(s: String): Long =
      spark.sql(s"SELECT unix_micros(CAST('$s' AS TIMESTAMP))").head().getLong(0)
    // retention tick: expire everything before the half boundary — the
    // first-half segment leaves via a manifest edit, the newer one is
    // untouched (same directory)
    val (kept, dropped, rewritten) =
      fs.expireFeatureViewData("fv_exp", "1", micros("2024-01-15 00:00:00"))
    assert(dropped == 1 && kept == 1 && rewritten == 0,
      s"($kept, $dropped, $rewritten)")
    val m = graft.storage.VersionedTable.readManifest(path).get
    assert(m.segments == Seq(newerSeg), "newer segment must keep its directory")
    val remaining = fs.readFeatureView("fv_exp", "1")
    assert(remaining.filter(col("ts") < half).count() == 0)
    assert(remaining.count() == ev.filter(col("ts") >= half).count())
  }

  test("update-mode INCREMENTAL writes O(changed keys) per tick, not the full result") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_ups_").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("user_id") =!= 1).limit(400).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("ups_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_ups", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM ups_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_ups", "1")
    val q1 = mgr.startIncremental(rec, "ups_src", srcDir, ev.schema, availableNow = true)
    q1.awaitTermination(120000)
    val path = rec.physicalPath.get
    val baselineKeys = fs.readFeatureView("fv_ups", "1").count()
    assert(baselineKeys > 10)
    // second tick touches exactly ONE key (user_id=1 only)
    ev.filter(col("user_id") === 1).limit(5).write.mode("append").parquet(srcDir)
    val q2 = mgr.startIncremental(rec, "ups_src", srcDir, ev.schema, availableNow = true)
    q2.awaitTermination(120000)
    val manifest = graft.storage.VersionedTable.readManifest(path).get
    assert(manifest.keys.map(_.toLowerCase) == Seq("user_id"))
    val lastSeg = manifest.segments.last
    val segRows = spark.read.parquet(s"$path/$lastSeg").count()
    assert(segRows < baselineKeys / 2,
      s"upsert tick wrote $segRows rows — should be O(changed keys), baseline=$baselineKeys")
    // and the merged view equals the batch recompute
    val merged = fs.readFeatureView("fv_ups", "1")
    val batch = spark.read.parquet(srcDir).groupBy("user_id").count()
      .withColumnRenamed("count", "f_n")
    assert(merged.exceptAll(batch).isEmpty && batch.exceptAll(merged).isEmpty)
    mgr.stopAll()
  }

  test("expression-grouped aggregation is rescued to update mode on declared entity keys") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_resc_").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("user_id") =!= 1).limit(400).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("resc_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    // the alias child (`expr + 0`) is not semanticEquals to the grouping
    // expression, so plan introspection can't name the key — pre-rescue
    // this was a complete-mode whole-table rewrite per tick
    fs.registerFeatureView(FeatureView("fv_resc", Seq(Entity("user", Seq("user_id"))),
      """SELECT user_id % 1000000 + 0 AS user_id, count(*) AS f_n
        |FROM resc_src GROUP BY user_id % 1000000""".stripMargin,
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_resc", "1")
    val q1 = mgr.startIncremental(rec, "resc_src", srcDir, ev.schema, availableNow = true)
    q1.awaitTermination(120000)
    assert(mgr.electedMode(rec).contains("update"),
      s"expected entity-key rescue to update mode, got ${mgr.electedMode(rec)}")
    val path = rec.physicalPath.get
    val baselineKeys = fs.readFeatureView("fv_resc", "1").count()
    assert(baselineKeys > 10)
    // second tick touches exactly ONE key — the upsert segment must be
    // O(changed keys), which is the point of the rescue
    ev.filter(col("user_id") === 1).limit(5).write.mode("append").parquet(srcDir)
    val q2 = mgr.startIncremental(rec, "resc_src", srcDir, ev.schema, availableNow = true)
    q2.awaitTermination(120000)
    val manifest = graft.storage.VersionedTable.readManifest(path).get
    assert(manifest.keys.map(_.toLowerCase) == Seq("user_id"))
    val lastSeg = manifest.segments.last
    val segRows = spark.read.parquet(s"$path/$lastSeg").count()
    assert(segRows < baselineKeys / 2,
      s"rescued tick wrote $segRows rows — should be O(changed keys), baseline=$baselineKeys")
    val merged = fs.readFeatureView("fv_resc", "1")
    val batch = spark.read.parquet(srcDir).groupBy("user_id").count()
      .withColumnRenamed("count", "f_n")
    assert(merged.exceptAll(batch).isEmpty && batch.exceptAll(merged).isEmpty)
    mgr.stopAll()
  }

  test("grouping finer than the declared entity keys stays complete-mode (structural guard)") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_comp_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(300).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("comp_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    // grouped by (user_id, ceil(value)): two grouping expressions vs one
    // declared key, and ceil(value) isn't in the output — upsert on user_id
    // would drop sibling rows, so the rescue must refuse
    fs.registerFeatureView(FeatureView("fv_comp", Seq(Entity("user", Seq("user_id"))),
      """SELECT user_id, count(*) AS f_n, sum(value) AS f_sum
        |FROM comp_src GROUP BY user_id, ceil(value)""".stripMargin,
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_comp", "1")
    val q = mgr.startIncremental(rec, "comp_src", srcDir, ev.schema, availableNow = true)
    q.awaitTermination(120000)
    assert(mgr.electedMode(rec).contains("complete"),
      s"expected complete-mode for finer grouping, got ${mgr.electedMode(rec)}")
    val out = fs.readFeatureView("fv_comp", "1")
    val batch = spark.read.parquet(srcDir)
      .groupBy(col("user_id"), ceil(col("value")))
      .agg(count(lit(1)).as("f_n"), sum("value").as("f_sum"))
      .select("user_id", "f_n", "f_sum")
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
    mgr.stopAll()
  }

  test("entity-key rescue refuses when the dry-run finds duplicate keys (empirical guard)") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_dup_").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(300).write.mode("overwrite").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("dup_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    // structurally fine (one grouping expr, one key) but the output key
    // folds two distinct groups onto one value (… % 20 grouped, % 10
    // emitted), so rows are NOT unique per user_id — only the batch
    // dry-run can catch this
    fs.registerFeatureView(FeatureView("fv_dup", Seq(Entity("user", Seq("user_id"))),
      """SELECT user_id % 20 % 10 + 0 AS user_id, count(*) AS f_n
        |FROM dup_src GROUP BY user_id % 20""".stripMargin,
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnSchedule))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView("fv_dup", "1")
    val q = mgr.startIncremental(rec, "dup_src", srcDir, ev.schema, availableNow = true)
    q.awaitTermination(120000)
    assert(mgr.electedMode(rec).contains("complete"),
      s"expected dry-run to refuse the rescue, got ${mgr.electedMode(rec)}")
    mgr.stopAll()
  }

  test("upsert tables compact back to one segment (bounded read amplification)") {
    val dir = Files.createTempDirectory("graft_vt_").toString
    import spark.implicits._
    val writeSeg = (df: org.apache.spark.sql.DataFrame, d: String) =>
      df.write.parquet(d)
    (1 to 9).foreach { i =>
      graft.storage.VersionedTable.upsert(spark, dir, Seq("k"),
        compactWrite = writeSeg)(
        d => writeSeg(Seq((i % 3, i)).toDF("k", "v"), d))
    }
    val m = graft.storage.VersionedTable.readManifest(dir).get
    assert(m.segments.size < 4, s"compaction never ran: ${m.segments}")
    val out = graft.storage.VersionedTable.read(spark, dir)
      .as[(Int, Int)].collect().toMap
    // latest write per key wins: k=0←9, k=1←7, k=2←8
    assert(out == Map(0 -> 9, 1 -> 7, 2 -> 8), s"merge-on-read wrong: $out")
  }

  test("status is IDLE before any refresh is scheduled") {
    val fs = freshStore()
    Tables.events(spark, sfDir).createOrReplaceTempView("ev_src2")
    fs.registerEntity(Entity("user", Seq("user_id")))
    val fv = FeatureView("fv_idle", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM ev_src2 GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute")))
    fs.registerFeatureView(fv, "1")
    val mgr = new RefreshManager(fs)
    assert(mgr.status(fs.getFeatureView("fv_idle", "1")) == "IDLE")
  }

  test("managed FV with event-time materializes date-partitioned (partition pruning)") {
    val fs = freshStore()
    Tables.events(spark, sfDir).createOrReplaceTempView("part_ev")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView("fv_part", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, max(value) AS f_v FROM part_ev GROUP BY user_id, ts",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute"))), "1")
    val path = fs.getFeatureView("fv_part", "1").physicalPath.get
    // partition dirs live inside the committed segment dir(s)
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.getName +: Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f.getName)
    val names = walk(new java.io.File(path))
    assert(names.exists(_.startsWith(graft.core.FeatureStore.PartCol + "=")),
      s"expected ${graft.core.FeatureStore.PartCol}= partition dirs, got ${names.mkString(",")}")
    // read-back hides the storage column and a date filter prunes partitions
    val df = fs.readFeatureView("fv_part", "1")
    assert(!df.columns.contains(graft.core.FeatureStore.PartCol))
    assert(df.count() > 0)
  }

  test("refresh duration strings parse (reference target_lag values)") {
    assert(RefreshConfig.parseDurationMillis("1 minute") == 60000L)
    assert(RefreshConfig.parseDurationMillis("5 minutes") == 300000L)
    assert(RefreshConfig.parseDurationMillis("1 hour") == 3600000L)
    intercept[IllegalArgumentException] { RefreshConfig.parseDurationMillis("whenever") }
  }

  test("declared funnel maintenance: OnCreate backfill + maintenance stream, " +
      "serve ≡ batch funnel, table_version surfaces, SQL view serves chains") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_maint_").toString
    val steps = Seq("view", "click", "purchase")
    val win = 24L * 3600 * 1000000
    // deterministic slice (limit() can pick different rows per evaluation)
    val ev = Tables.events(spark, sfDir).filter(col("user_id") < 15)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    // wave 0 lands BEFORE registration → initialize=ON_CREATE folds it
    ev.filter(pmod(col("event_id"), lit(3L)) === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("evm_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    val fv = FeatureView("fv_funnel_m", Seq(Entity("user", Seq("user_id"))),
      "SELECT event_id, user_id, event_type, ts FROM evm_src",
      timestampCol = Some("ts"),
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Incremental,
        InitializeMode.OnCreate,
        maintenance = Some(EventMaintenance.Funnel(steps, win)))))
    fs.registerFeatureView(fv, "1")
    val rec = fs.getFeatureView("fv_funnel_m", "1")
    assert(rec.fv.refresh.get.maintenance.contains(EventMaintenance.Funnel(steps, win)),
      "maintenance declaration must round-trip the catalog")
    val mgr = new RefreshManager(fs)
    def chains(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("user_id") -> ((1 to 3).map(i =>
        Option(r.get(r.fieldIndex(s"t${i}_us"))).map(_.asInstanceOf[Long])),
        r.getAs[Int]("reached"))
    }.toMap
    // backfill alone ≡ batch funnel over wave 0
    assert(chains(mgr.serveMaintained(rec)) == chains(
      graft.functions.EventAnalytics.funnel(
        ev.filter(pmod(col("event_id"), lit(3L)) === 0), steps, win)))
    // waves 1+2 arrive; the maintenance stream drains them (wave-0 files
    // re-fold too — idempotent by the maintainers' merge semantics)
    ev.filter(pmod(col("event_id"), lit(3L)) =!= 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q = mgr.startMaintenanceStream(rec, "evm_src", srcDir, ev.schema,
      availableNow = true)
    q.awaitTermination(120000)
    assert(mgr.electedMode(rec).contains("maintenance"))
    // the q196 parity contract: serve ≡ batch funnel over EVERYTHING
    assert(chains(mgr.serveMaintained(rec)) == chains(
      graft.functions.EventAnalytics.funnel(ev, steps, win)))
    // the FV's VersionedTable IS the state: describe surfaces its version
    val d = fs.describeFeatureView("fv_funnel_m", "1").collect()(0)
    assert(d.getAs[Boolean]("is_materialized"))
    assert(d.getAs[java.lang.Long]("table_version") >= 2L,
      "backfill + stream commits must advance the manifest version")
    // re-attaching serves the maintained relation under the FV name (SQL)
    fs.attach()
    val viaSql = spark.sql(
      "SELECT count(*) AS n FROM fv_funnel_m WHERE reached >= 2")
      .collect()(0).getLong(0)
    val viaBatch = graft.functions.EventAnalytics.funnel(ev, steps, win)
      .filter(col("reached") >= 2).count()
    assert(viaSql == viaBatch)
    // a FULL tick (refreshOnce) over a maintenance FV is an idempotent
    // whole-source re-fold, not a table overwrite
    mgr.refreshOnce(rec)
    assert(chains(mgr.serveMaintained(rec)) == chains(
      graft.functions.EventAnalytics.funnel(ev, steps, win)))
    mgr.stopAll()
  }

  test("declared retention + gapfill maintenance round-trip the catalog and serve") {
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_maint2_").toString
    val ev = Tables.events(spark, sfDir).filter(col("user_id") < 12)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("evm2_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    Seq(
      ("fv_ret_m", EventMaintenance.Retention: EventMaintenance,
        "SELECT user_id, ts FROM evm2_src"),
      ("fv_gap_m", EventMaintenance.GapFill: EventMaintenance,
        "SELECT event_id, user_id, ts, value FROM evm2_src")
    ).foreach { case (name, m, q) =>
      val fv = FeatureView(name, Seq(Entity("user", Seq("user_id"))), q,
        refresh = Some(RefreshConfig("1 minute",
          maintenance = Some(m))))
      fs.registerFeatureView(fv, "1")
      val rec = fs.getFeatureView(name, "1")
      assert(rec.fv.refresh.get.maintenance.contains(m))
    }
    val mgr = new RefreshManager(fs)
    val retGot = mgr.serveMaintained(fs.getFeatureView("fv_ret_m", "1"))
      .collect().map(r => (r.get(0).toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    val retWant = graft.functions.EventAnalytics.retentionCohorts(ev)
      .collect().map(r => (r.get(0).toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    assert(retGot == retWant)
    val gapGot = mgr.serveMaintained(fs.getFeatureView("fv_gap_m", "1"))
      .agg(sum(col("cents")), count(lit(1))).collect()(0)
    val gapWant = graft.functions.EventAnalytics.gapFillDaily(ev)
      .agg(sum(col("cents")), count(lit(1))).collect()(0)
    assert(gapGot == gapWant)
    // render/parse round-trips every shape
    Seq(EventMaintenance.Funnel(Seq("a", "b"), 7L),
      EventMaintenance.Retention, EventMaintenance.GapFill).foreach(m =>
      assert(EventMaintenance.parse(EventMaintenance.render(m)) == m))
  }

  test("startAuto elects the maintenance stream for a declared-maintenance FV") {
    // VERDICT r16 missing #4: without the routing arm, AUTO would stream
    // the raw event relation in APPEND mode — appending raw events to the
    // STATE table (or falling to an events-scale FULL refold), when the
    // declaration names the O(batch) fold
    val fs = freshStore()
    val srcDir = Files.createTempDirectory("graft_src_auto_m_").toString
    val ev = Tables.events(spark, sfDir).filter(col("user_id") < 12)
      .select(col("user_id"), col("ts"))
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    spark.read.parquet(srcDir).createOrReplaceTempView("evam_src")
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView(
      "fv_auto_m", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts FROM evam_src",
      refresh = Some(RefreshConfig("1 minute", RefreshMode.Auto,
        InitializeMode.OnSchedule,
        maintenance = Some(EventMaintenance.Retention)))), "1")
    val rec = fs.getFeatureView("fv_auto_m", "1")
    val mgr = new RefreshManager(fs)
    val r = mgr.startAuto(rec, "evam_src", srcDir, ev.schema, availableNow = true)
    assert(r.isRight, "maintenance FVs must elect the stream, never FULL")
    r.foreach(_.awaitTermination(120000))
    assert(mgr.electedMode(rec).contains("maintenance"))
    val got = mgr.serveMaintained(rec)
      .collect().map(r => (r.get(0).toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    val want = graft.functions.EventAnalytics.retentionCohorts(ev)
      .collect().map(r => (r.get(0).toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    assert(got == want)
    mgr.stopAll()
  }

  // ---- batch fold: shared fixtures -------------------------------------

  private val foldSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
  private val T0 = 1704067200L // 2024-01-01T00:00:00Z, seconds

  private type SrcRow = (Long, Long, Option[Long]) // k, ts seconds, v

  /** Seeded rows of source file `i`: event times inside hour `i`. */
  private def foldRows(rnd: scala.util.Random, i: Int): Seq[SrcRow] =
    Seq.fill(5 + rnd.nextInt(30))((rnd.nextInt(12).toLong, T0 + i * 3600L + rnd.nextInt(3600),
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(100).toLong)))

  /** Land `rows` as one new parquet file under `dir`. */
  private def landFile(dir: String, rows: Seq[SrcRow]): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (k, t, v) =>
      org.apache.spark.sql.Row(k, new java.sql.Timestamp(t * 1000L), v.map(Long.box).orNull)
    }.asJava, foldSchema).coalesce(1).write.mode("append").parquet(dir)
  }

  private val AppendFoldQuery = "SELECT k, ts, v FROM %s WHERE v >= 10"
  private val AggFoldQuery =
    "SELECT k, count(*) AS n, sum(v) AS s, min(v) AS lo, max(ts) AS last_ts FROM %s GROUP BY k"

  private type AggRow = (Long, Option[Long], Option[Long], Long) // n, s, lo, last_ts

  /** The append FV over `rows`, sorted. */
  private def appendModel(rows: Seq[SrcRow]): Seq[SrcRow] =
    rows.filter(_._3.exists(_ >= 10)).sorted

  /** Fold `rows` into the aggregate FV state `m`. */
  private def aggModel(m: Map[Long, AggRow], rows: Seq[SrcRow]): Map[Long, AggRow] =
    rows.foldLeft(m) { case (acc, (k, t, v)) =>
      def plus(a: Option[Long], b: Option[Long], f: (Long, Long) => Long) =
        (a ++ b).reduceOption(f)
      acc.get(k) match {
        case None => acc + (k -> ((1L, v, v, t)))
        case Some((n, s, lo, last)) =>
          acc + (k -> ((n + 1, plus(s, v, _ + _), plus(lo, v, math.min), math.max(last, t))))
      }
    }

  private def appendTable(fs: FeatureStore, name: String): Seq[SrcRow] =
    fs.readFeatureView(name, "1").select(col("k"), unix_seconds(col("ts")), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq.sorted

  private def aggTable(fs: FeatureStore, name: String): Map[Long, AggRow] =
    fs.readFeatureView(name, "1")
      .select(col("k"), col("n"), col("s"), col("lo"), unix_seconds(col("last_ts")))
      .collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ((r.getLong(1), opt(2), opt(3), r.getLong(4)))
      }.toMap

  /** A store with one INCREMENTAL FV `name` over temp view `src`. */
  private def foldFv(name: String, src: String, query: String, ts: String,
      lag: String = "1 minute"): (FeatureStore, RefreshManager, String) = {
    val fs = freshStore()
    val dir = Files.createTempDirectory(s"graft_src_${name}_").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], foldSchema)
      .createOrReplaceTempView(src)
    fs.registerEntity(Entity("fk", Seq("k")))
    fs.registerFeatureView(FeatureView(name, Seq(Entity("fk", Seq("k"))),
      query.format(src), timestampCol = Some(ts),
      refresh = Some(RefreshConfig(lag, RefreshMode.Incremental, InitializeMode.OnSchedule))), "1")
    (fs, new RefreshManager(fs), dir)
  }

  test("fold fuzz: land/fold/expire/optimize/compact/refreshOnce keep both fold shapes equal to a recompute") {
    Seq(false, true).foreach { agg =>
      val name = if (agg) "fv_fz_agg" else "fv_fz_app"
      val src = name + "_src"
      val (fs, mgr, dir) =
        foldFv(name, src, if (agg) AggFoldQuery else AppendFoldQuery, if (agg) "last_ts" else "ts")
      val rec = fs.getFeatureView(name, "1")
      val path = rec.physicalPath.get
      val rnd = new scala.util.Random(if (agg) 11 else 7)
      val landed = scala.collection.mutable.ArrayBuffer.empty[Seq[SrcRow]]
      var folded = 0         // landed files the FV holds
      var recorded = false   // the manifest carries a consumed set
      var appRows = Seq.empty[SrcRow]
      var aggRows = Map.empty[Long, AggRow]
      var compactions = 0
      def land(): Unit = { landed += foldRows(rnd, landed.size); landFile(dir, landed.last) }
      def fold(): Unit = {
        val before = graft.storage.VersionedTable.readManifest(path).map(_.segments.size)
        mgr.startIncremental(rec, src, dir, foldSchema, availableNow = true).awaitTermination()
        val fresh = if (recorded) landed.drop(folded).flatten.toSeq else landed.flatten.toSeq
        if (recorded) { appRows = appendModel(appRows ++ fresh); aggRows = aggModel(aggRows, fresh) }
        else { appRows = appendModel(fresh); aggRows = aggModel(Map.empty, fresh) }
        folded = landed.size; recorded = true
        val after = graft.storage.VersionedTable.readManifest(path).map(_.segments.size)
        if (before.exists(b => after.exists(_ < b))) compactions += 1
      }
      spark.conf.set("graft.refresh.autoOptimize.segments", "4")
      try {
        land(); fold()
        // every operation once in a seeded order, then a weighted random tail
        val kinds = Seq("land", "fold", "expire", "optimize", "compact", "refreshOnce")
        val weights = Seq(7, 6, 2, 2, 2, 1)
        def pick(): String = {
          var r = rnd.nextInt(weights.sum)
          kinds.zip(weights).find { case (_, w) => r -= w; r < 0 }.get._1
        }
        (rnd.shuffle(kinds) ++ Seq.fill(24)(pick())).zipWithIndex.foreach { case (what, step) =>
          what match {
            case "land" => land()
            case "fold" => fold()
            case "expire" =>
              val cut = T0 + rnd.nextInt(landed.size + 1) * 3600L
              fs.expireFeatureViewData(name, "1", cut * 1000000L)
              appRows = appRows.filter(_._2 >= cut)
              aggRows = aggRows.filter(_._2._4 >= cut)
            case "optimize" => fs.optimizeFeatureView(name, "1", numFiles = 2)
            case "compact" =>
              // enough folds in a row to reach the compaction threshold
              (1 to 8).foreach { _ => land(); fold() }
            case "refreshOnce" =>
              spark.read.schema(foldSchema).parquet(dir).createOrReplaceTempView(src)
              mgr.refreshOnce(rec)
              appRows = appendModel(landed.flatten.toSeq)
              aggRows = aggModel(Map.empty, landed.flatten.toSeq)
              folded = landed.size; recorded = false
          }
          if (agg) assert(aggTable(fs, name) == aggRows, s"$name diverged after step $step ($what)")
          else assert(appendTable(fs, name) == appRows, s"$name diverged after step $step ($what)")
        }
      } finally spark.conf.unset("graft.refresh.autoOptimize.segments")
      assert(mgr.electedMode(rec).contains(if (agg) "fold-aggregate" else "fold-append"))
      assert(compactions > 0, s"$name: no fold compacted")
      assert(mgr.status(rec).startsWith("INCREMENTAL:fold(version="), mgr.status(rec))
      mgr.stopAll()
    }
  }

  test("fold crash between segment write and manifest flip: next fold folds each file once, vacuum reclaims") {
    val (fs, mgr, dir) = foldFv("fv_crash", "crash_src", AggFoldQuery, "last_ts")
    val rec = fs.getFeatureView("fv_crash", "1")
    val rnd = new scala.util.Random(3)
    val files = Seq(foldRows(rnd, 0), foldRows(rnd, 1))
    landFile(dir, files(0))
    mgr.foldOnce(rec, "crash_src", dir, foldSchema)
    landFile(dir, files(1))
    var orphan = ""
    intercept[IllegalStateException] {
      mgr.foldOnce(rec, "crash_src", dir, foldSchema, beforeCommit = d => {
        orphan = d
        throw new IllegalStateException("crash before the flip")
      })
    }
    val path = rec.physicalPath.get
    val m = graft.storage.VersionedTable.readManifest(path).get
    assert(Files.isDirectory(java.nio.file.Paths.get(orphan)))
    assert(!m.segments.exists(s => orphan.endsWith(s)) && m.consumed.get.size == 1)
    mgr.foldOnce(rec, "crash_src", dir, foldSchema)
    assert(aggTable(fs, "fv_crash") == aggModel(Map.empty, files.flatten))
    assert(graft.storage.VersionedTable.readManifest(path).get.consumed.get.size == 2)
    graft.storage.VersionedTable.vacuum(path, keepGenerations = 0)
    assert(!Files.exists(java.nio.file.Paths.get(orphan)), "vacuum left the orphan segment")
    assert(aggTable(fs, "fv_crash") == aggModel(Map.empty, files.flatten))
  }

  test("two folds racing on one FV: the loser gets ConcurrentCommitException, no file counts twice") {
    val (fs, mgr, dir) = foldFv("fv_race", "race_src", AggFoldQuery, "last_ts")
    val rec = fs.getFeatureView("fv_race", "1")
    val rnd = new scala.util.Random(5)
    val landed = scala.collection.mutable.ArrayBuffer(foldRows(rnd, 0))
    landFile(dir, landed.head)
    mgr.foldOnce(rec, "race_src", dir, foldSchema)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 50).foreach { trial =>
      landed += foldRows(rnd, trial)
      landFile(dir, landed.last)
      // both folds have written their segment before either flips
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcomes = Seq.fill(2)(pool.submit(() => scala.util.Try(
        mgr.foldOnce(rec, "race_src", dir, foldSchema,
          beforeCommit = _ => barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)))))
        .map(_.get())
      val lost = outcomes.collect {
        case scala.util.Failure(_: graft.storage.VersionedTable.ConcurrentCommitException) => 1
      }.sum
      assert(lost == 1 && outcomes.count(_.isSuccess) == 1, s"trial $trial: $outcomes")
      assert(aggTable(fs, "fv_race") == aggModel(Map.empty, landed.flatten.toSeq),
        s"trial $trial: a file was folded twice or not at all")
    } finally pool.shutdownNow()
  }

  test("a table written by the streaming path, then folded, equals the recompute") {
    Seq(AggFoldQuery -> "last_ts", AppendFoldQuery -> "ts").foreach { case (query, ts) =>
      val agg = query == AggFoldQuery
      val name = if (agg) "fv_mig_agg" else "fv_mig_app"
      val (fs, mgr, dir) = foldFv(name, name + "_src", query, ts)
      val rec = fs.getFeatureView(name, "1")
      val path = rec.physicalPath.get
      val src = RefreshManager.Source(name + "_src", dir, foldSchema, None)
      val rnd = new scala.util.Random(9)
      val files = (0 until 4).map(foldRows(rnd, _))
      // two micro-batches through the streaming route
      files.take(2).foreach { f =>
        landFile(dir, f)
        mgr.startStream(rec, path, src, availableNow = true).awaitTermination()
      }
      val streamed = graft.storage.VersionedTable.readManifest(path).get
      assert(streamed.batchId == 1 && streamed.consumed.isEmpty && streamed.segments.size == 2)
      // the fold adopts the checkpoint's files and folds only the new ones
      files.drop(2).foreach { f =>
        landFile(dir, f)
        mgr.startIncremental(rec, name + "_src", dir, foldSchema, availableNow = true)
          .awaitTermination()
      }
      assert(mgr.electedMode(rec).contains(if (agg) "fold-aggregate" else "fold-append"))
      assert(graft.storage.VersionedTable.readManifest(path).get.consumed.get.size == 4)
      if (agg) assert(aggTable(fs, name) == aggModel(Map.empty, files.flatten))
      else assert(appendTable(fs, name) == appendModel(files.flatten))
      mgr.stopAll()
    }
  }

  test("a failed scheduled fold tick surfaces through RefreshRun.exception and status") {
    val (fs, mgr, dir) = foldFv("fv_failtick", "failtick_src", AppendFoldQuery, "ts", "1 second")
    val rec = fs.getFeatureView("fv_failtick", "1")
    landFile(dir, foldRows(new scala.util.Random(1), 0))
    Files.write(java.nio.file.Paths.get(dir, "corrupt.parquet"), "not parquet".getBytes)
    val run = mgr.startIncremental(rec, "failtick_src", dir, foldSchema)
    try {
      intercept[Exception](run.awaitTermination(120000))
      assert(run.exception.nonEmpty && !run.isActive)
      assert(mgr.status(rec).startsWith("INCREMENTAL:failed"), mgr.status(rec))
    } finally mgr.stopAll()
  }

  test("target-lag tick reserves a 25% processing allowance with a 1 s floor") {
    assert(RefreshManager.tickMillis(60000L) == 45000L)    // '1 minute' → 45 s
    assert(RefreshManager.tickMillis(3600000L) == 2700000L) // '1 hour' → 45 min
    assert(RefreshManager.tickMillis(2000L) == 1500L)
    assert(RefreshManager.tickMillis(1000L) == 1000L) // floor: never sub-second
    assert(RefreshManager.tickMillis(500L) == 500L)   // …but never above the lag
  }
}
