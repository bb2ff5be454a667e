package graft.pit

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the reference's point-in-time semantics with the exact fixture shape
  * of test_feature_store_workflows.py:60-102 (FIXTURES.md §1.1/§1.2):
  * 10 customers × 5 snapshots at base−{30,20,10,5,1} days, spine at −7 days
  * ⇒ every spine row must match the −10-day snapshot, non-null.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-06-01 00:00:00")
  private def daysAgo(d: Int) = new Timestamp(base.getTime - d * 86400000L)

  private lazy val features = (for {
    cid <- 1 to 10
    d <- Seq(30, 20, 10, 5, 1)
  } yield (cid, daysAgo(d), 20 + cid, s"snap$d")).toDF("customer_id", "updated_at", "age", "snap")

  private lazy val spine = (1 to 10)
    .map(cid => (cid, daysAgo(7), cid % 2)).toDF("customer_id", "event_time", "label")

  private def run(method: String) = AsOfJoin.joinAsOf(
    spine, features, Seq("customer_id"), "event_time", "updated_at",
    featureCols = Seq("age", "snap"), method = method)

  test("auto with a non-broadcastable feature side takes the salted branch, result exact") {
    // force isBroadcastable=false so auto exercises its window branch (every
    // other auto test uses tiny broadcastable fixtures and takes join-filter);
    // engage detection so the salted path is genuinely entered
    val c = spark.conf
    val prev = c.get("spark.sql.autoBroadcastJoinThreshold")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.set("graft.asof.salt.hotKeyThreshold", "5")
    c.set("graft.asof.salt.sampleRate", "1.0")
    try {
      val expected = run("union-window").collect().sortBy(_.getInt(0)).toSeq
      assert(run("auto").collect().sortBy(_.getInt(0)).toSeq == expected,
        "auto's non-broadcastable (salted) branch diverged from union-window")
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", prev)
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
    }
  }

  test("default method engages salting on a skewed corpus, result identical to union-window") {
    // No graft.asof.method set: the default must route to salted-window,
    // and with a cleared hot threshold the skewed key must genuinely
    // engage the two-level carry (observable as the __graft_bounds
    // detection column in the executed plan), with results unchanged.
    val c = spark.conf
    val prevMethod = c.getOption("graft.asof.method")
    c.unset("graft.asof.method")
    c.set("graft.asof.salt.hotKeyThreshold", "20")
    c.set("graft.asof.salt.sampleRate", "1.0")
    try {
      // key 1 is hot: 200 feature snapshots; keys 2-5 have 5 each
      val skewedFeatures = ((1 to 200).map(i => (1, daysAgo(230 - i), 100 + i, s"h$i")) ++
        (for { cid <- 2 to 5; d <- Seq(30, 20, 10, 5, 1) }
          yield (cid, daysAgo(d), 20 + cid, s"snap$d")))
        .toDF("customer_id", "updated_at", "age", "snap")
      val sk = (1 to 5).map(cid => (cid, daysAgo(7), cid % 2))
        .toDF("customer_id", "event_time", "label")
      def go(method: String) = AsOfJoin.joinAsOf(
        sk, skewedFeatures, Seq("customer_id"), "event_time", "updated_at",
        featureCols = Seq("age", "snap"), method = method)
      val expected = go("union-window").collect().sortBy(_.getInt(0)).toSeq
      val defaultRun = go("default")
      assert(defaultRun.queryExecution.executedPlan.toString.contains("__graft_bounds"),
        "default as-of path did not engage the salted two-level carry on a skewed corpus")
      assert(defaultRun.collect().sortBy(_.getInt(0)).toSeq == expected,
        "default (salted) as-of result diverged from union-window")
    } finally {
      prevMethod.foreach(c.set("graft.asof.method", _))
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
    }
  }

  for (m <- Seq("union-window", "join-filter", "salted-window")) {
    test(s"$m: every spine row matches the -10d snapshot (reference PIT semantics)") {
      val rows = run(m).collect()
      assert(rows.length == 10)
      rows.foreach { r =>
        assert(r.getAs[String]("snap") == "snap10", s"wrong snapshot in $r")
        assert(r.getAs[Int]("age") == 20 + r.getAs[Int]("customer_id"))
        assert(!r.isNullAt(r.fieldIndex("label")))
      }
    }
  }

  test("inclusive bound: feature at exactly the spine ts wins") {
    val f = Seq((1, daysAgo(7), 99, "exact"), (1, daysAgo(10), 31, "older"))
      .toDF("customer_id", "updated_at", "age", "snap")
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      val out = AsOfJoin.joinAsOf(spine.filter($"customer_id" === 1), f,
        Seq("customer_id"), "event_time", "updated_at",
        featureCols = Seq("age", "snap"), method = m).collect()
      assert(out.length == 1 && out(0).getAs[String]("snap") == "exact", s"method=$m")
    }
  }

  test("spine rows before all feature history get nulls (left-join semantics)") {
    val earlySpine = Seq((1, daysAgo(60), 0)).toDF("customer_id", "event_time", "label")
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      val out = AsOfJoin.joinAsOf(earlySpine, features, Seq("customer_id"),
        "event_time", "updated_at", featureCols = Seq("age", "snap"), method = m).collect()
      assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("snap")), s"method=$m")
    }
  }

  test("keys absent from features keep spine row with null features") {
    val unknown = Seq((999, daysAgo(7), 1)).toDF("customer_id", "event_time", "label")
    val out = AsOfJoin.joinAsOf(unknown, features, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age"), method = "union-window").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("age")))
  }

  test("auto method picks a strategy and matches both explicit strategies") {
    val out = AsOfJoin.joinAsOf(spine, features, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age", "snap"), method = "auto")
    val expected = run("union-window")
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
  }

  test("both strategies agree on the events table (property cross-check)") {
    val ev = Tables.events(spark, sfDir)
    val sp = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value".as("label"))
    val ft = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts").agg(max($"value").as("f_v"))
    val a = AsOfJoin.joinAsOf(sp, ft, Seq("user_id"), "ts", "ts", Seq("f_v"), method = "union-window")
    val b = AsOfJoin.joinAsOf(sp, ft, Seq("user_id"), "ts", "ts", Seq("f_v"), method = "join-filter")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("composite join keys (multi-key entity) match per key tuple") {
    val f = Seq(
      (1, "A", daysAgo(10), 100), (1, "B", daysAgo(10), 200),
      (2, "A", daysAgo(10), 300), (1, "A", daysAgo(3), 999))
      .toDF("customer_id", "region", "updated_at", "f_val")
    val sp = Seq((1, "A", daysAgo(7)), (1, "B", daysAgo(7)), (2, "B", daysAgo(7)))
      .toDF("customer_id", "region", "event_time")
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      val out = AsOfJoin.joinAsOf(sp, f, Seq("customer_id", "region"),
        "event_time", "updated_at", featureCols = Seq("f_val"), method = m)
        .collect().map(r => (r.getInt(0), r.getString(1)) ->
          (if (r.isNullAt(r.fieldIndex("f_val"))) None else Some(r.getInt(r.fieldIndex("f_val"))))).toMap
      assert(out((1, "A")) == Some(100), s"method=$m")  // -3d snapshot is AFTER spine → excluded
      assert(out((1, "B")) == Some(200), s"method=$m")
      assert(out((2, "B")) == None, s"method=$m")       // no (2,B) history
    }
  }

  test("NULL field in the latest matching row is attached as NULL, not back-filled") {
    // older row has age=31; the LATEST qualifying row has age=NULL — ASOF
    // attaches the matched row wholesale, so age must come back NULL. A
    // per-column carry-forward would wrongly resurrect 31.
    val f = Seq(
      (1, daysAgo(20), Some(31), "older"),
      (1, daysAgo(10), None, "latest"))
      .toDF("customer_id", "updated_at", "age", "snap")
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      val out = AsOfJoin.joinAsOf(spine.filter($"customer_id" === 1), f,
        Seq("customer_id"), "event_time", "updated_at",
        featureCols = Seq("age", "snap"), method = m).collect()
      assert(out.length == 1, s"method=$m")
      assert(out(0).getAs[String]("snap") == "latest", s"method=$m: $out")
      assert(out(0).isNullAt(out(0).fieldIndex("age")),
        s"method=$m resurrected a stale value for a NULL field: ${out(0)}")
    }
  }

  test("multi-FV one-pass join preserves NULL fields of each FV's matched row") {
    val fvA = Seq(
      (1, daysAgo(20), Some(31)), (1, daysAgo(10), Option.empty[Int]))
      .toDF("customer_id", "updated_at", "f_a")
    val fvB = Seq(
      (1, daysAgo(15), Some(7)))
      .toDF("customer_id", "snap_ts", "f_b")
    val out = AsOfJoin.joinAsOfMulti(
      spine.filter($"customer_id" === 1),
      Seq((fvA, "updated_at", Seq("f_a")), (fvB, "snap_ts", Seq("f_b"))),
      Seq("customer_id"), "event_time").collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("f_a")), s"stale f_a: ${out(0)}")
    assert(out(0).getAs[Int]("f_b") == 7)
  }

  test("mixed-case feature columns resolve (catalog lowercases, query may not)") {
    val f = Seq((1, daysAgo(10), 42)).toDF("CUSTOMER_ID", "UPDATED_AT", "F_VAL")
    val out = AsOfJoin.joinAsOf(spine.filter($"customer_id" === 1), f,
      Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("f_val"), method = "union-window").collect()
    assert(out.length == 1 && out(0).getAs[Int]("f_val") == 42)
  }

  test("multi-row same (key, ts) on spine side: each spine row preserved") {
    val dupSpine = Seq((1, daysAgo(7), 0), (1, daysAgo(7), 1)).toDF("customer_id", "event_time", "label")
    val out = AsOfJoin.joinAsOf(dupSpine, features, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age"), method = "union-window").collect()
    assert(out.length == 2 && out.forall(_.getAs[Int]("age") == 21))
  }

  private lazy val Tables = graft.Tables

  test("maxStaleness TTL: a match older than the bound becomes null; both strategies agree") {
    // spine at -7d; latest match is the -10d snapshot → 3 days stale.
    // TTL "4 days" keeps it; TTL "2 days" nulls it; boundary "3 days" is
    // inclusive (ts - ttl <= fts) and keeps it.
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      def withTtl(ttl: String) = AsOfJoin.joinAsOf(
        spine, features, Seq("customer_id"), "event_time", "updated_at",
        featureCols = Seq("age", "snap"), method = m, maxStaleness = Some(ttl))
      val keep = withTtl("4 days").collect()
      assert(keep.length == 10 && keep.forall(_.getAs[String]("snap") == "snap10"),
        s"$m: TTL 4 days must keep the -10d match")
      val boundary = withTtl("3 days").collect()
      assert(boundary.forall(_.getAs[String]("snap") == "snap10"),
        s"$m: TTL boundary must be inclusive")
      val drop = withTtl("2 days").collect()
      assert(drop.length == 10 && drop.forall(r =>
          r.getAs[String]("snap") == null && r.isNullAt(r.fieldIndex("age"))),
        s"$m: TTL 2 days must null the stale match, got ${drop.toSeq}")
    }
  }

  test("spine-key prefilter: narrow spine reduces the feature side, result exact") {
    // spine touches 2 of 10 keys; the prefiltered and unfiltered runs must
    // agree exactly (a feature row with a key absent from the spine can
    // never match, and left-join semantics keep every spine row)
    val narrow = spine.filter($"customer_id" <= 2)
    def run(pf: Boolean) = AsOfJoin.joinAsOf(
      narrow, features, Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("age", "snap"), prefilterSpineKeys = pf)
    val on = run(true).orderBy("customer_id").collect().toSeq
    val off = run(false).orderBy("customer_id").collect().toSeq
    assert(on == off && on.length == 2)
    // the reduction is real: a broadcast semi join guards the window shuffle
    val plan = run(true).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi-join reduction in plan:\n$plan")
    assert(!run(false).queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  test("NULL join keys: SQL equi-join semantics — never match, on every strategy") {
    // NULL-keyed spine row must survive (left join) with null features even
    // though NULL-keyed feature history exists; NULL-keyed feature rows
    // match nothing; non-null keys are unaffected. Also invariant to the
    // prefilter (which must not be the only thing dropping NULL-keyed rows).
    val f = Seq(
      (Some(1), daysAgo(10), 21, "k1"),
      (None: Option[Int], daysAgo(10), 99, "nullkey"))
      .toDF("customer_id", "updated_at", "age", "snap")
    val sp = Seq(
      (Some(1), daysAgo(7), 0),
      (None: Option[Int], daysAgo(7), 1))
      .toDF("customer_id", "event_time", "label")
    for (m <- Seq("union-window", "join-filter", "salted-window", "auto"); pf <- Seq(true, false)) {
      val out = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"), "event_time",
        "updated_at", featureCols = Seq("age", "snap"), method = m,
        prefilterSpineKeys = pf)
        .orderBy(asc_nulls_last("customer_id")).collect()
      assert(out.length == 2, s"$m/pf=$pf: left join must keep the NULL-keyed spine row")
      assert(out(0).getAs[String]("snap") == "k1", s"$m/pf=$pf: non-null key must match")
      assert(out(1).isNullAt(out(1).fieldIndex("snap")) &&
        out(1).isNullAt(out(1).fieldIndex("age")),
        s"$m/pf=$pf: NULL-keyed spine row must get null features, got ${out(1)}")
    }
  }

  test("NULL feature ts never matches; NULL spine ts gets null features") {
    val f = Seq(
      (1, Some(daysAgo(10)), 21, "real"),
      (1, None: Option[Timestamp], 99, "nullts"))
      .toDF("customer_id", "updated_at", "age", "snap")
    val sp = Seq(
      (1, Some(daysAgo(7)), 0),
      (2, None: Option[Timestamp], 1))
      .toDF("customer_id", "event_time", "label")
    for (m <- Seq("union-window", "join-filter", "salted-window")) {
      val out = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"), "event_time",
        "updated_at", featureCols = Seq("age", "snap"), method = m)
        .orderBy("customer_id").collect()
      assert(out.length == 2)
      assert(out(0).getAs[String]("snap") == "real",
        s"$m: NULL-ts feature row must never be the match")
      assert(out(1).isNullAt(out(1).fieldIndex("snap")),
        s"$m: NULL-ts spine row must get null features")
    }
  }

  /** Engaged-salting tests run with a tiny hot threshold and few buckets so
    * the two-level path actually fires at test scale; conf restored after. */
  private def withSaltConf(threshold: Long, buckets: Int)(body: => Unit): Unit = {
    val c = spark.conf
    c.set("graft.asof.salt.hotKeyThreshold", threshold.toString)
    c.set("graft.asof.salt.buckets", buckets.toString)
    // full-rate detection: at test scale a 1% sample could miss every row
    // of a hot key and silently skip the code path under test
    c.set("graft.asof.salt.sampleRate", "1.0")
    try body finally {
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.buckets")
      c.unset("graft.asof.salt.sampleRate")
    }
  }

  test("salted-window engaged: skewed corpus (one key = 50% of rows) matches both strategies") {
    // Randomized property check incl. duplicate (key, ts) rows, so the
    // documented greater-last-payload tie-break must agree across all three
    // implementations (window ordering, max_by bucket summary, join-filter
    // row_number) — snap values are globally unique, so the tie-break is
    // total and the expected result deterministic.
    val rnd = new scala.util.Random(42)
    val f = (1 to 4000).map { i =>
      val k = if (i % 2 == 0) 1 else 2 + rnd.nextInt(20)
      (k, daysAgo(1 + rnd.nextInt(200)), rnd.nextInt(1000), f"s$i%05d")
    }.toDF("customer_id", "updated_at", "age", "snap")
    val sp = (1 to 500).map { i =>
      val k = if (i % 2 == 0) 1 else 2 + rnd.nextInt(25)
      (k, daysAgo(rnd.nextInt(210)), i)
    }.toDF("customer_id", "event_time", "label")
    def run(m: String) = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age", "snap"), method = m)
    withSaltConf(threshold = 100, buckets = 4) {
      val salted = run("salted-window")
      val plain = run("union-window")
      val jf = run("join-filter")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        "salted-window diverged from union-window on the skewed corpus")
      assert(salted.exceptAll(jf).isEmpty && jf.exceptAll(salted).isEmpty,
        "salted-window diverged from join-filter on the skewed corpus")
    }
  }

  test("salted-window engaged: carry-in crosses bucket boundaries (spine-only late buckets)") {
    // All feature history sits in the earliest ts range, spine rows spread
    // across the whole timeline: with 4 buckets, the later buckets hold
    // ONLY spine rows, so their match must arrive via the level-2 carry-in.
    val f = (0 until 50).map(i => (1, daysAgo(300 - i % 5), 100 + i % 5, s"early${i % 5}"))
      .toDF("customer_id", "updated_at", "age", "snap")
    val sp = (1 to 50).map(i => (1, daysAgo(i * 5), i)).toDF("customer_id", "event_time", "label")
    withSaltConf(threshold = 10, buckets = 4) {
      val out = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"), "event_time",
        "updated_at", featureCols = Seq("age", "snap"), method = "salted-window").collect()
      assert(out.length == 50)
      // latest feature overall is daysAgo(296) (i%5==4): every spine row is
      // later than all history, so all must carry that exact row
      out.foreach { r =>
        assert(r.getAs[String]("snap") == "early4" && r.getAs[Int]("age") == 104,
          s"carry-in failed to cross buckets: $r")
      }
    }
  }

  test("salted-window engaged: maxStaleness TTL still applies across buckets") {
    // all history at -296d (latest of a 5-snapshot pack); spine at -5d..-250d
    // with TTL 100d: a spine row at -5i d is fresh iff 296 - 5i <= 100,
    // i.e. i >= 40 — the TTL must null carried-in matches too.
    val f = (0 until 50).map(i => (1, daysAgo(300 - i % 5), 100 + i % 5, s"early${i % 5}"))
      .toDF("customer_id", "updated_at", "age", "snap")
    val sp = (1 to 50).map(i => (1, daysAgo(i * 5), i)).toDF("customer_id", "event_time", "label")
    withSaltConf(threshold = 10, buckets = 4) {
      val out = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"), "event_time",
        "updated_at", featureCols = Seq("age", "snap"), method = "salted-window",
        maxStaleness = Some("100 days")).collect()
      assert(out.length == 50)
      out.foreach { r =>
        val i = r.getAs[Int]("label")
        if (i >= 40) assert(r.getAs[String]("snap") == "early4", s"fresh match dropped: $r")
        else assert(r.isNullAt(r.fieldIndex("snap")), s"stale match kept: $r")
      }
    }
  }

  test("multi-FV salted: skewed corpus, one-pass two-level window matches unsalted") {
    // one hot key (50% of rows) across TWO feature views with disjoint ts
    // ranges, so each FV's carry-in must cross bucket boundaries
    // independently; every row unique-payload so the result is total
    val rnd = new scala.util.Random(7)
    def key(i: Int) = if (i % 2 == 0) 1 else 2 + rnd.nextInt(10)
    val fvA = (1 to 1500).map(i => (key(i), daysAgo(150 + rnd.nextInt(100)), f"a$i%05d"))
      .toDF("customer_id", "ts_a", "f_a")
    val fvB = (1 to 1500).map(i => (key(i), daysAgo(1 + rnd.nextInt(100)), f"b$i%05d"))
      .toDF("customer_id", "ts_b", "f_b")
    val sp = (1 to 400).map(i => (key(i), daysAgo(rnd.nextInt(260)), i))
      .toDF("customer_id", "event_time", "label")
    def multi() = AsOfJoin.joinAsOfMulti(sp,
      Seq((fvA, "ts_a", Seq("f_a")), (fvB, "ts_b", Seq("f_b"))),
      Seq("customer_id"), "event_time")
    val plain = multi()
    withSaltConf(threshold = 100, buckets = 4) {
      spark.conf.set("graft.asof.method", "salted-window")
      try {
        val salted = multi()
        assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
          "two-level multi-FV salted window diverged from the unsalted one-pass window")
      } finally spark.conf.unset("graft.asof.method")
    }
  }

  test("graft.asof.method session conf routes the default strategy (single + multi FV)") {
    val c = spark.conf
    val expectSingle = run("union-window").collect().sortBy(_.getInt(0)).toSeq
    val fvB = Seq((1, daysAgo(15), 7)).toDF("customer_id", "snap_ts", "f_b")
    def multi() = AsOfJoin.joinAsOfMulti(spine,
      Seq((features, "updated_at", Seq("age", "snap")), (fvB, "snap_ts", Seq("f_b"))),
      Seq("customer_id"), "event_time")
    val expectMulti = multi().collect().sortBy(_.getInt(0)).toSeq
    c.set("graft.asof.method", "salted-window")
    c.set("graft.asof.salt.hotKeyThreshold", "5")
    c.set("graft.asof.salt.sampleRate", "1.0")
    try {
      // default-method call must now take the salted path and agree exactly
      assert(run("default").collect().sortBy(_.getInt(0)).toSeq == expectSingle,
        "conf-routed salted default diverged on the single-FV path")
      assert(multi().collect().sortBy(_.getInt(0)).toSeq == expectMulti,
        "conf-routed salted default diverged on the multi-FV one-pass path")
    } finally {
      c.unset("graft.asof.method")
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
    }
  }

  test("maxStaleness horizon pruning: plan prunes history below min(spine)-ttl, result exact") {
    // history spans -30d..-1d; spine at -7d with ttl 5 days ⇒ horizon -12d:
    // the -20d/-30d snapshots are pruned before the shuffle, and the result
    // still matches the unpruned join-filter strategy exactly.
    def run(m: String) = AsOfJoin.joinAsOf(
      spine, features, Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("age", "snap"), method = m, maxStaleness = Some("5 days"))
    val uw = run("union-window").orderBy("customer_id").collect().toSeq
    val jf = run("join-filter").orderBy("customer_id").collect().toSeq
    assert(uw == jf && uw.length == 10)
    assert(uw.forall(_.getAs[String]("snap") == "snap10"))
  }

  test("hot-key memo key folds minBytesPerRow: retuning the stats short-circuit is a miss") {
    // minBytesPerRow decides the stats short-circuit, so a memoized "no hot
    // keys" verdict from a short-circuited call must not survive retuning it
    val c = spark.conf
    // parquet-backed sides carry sizeInBytes but no rowCount, so the
    // short-circuit takes its bytes-per-row branch (local frames carry a
    // rowCount and never consult minBytesPerRow)
    def onDisk(df: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory("graft_asof_mbpr_").resolve("t").toString
      df.write.parquet(d)
      spark.read.parquet(d)
    }
    val (sp, feat) = (onDisk(spine), onDisk(features))
    def salted() = AsOfJoin.joinAsOf(sp, feat, Seq("customer_id"), "event_time",
      "updated_at", featureCols = Seq("age", "snap"), method = "salted-window",
      hotKeyCacheKey = Some("asof:minBytesPerRow-spec"))
    def detections(body: => Unit): Long = {
      val before = AsOfJoin.detectionJobs.get()
      body
      AsOfJoin.detectionJobs.get() - before
    }
    val expected = run("union-window").collect().sortBy(_.getInt(0)).toSeq
    c.set("graft.asof.salt.hotKeyThreshold", "5")
    c.set("graft.asof.salt.sampleRate", "1.0")
    AsOfJoin.clearHotKeyCache()
    try {
      // a huge per-row floor proves the tiny inputs too small: no job
      c.set("graft.asof.salt.minBytesPerRow", "1000000000")
      assert(detections(salted()) == 0)
      assert(detections(salted()) == 0)
      // the default floor no longer proves it: same cache key, one job
      c.set("graft.asof.salt.minBytesPerRow", "2")
      var out: Seq[org.apache.spark.sql.Row] = Seq.empty
      assert(detections { out = salted().collect().sortBy(_.getInt(0)).toSeq } == 1)
      assert(out == expected)
      assert(detections(salted()) == 0, "the retuned verdict is memoized in turn")
    } finally {
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
      c.unset("graft.asof.salt.minBytesPerRow")
      AsOfJoin.clearHotKeyCache()
    }
  }
}
