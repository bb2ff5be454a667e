package graft.pit

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
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

  private def window() = AsOfJoin.joinAsOf(
    spine, features, Seq("customer_id"), "event_time", "updated_at",
    featureCols = Seq("age", "snap"))

  /** Engaged-salting runs use a tiny hot threshold and few buckets so the
    * two-level path actually fires at test scale; conf restored after. */
  private def withSaltConf[T](threshold: Long, buckets: Int)(body: => T): T = {
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

  /** The window join in its two settings — "plain" (default threshold: the
    * one-level plan) and "salted" (threshold 10, full-rate detection, 4
    * buckets: the two-level carry engages) — plus the "join-filter"
    * reference, each collected. */
  private def allRuns(sp: DataFrame, f: DataFrame, keys: Seq[String], sts: String,
      fts: String, cols: Seq[String], ttl: Option[String] = None): Seq[(String, Array[Row])] = {
    def win() = AsOfJoin.joinAsOf(sp, f, keys, sts, fts, cols, maxStaleness = ttl).collect()
    Seq("plain" -> win(), "salted" -> withSaltConf(10, 4)(win()),
      "join-filter" -> AsOfJoin.joinFilter(sp, f, keys, sts, fts, cols, ttl).collect())
  }

  test("non-broadcastable sides: engaged salting without the prefilter, result exact") {
    // autoBroadcastJoinThreshold=-1 turns the spine-key prefilter off, so
    // the salted window runs over the whole feature history
    val c = spark.conf
    val prev = c.get("spark.sql.autoBroadcastJoinThreshold")
    val expected = window().collect().sortBy(_.getInt(0)).toSeq
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withSaltConf(5, 4) {
      val salted = window()
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bounds") && !plan.contains("LeftSemi"), plan)
      assert(salted.collect().sortBy(_.getInt(0)).toSeq == expected,
        "salted window without the prefilter diverged from the plain window")
    } finally c.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("default method engages salting on a skewed corpus, result identical to union-window") {
    // No method to pick: with a cleared hot threshold the skewed key must
    // genuinely engage the two-level carry (observable as the
    // __graft_bounds detection column in the executed plan), with results
    // unchanged against the plain window and the join-filter reference.
    // key 1 is hot: 200 feature snapshots; keys 2-5 have 5 each
    val skewedFeatures = ((1 to 200).map(i => (1, daysAgo(230 - i), 100 + i, s"h$i")) ++
      (for { cid <- 2 to 5; d <- Seq(30, 20, 10, 5, 1) }
        yield (cid, daysAgo(d), 20 + cid, s"snap$d")))
      .toDF("customer_id", "updated_at", "age", "snap")
    val sk = (1 to 5).map(cid => (cid, daysAgo(7), cid % 2))
      .toDF("customer_id", "event_time", "label")
    def go() = AsOfJoin.joinAsOf(
      sk, skewedFeatures, Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("age", "snap"))
    val expected = go().collect().sortBy(_.getInt(0)).toSeq
    assert(expected == AsOfJoin.joinFilter(sk, skewedFeatures, Seq("customer_id"),
      "event_time", "updated_at", Seq("age", "snap")).collect().sortBy(_.getInt(0)).toSeq)
    val c = spark.conf
    c.set("graft.asof.salt.hotKeyThreshold", "20")
    c.set("graft.asof.salt.sampleRate", "1.0")
    try {
      val defaultRun = go()
      assert(defaultRun.queryExecution.executedPlan.toString.contains("__graft_bounds"),
        "the as-of join did not engage the salted two-level carry on a skewed corpus")
      assert(defaultRun.collect().sortBy(_.getInt(0)).toSeq == expected,
        "salted as-of result diverged from the plain window")
    } finally {
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
    }
  }

  // union-window = the plain setting, salted-window = engaged salting
  for ((m, runner) <- Seq[(String, () => Array[Row])](
      "union-window" -> (() => window().collect()),
      "join-filter" -> (() => AsOfJoin.joinFilter(spine, features, Seq("customer_id"),
        "event_time", "updated_at", Seq("age", "snap")).collect()),
      "salted-window" -> (() => withSaltConf(10, 4)(window().collect())))) {
    test(s"$m: every spine row matches the -10d snapshot (reference PIT semantics)") {
      val rows = runner()
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
    for ((m, out) <- allRuns(spine.filter($"customer_id" === 1), f,
        Seq("customer_id"), "event_time", "updated_at", Seq("age", "snap"))) {
      assert(out.length == 1 && out(0).getAs[String]("snap") == "exact", s"setting=$m")
    }
  }

  test("spine rows before all feature history get nulls (left-join semantics)") {
    val earlySpine = Seq((1, daysAgo(60), 0)).toDF("customer_id", "event_time", "label")
    for ((m, out) <- allRuns(earlySpine, features, Seq("customer_id"),
        "event_time", "updated_at", Seq("age", "snap"))) {
      assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("snap")), s"setting=$m")
    }
  }

  test("keys absent from features keep spine row with null features") {
    val unknown = Seq((999, daysAgo(7), 1)).toDF("customer_id", "event_time", "label")
    val out = AsOfJoin.joinAsOf(unknown, features, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age")).collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("age")))
  }

  test("both strategies agree on the events table (property cross-check)") {
    val ev = Tables.events(spark, sfDir)
    val sp = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value".as("label"))
    val ft = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts").agg(max($"value").as("f_v"))
    val a = AsOfJoin.joinAsOf(sp, ft, Seq("user_id"), "ts", "ts", Seq("f_v"))
    val b = AsOfJoin.joinFilter(sp, ft, Seq("user_id"), "ts", "ts", Seq("f_v"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("composite join keys (multi-key entity) match per key tuple") {
    val f = Seq(
      (1, "A", daysAgo(10), 100), (1, "B", daysAgo(10), 200),
      (2, "A", daysAgo(10), 300), (1, "A", daysAgo(3), 999))
      .toDF("customer_id", "region", "updated_at", "f_val")
    val sp = Seq((1, "A", daysAgo(7)), (1, "B", daysAgo(7)), (2, "B", daysAgo(7)))
      .toDF("customer_id", "region", "event_time")
    for ((m, rows) <- allRuns(sp, f, Seq("customer_id", "region"),
        "event_time", "updated_at", Seq("f_val"))) {
      val out = rows.map(r => (r.getInt(0), r.getString(1)) ->
        (if (r.isNullAt(r.fieldIndex("f_val"))) None else Some(r.getInt(r.fieldIndex("f_val"))))).toMap
      assert(out((1, "A")) == Some(100), s"setting=$m")  // -3d snapshot is AFTER spine → excluded
      assert(out((1, "B")) == Some(200), s"setting=$m")
      assert(out((2, "B")) == None, s"setting=$m")       // no (2,B) history
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
    for ((m, out) <- allRuns(spine.filter($"customer_id" === 1), f,
        Seq("customer_id"), "event_time", "updated_at", Seq("age", "snap"))) {
      assert(out.length == 1, s"setting=$m")
      assert(out(0).getAs[String]("snap") == "latest", s"setting=$m: $out")
      assert(out(0).isNullAt(out(0).fieldIndex("age")),
        s"setting=$m resurrected a stale value for a NULL field: ${out(0)}")
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
      featureCols = Seq("f_val")).collect()
    assert(out.length == 1 && out(0).getAs[Int]("f_val") == 42)
  }

  test("multi-row same (key, ts) on spine side: each spine row preserved") {
    val dupSpine = Seq((1, daysAgo(7), 0), (1, daysAgo(7), 1)).toDF("customer_id", "event_time", "label")
    val out = AsOfJoin.joinAsOf(dupSpine, features, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age")).collect()
    assert(out.length == 2 && out.forall(_.getAs[Int]("age") == 21))
  }

  private lazy val Tables = graft.Tables

  test("maxStaleness TTL: a match older than the bound becomes null; both strategies agree") {
    // spine at -7d; latest match is the -10d snapshot → 3 days stale.
    // TTL "4 days" keeps it; TTL "2 days" nulls it; boundary "3 days" is
    // inclusive (ts - ttl <= fts) and keeps it.
    def withTtl(ttl: String) = allRuns(spine, features, Seq("customer_id"),
      "event_time", "updated_at", Seq("age", "snap"), Some(ttl))
    for ((m, keep) <- withTtl("4 days"))
      assert(keep.length == 10 && keep.forall(_.getAs[String]("snap") == "snap10"),
        s"$m: TTL 4 days must keep the -10d match")
    for ((m, boundary) <- withTtl("3 days"))
      assert(boundary.forall(_.getAs[String]("snap") == "snap10"),
        s"$m: TTL boundary must be inclusive")
    for ((m, drop) <- withTtl("2 days"))
      assert(drop.length == 10 && drop.forall(r =>
          r.getAs[String]("snap") == null && r.isNullAt(r.fieldIndex("age"))),
        s"$m: TTL 2 days must null the stale match, got ${drop.toSeq}")
  }

  test("spine-key prefilter: narrow spine reduces the feature side, result exact") {
    // spine touches 2 of 10 keys; the prefiltered and unfiltered runs must
    // agree exactly (a feature row with a key absent from the spine can
    // never match, and left-join semantics keep every spine row)
    val narrow = spine.filter($"customer_id" <= 2)
    def run() = AsOfJoin.joinAsOf(
      narrow, features, Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("age", "snap"))
    val on = run()
    // the prefilter gates itself on a broadcastable spine key set, so a
    // disabled broadcast threshold turns it off
    val (off, offPlan) = withoutBroadcast {
      val df = run()
      (df.orderBy("customer_id").collect().toSeq, df.queryExecution.executedPlan.toString)
    }
    assert(on.orderBy("customer_id").collect().toSeq == off && off.length == 2)
    // the reduction is real: a broadcast semi join guards the window shuffle
    val plan = on.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi-join reduction in plan:\n$plan")
    assert(!offPlan.contains("LeftSemi"))
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
    def runs() = allRuns(sp, f, Seq("customer_id"), "event_time", "updated_at",
      Seq("age", "snap"))
    for (pf <- Seq(true, false); (m, rows) <- if (pf) runs() else withoutBroadcast(runs())) {
      val out = rows.sortBy(r => if (r.isNullAt(0)) Int.MaxValue else r.getInt(0))
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
    for ((m, rows) <- allRuns(sp, f, Seq("customer_id"), "event_time", "updated_at",
        Seq("age", "snap"))) {
      val out = rows.sortBy(_.getInt(0))
      assert(out.length == 2)
      assert(out(0).getAs[String]("snap") == "real",
        s"$m: NULL-ts feature row must never be the match")
      assert(out(1).isNullAt(out(1).fieldIndex("snap")),
        s"$m: NULL-ts spine row must get null features")
    }
  }

  /** Runs `body` with broadcasts disabled, which turns the spine-key
    * prefilter off. */
  private def withoutBroadcast[T](body: => T): T = {
    val c = spark.conf
    val prev = c.get("spark.sql.autoBroadcastJoinThreshold")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally c.set("spark.sql.autoBroadcastJoinThreshold", prev)
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
    def run() = AsOfJoin.joinAsOf(sp, f, Seq("customer_id"),
      "event_time", "updated_at", featureCols = Seq("age", "snap"))
    val plain = run()
    val jf = AsOfJoin.joinFilter(sp, f, Seq("customer_id"),
      "event_time", "updated_at", Seq("age", "snap"))
    withSaltConf(threshold = 100, buckets = 4) {
      val salted = run()
      assert(salted.queryExecution.executedPlan.toString.contains("__graft_bounds"))
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
        "updated_at", featureCols = Seq("age", "snap")).collect()
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
        "updated_at", featureCols = Seq("age", "snap"),
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
      val salted = multi()
      assert(salted.queryExecution.executedPlan.toString.contains("__graft_bounds"))
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        "two-level multi-FV salted window diverged from the unsalted one-pass window")
    }
  }

  test("maxStaleness horizon pruning: plan prunes history below min(spine)-ttl, result exact") {
    // history spans -30d..-1d; spine at -7d with ttl 5 days ⇒ horizon -12d:
    // the -20d/-30d snapshots are pruned before the shuffle, and the result
    // still matches the unpruned join-filter strategy exactly.
    val pruned = AsOfJoin.joinAsOf(
      spine, features, Seq("customer_id"), "event_time", "updated_at",
      featureCols = Seq("age", "snap"), maxStaleness = Some("5 days"))
    val uw = pruned.orderBy("customer_id").collect().toSeq
    val jf = AsOfJoin.joinFilter(spine, features, Seq("customer_id"), "event_time",
      "updated_at", Seq("age", "snap"), Some("5 days")).orderBy("customer_id").collect().toSeq
    assert(uw == jf && uw.length == 10)
    assert(uw.forall(_.getAs[String]("snap") == "snap10"))
    // the horizon is a broadcast inner join in front of the window shuffle
    val plan = pruned.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_hz"), s"no horizon prune in plan:\n$plan")
  }

  test("multi-FV maxStaleness: each FV's match past the TTL becomes null, equal to a per-FV reference") {
    // FV A: snapshots at -60d..-30d; FV B: one snapshot at -40d. With a
    // 12-day TTL the spine row at -5d loses both matches (25 and 35 days
    // old), the rows at -35d/-30d keep both, and the row at -55d keeps A's
    // -60d match while B has none yet.
    val fvA = (for { cid <- 1 to 4; d <- Seq(60, 50, 40, 30) }
      yield (cid, daysAgo(d), s"a$cid-$d")).toDF("customer_id", "ts_a", "f_a")
    val fvB = (1 to 4).map(cid => (cid, daysAgo(40), cid * 10)).toDF("customer_id", "ts_b", "f_b")
    val sp = (for { cid <- 1 to 4; d <- Seq(55, 35, 30, 5) } yield (cid, daysAgo(d), s"$cid/$d"))
      .toDF("customer_id", "event_time", "sid")
    val ttl = Some("12 days")
    val expected = AsOfJoin.joinFilter(
        AsOfJoin.joinFilter(sp, fvA, Seq("customer_id"), "event_time", "ts_a", Seq("f_a"), ttl),
        fvB, Seq("customer_id"), "event_time", "ts_b", Seq("f_b"), ttl)
      .select("sid", "f_a", "f_b").collect().sortBy(_.getString(0)).toSeq
    def multi() = AsOfJoin.joinAsOfMultiTagged(sp,
      Seq((fvA, "ts_a", Seq("f_a")), (fvB, "ts_b", Seq("f_b"))),
      Seq("customer_id"), "event_time", ttl, None)
    def rows(df: DataFrame) =
      df.select("sid", "f_a", "f_b").collect().sortBy(_.getString(0)).toSeq
    // the fixture exercises both outcomes on each FV
    assert(expected.exists(_.isNullAt(1)) && expected.exists(!_.isNullAt(1)))
    assert(expected.exists(_.isNullAt(2)) && expected.exists(!_.isNullAt(2)))
    assert(rows(multi()) == expected, "plain multi-FV TTL diverged from the per-FV reference")
    // 9 union rows per key: a threshold of 5 salts every key
    withSaltConf(5, 4) {
      val salted = multi()
      assert(salted.queryExecution.executedPlan.toString.contains("__graft_bounds"))
      assert(rows(salted) == expected, "salted multi-FV TTL diverged from the per-FV reference")
    }
  }

  test("joinAsOf over one FV and joinAsOfMulti over the same FV build the same optimized plan") {
    val single = AsOfJoin.joinAsOf(spine, features, Seq("customer_id"), "event_time",
      "updated_at", featureCols = Seq("age", "snap"))
    val multi = AsOfJoin.joinAsOfMulti(spine,
      Seq((features, "updated_at", Seq("age", "snap"))), Seq("customer_id"), "event_time")
    val (a, b) = (single.queryExecution.optimizedPlan, multi.queryExecution.optimizedPlan)
    assert(a.sameResult(b), s"plans differ:\n$a\n---\n$b")
  }
}
