package graft.storage

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import graft.storage.VersionedTable.ConcurrentCommitException

/** Commit-protocol properties of the manifest table: optimistic concurrency
  * (one loser errors, no commit silently lost), legacy-layout migration
  * (pre-manifest rows survive the first append/upsert), and write-mode
  * compatibility (no keyless rows smuggled past merge-on-read).
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_vt_spec_").toString

  private def writeSeg(rows: Seq[(Int, Int)])(dir: String): Unit =
    rows.toDF("k", "v").write.parquet(dir)

  test("two racing appends: exactly one commit per version, no lost rows or lost commits") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((0, 0))))
    // both writers read the same base version, write their segments, then
    // race the manifest flip; the CAS must let exactly one through
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await()
          try { VersionedTable.append(dir)(writeSeg(Seq((i, i)))); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val failures = outcomes.flatten
    // Either both serialized cleanly (the lock window made the second read a
    // fresh base) or one lost the race with a ConcurrentCommitException —
    // never a silently dropped commit.
    val m = VersionedTable.readManifest(dir).get
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    if (failures.isEmpty) {
      assert(m.segments.size == 3, s"both commits reported success but manifest has ${m.segments}")
      assert(rows == Set((0, 0), (1, 1), (2, 2)))
    } else {
      assert(failures.size == 1, s"both writers failed: $failures")
      assert(failures.head.isInstanceOf[ConcurrentCommitException], s"loser got ${failures.head}")
      assert(m.segments.size == 2)
      assert(rows.size == 2 && rows.contains((0, 0)))
    }
  }

  test("a commit based on a stale manifest version is refused, not silently applied") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 1))))
    // Writer A reads base v1, writes its segment, then pauses; writer B
    // commits v2 in the gap; A's flip (still expecting v1) must throw and
    // must not clobber B's commit. Latches make the interleaving exact.
    val aReadBase = new CountDownLatch(1)
    val bLanded = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    val aResult = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
      def call(): Option[Throwable] =
        try {
          VersionedTable.append(dir) { d =>
            // reaching writeSeg means A's base version is already read
            aReadBase.countDown()
            writeSeg(Seq((3, 3)))(d)
            assert(bLanded.await(60, TimeUnit.SECONDS))
          }
          None
        } catch { case e: Throwable => Some(e) }
    })
    assert(aReadBase.await(60, TimeUnit.SECONDS))
    VersionedTable.append(dir)(writeSeg(Seq((2, 2)))) // B lands v2 mid-A
    bLanded.countDown()
    val outcome = aResult.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(outcome.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"stale commit was not refused: $outcome")
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 1), (2, 2)), s"loser's flip corrupted the table: $rows")
  }

  test("first append onto a legacy plain-parquet table folds history into segment 1") {
    val dir = tmp()
    Seq((1, 10), (2, 20)).toDF("k", "v").write.mode("overwrite").parquet(dir) // legacy layout
    assert(VersionedTable.readManifest(dir).isEmpty && VersionedTable.exists(dir))
    VersionedTable.append(dir)(writeSeg(Seq((3, 30))))
    val m = VersionedTable.readManifest(dir).get
    assert(m.segments.size == 2, s"legacy rows not folded: ${m.segments}")
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 10), (2, 20), (3, 30)), s"legacy rows lost on migration: $rows")
  }

  test("first upsert onto a legacy append-shaped table is refused (would collapse dup-key rows)") {
    val dir = tmp()
    // legacy table holds two legitimate rows for k=1
    Seq((1, 10), (1, 11)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = (df, d) => df.write.parquet(d))(
        writeSeg(Seq((1, 99))))
    }
    assert(e.getMessage.contains("incompatible"))
    // and the legacy rows are still all readable (migration committed, data kept)
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 10), (1, 11)))
  }

  test("upsert over a single-segment FULL base is the initialize flow and is allowed") {
    val dir = tmp()
    VersionedTable.overwrite(dir)(writeSeg(Seq((1, 10), (2, 20))))
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = (df, d) => df.write.parquet(d))(
      writeSeg(Seq((1, 99))))
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 99), (2, 20)), s"merge-on-read over FULL base wrong: $rows")
  }

  test("append into a keyed upsert table is refused") {
    val dir = tmp()
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = (df, d) => df.write.parquet(d))(
      writeSeg(Seq((1, 1))))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(dir)(writeSeg(Seq((2, 2))))
    }
    assert(e.getMessage.contains("upsert table"))
  }

  test("upsert into an append-history table is refused") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 1))))
    VersionedTable.append(dir)(writeSeg(Seq((1, 2))))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = (df, d) => df.write.parquet(d))(
        writeSeg(Seq((1, 99))))
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("time travel: read(asOfVersion) returns each commit's view; vacuum expires old snapshots") {
    val dir = tmp()
    VersionedTable.overwrite(dir)(writeSeg(Seq((1, 10))))                    // v1
    VersionedTable.upsert(spark, dir, Seq("k"),
      compactWrite = (df, d) => df.write.parquet(d))(writeSeg(Seq((1, 20)))) // v2
    VersionedTable.upsert(spark, dir, Seq("k"),
      compactWrite = (df, d) => df.write.parquet(d))(writeSeg(Seq((2, 30)))) // v3
    def at(v: Long): Set[(Int, Int)] =
      VersionedTable.read(spark, dir, Some(v)).as[(Int, Int)].collect().toSet
    assert(at(1) == Set((1, 10)))
    assert(at(2) == Set((1, 20)))
    assert(at(3) == Set((1, 20), (2, 30)))
    assert(at(3) == VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet)
    intercept[NoSuchElementException](at(99))
    // a tight vacuum horizon expires v1's snapshot along with its segment
    VersionedTable.vacuum(dir, keepGenerations = 1)
    intercept[NoSuchElementException](at(1))
  }

  test("readChanges: insert/update/delete images; compaction emits no phantom changes") {
    val dir = tmp()
    val cw: (org.apache.spark.sql.DataFrame, String) => Unit =
      (df, d) => df.write.parquet(d)
    VersionedTable.upsert(spark, dir, Seq("k"), compactEvery = 100,
      compactWrite = cw)(writeSeg(Seq((1, 10), (2, 20), (3, 30))))          // v1
    VersionedTable.upsert(spark, dir, Seq("k"), compactEvery = 100,
      compactWrite = cw)(writeSeg(Seq((2, 21), (3, 30), (4, 40))))          // v2
    def cdf(from: Long, to: Long): Set[(Int, Int, String)] =
      VersionedTable.readChanges(spark, dir, Seq("k"), from, to)
        .as[(Int, Int, String)].collect().toSet
    // k=2 updated (pre+post), k=3 rewritten IDENTICALLY (silence), k=4 new
    assert(cdf(1, 2) == Set(
      (2, 20, "update_preimage"), (2, 21, "update_postimage"),
      (4, 40, "insert")))
    // an overwrite drops k=1: CDF reads it as a delete (plus the rest)
    VersionedTable.overwrite(dir)(writeSeg(Seq((2, 21), (3, 30), (4, 41)))) // v3
    val c23 = cdf(2, 3)
    assert(c23.contains((1, 10, "delete")))
    assert(c23.contains((4, 40, "update_preimage")) &&
      c23.contains((4, 41, "update_postimage")))
    assert(!c23.exists(r => r._1 == 2 || r._1 == 3), "unchanged keys stay silent")
    // v1 -> v3 composes: k=1 deleted, k=2/k=4 changed, k=3 silent
    assert(cdf(1, 3) == Set(
      (1, 10, "delete"),
      (2, 20, "update_preimage"), (2, 21, "update_postimage"),
      (4, 41, "insert")))
    intercept[IllegalArgumentException](cdf(2, 2))
  }

  test("replayed micro-batches are skipped: same batchId commits exactly once") {
    val dir = tmp()
    VersionedTable.append(dir, Some(0L))(writeSeg(Seq((1, 1))))
    VersionedTable.append(dir, Some(1L))(writeSeg(Seq((2, 2))))
    // checkpoint recovery replays batch 1 — the sink must not double-append
    VersionedTable.append(dir, Some(1L))(writeSeg(Seq((2, 2))))
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((1, 1), (2, 2)))
    assert(VersionedTable.readManifest(dir).get.segments.size == 2)
    // same for upsert sinks
    val dir2 = tmp()
    val cw = (df: org.apache.spark.sql.DataFrame, d: String) => df.write.parquet(d)
    VersionedTable.upsert(spark, dir2, Seq("k"), compactWrite = cw,
      batchId = Some(0L))(writeSeg(Seq((1, 10))))
    VersionedTable.upsert(spark, dir2, Seq("k"), compactWrite = cw,
      batchId = Some(0L))(writeSeg(Seq((1, 10))))
    assert(VersionedTable.readManifest(dir2).get.segments.size == 1)
    // a batch overwrite (batchId −1) clears the guard for a fresh stream
    VersionedTable.overwrite(dir)(writeSeg(Seq((9, 9))))
    VersionedTable.append(dir, Some(0L))(writeSeg(Seq((3, 3))))
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((9, 9), (3, 3)))
  }

  test("a live racer's fresh version claim refuses the commit — no silently lost commit") {
    // simulates the double-takeover hazard: another writer has atomically
    // claimed version 2 (fresh snapshot marker) but not yet flipped — a
    // committer that somehow also reached the critical section must lose at
    // the claim, not clobber the winner's flip
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 1))))
    val marker = Paths.get(dir, f"_MANIFEST-v${2L}%08d.json")
    Files.createFile(marker) // fresh, zero-byte: a claim in flight
    val e = intercept[ConcurrentCommitException] {
      VersionedTable.append(dir)(writeSeg(Seq((2, 2))))
    }
    assert(e.getMessage.contains("already claimed"), e.getMessage)
    assert(VersionedTable.readManifest(dir).get.version == 1, "flip must not have happened")
    // a zero-byte claim marker is not a committed manifest for time travel
    assert(VersionedTable.readManifestAt(dir, 2).isEmpty)
  }

  test("an orphaned version claim (crashed winner) is rolled back after the TTL") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 1))))
    val marker = Paths.get(dir, f"_MANIFEST-v${2L}%08d.json")
    Files.createFile(marker)
    Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.LockTtlMs - 1000))
    VersionedTable.append(dir)(writeSeg(Seq((2, 2)))) // must take over the claim
    assert(VersionedTable.readManifest(dir).get.version == 2)
    // the recovered version's snapshot is the real manifest, time-travelable
    assert(VersionedTable.readManifestAt(dir, 2).get.segments.size == 2)
    assert(VersionedTable.read(spark, dir).count() == 2)
  }

  test("two writers racing a STALE lock takeover: every reported success is a real commit") {
    // both writers find an abandoned lock and race the takeover itself —
    // the check-then-delete window can put both in the critical section;
    // the per-version claim must still guarantee one commit per version
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((0, 0))))
    val lock = Paths.get(dir, "_LOCK")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.LockTtlMs - 1000))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await()
          try { VersionedTable.append(dir)(writeSeg(Seq((i, i)))); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val failures = outcomes.flatten
    failures.foreach(f => assert(f.isInstanceOf[ConcurrentCommitException], s"loser got $f"))
    val successes = 2 - failures.size
    val m = VersionedTable.readManifest(dir).get
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    // the invariant that catches a lost commit in ANY interleaving: every
    // writer that reported success has its segment in the manifest and its
    // rows in the table
    assert(m.segments.size == 1 + successes,
      s"$successes successes but manifest has ${m.segments.size} segments")
    assert(rows.size == 1 + successes && rows.contains((0, 0)), rows.toString)
    assert(m.version == 1 + successes)
  }

  test("4 writers with retry-on-conflict: serialized versions, no lost rows, manifest == union") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((0, 0))))
    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val results = (1 to writers).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          var committed = 0
          var attempts = 0
          // the client contract: a ConcurrentCommitException loser re-reads
          // the fresh base and retries — eventually everyone lands
          while (committed == 0 && attempts < 20) {
            attempts += 1
            try { VersionedTable.append(dir)(writeSeg(Seq((i, i)))); committed = 1 }
            catch { case _: ConcurrentCommitException => Thread.sleep(10L * attempts) }
          }
          committed
        }
      })
    }
    start.countDown()
    val landed = results.map(_.get(120, TimeUnit.SECONDS)).sum
    pool.shutdown()
    assert(landed == writers, s"only $landed of $writers writers ever committed")
    val m = VersionedTable.readManifest(dir).get
    assert(m.version == 1 + writers, s"versions must serialize: ${m.version}")
    assert(m.segments.size == 1 + writers)
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == (0 to writers).map(i => (i, i)).toSet, rows.toString)
    // every committed version is time-travelable with a monotone segment count
    (1 to 1 + writers).foreach { v =>
      assert(VersionedTable.readManifestAt(dir, v).exists(_.segments.size == v),
        s"version $v snapshot missing or wrong")
    }
  }

  test("crashed-writer lock file is taken over after the TTL") {
    val dir = tmp()
    Files.createDirectories(Paths.get(dir))
    val lock = Paths.get(dir, "_LOCK")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - VersionedTable.LockTtlMs - 1000))
    VersionedTable.append(dir)(writeSeg(Seq((1, 1)))) // must not dead-wait
    assert(VersionedTable.read(spark, dir).count() == 1)
  }

  private def writeTsSeg(rows: Seq[(Int, String)])(dir: String): Unit =
    rows.toDF("k", "s").selectExpr("k", "CAST(s AS TIMESTAMP) AS ts").write.parquet(dir)

  private def tsStats(rows: Seq[(Int, String)]): Option[VersionedTable.SegStats] =
    VersionedTable.SegStats.of(
      rows.toDF("k", "s").selectExpr("k", "CAST(s AS TIMESTAMP) AS ts"), "ts")

  private def micros(s: String): Long =
    spark.sql(s"SELECT unix_micros(CAST('$s' AS TIMESTAMP))").head().getLong(0)

  test("segment stats skip disjoint segments; stat-less segments are conservatively kept") {
    val dir = tmp()
    val jan = Seq((1, "2024-01-10 00:00:00"), (2, "2024-01-20 00:00:00"))
    val feb = Seq((3, "2024-02-10 00:00:00"))
    val mar = Seq((4, "2024-03-05 00:00:00"), (5, "2024-03-25 00:00:00"))
    VersionedTable.append(dir, stats = tsStats(jan))(writeTsSeg(jan))
    VersionedTable.append(dir, stats = tsStats(feb))(writeTsSeg(feb))
    VersionedTable.append(dir, stats = None)(writeTsSeg(mar)) // no stats
    // stats survive the manifest JSON round-trip
    val m = VersionedTable.readManifest(dir).get
    assert(m.stats.size == 2 && m.stats.values.forall(_.col == "ts"))
    // February query: Jan segment skipped, Feb kept, stat-less Mar kept
    val (kept, skipped) = VersionedTable.segmentsInRange(
      dir, "ts", micros("2024-02-01 00:00:00"), micros("2024-02-28 00:00:00"))
    assert(kept.size == 2 && skipped.size == 1)
    // row-exact result: pruning is segment-level, the BETWEEN filter on top
    val rows = VersionedTable.readRange(spark, dir, "ts",
      micros("2024-02-01 00:00:00"), micros("2024-02-28 00:00:00"))
      .select("k").as[Int].collect().toSet
    assert(rows == Set(3))
    // a range hitting no stats-bearing segment still reads the stat-less one
    val marRows = VersionedTable.readRange(spark, dir, "ts",
      micros("2024-03-01 00:00:00"), micros("2024-03-31 00:00:00"))
      .select("k").as[Int].collect().toSet
    assert(marRows == Set(4, 5))
  }

  test("readRange on a keyed upsert table is refused (pruning would break latest-wins)") {
    val dir = tmp()
    VersionedTable.upsert(spark, dir, Seq("k"),
      compactWrite = (df, d) => df.write.parquet(d))(writeSeg(Seq((1, 1))))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readRange(spark, dir, "ts", 0L, Long.MaxValue)
    }
    assert(e.getMessage.contains("latest-wins"))
  }

  test("fuzz: deleteRange == plain filter and optimize preserves content, any segmentation") {
    val rnd = new scala.util.Random(20240814)
    val baseUs = 1700000000000000L // fixed epoch-µs origin, determinism
    (1 to 12).foreach { trial =>
      val dir = tmp()
      val nRows = 30 + rnd.nextInt(120)
      val rows = (0 until nRows).map { i =>
        (i, baseUs + rnd.nextInt(1000000) * 1000000L) // ts in a ~11.5-day window
      }
      // random segmentation; each segment randomly does or doesn't carry stats
      val shuffled = rnd.shuffle(rows)
      val nSegs = 1 + rnd.nextInt(6)
      shuffled.grouped(math.max(1, shuffled.size / nSegs)).foreach { seg =>
        val df = seg.toDF("k", "us").selectExpr("k", "timestamp_micros(us) AS ts")
        val stats = if (rnd.nextBoolean()) VersionedTable.SegStats.of(df, "ts") else None
        VersionedTable.append(dir, stats = stats)(d => df.coalesce(1).write.parquet(d))
      }
      // random delete range (sometimes empty, sometimes everything)
      val a = baseUs + rnd.nextInt(1200000) * 1000000L - 100000000000L
      val b = a + rnd.nextInt(1400000) * 1000000L
      val (kept, dropped, rewritten) = VersionedTable.deleteRange(spark, dir, "ts", a, b)
      val expected = rows.filter { case (_, us) => us < a || us > b }.map(_._1).toSet
      val got = VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet
      assert(got == expected,
        s"trial $trial: deleteRange([$a,$b]) diverged from filter " +
          s"(kept=$kept dropped=$dropped rewritten=$rewritten): " +
          s"missing=${expected -- got} extra=${got -- expected}")
      // optimize afterwards must not change content (z-ordered, any numFiles)
      VersionedTable.optimize(spark, dir, numFiles = 1 + rnd.nextInt(8),
        zorderBy = Seq("k", "ts"), statsCol = Some("ts"))
      val afterOpt = VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet
      assert(afterOpt == expected, s"trial $trial: optimize changed content")
    }
  }

  test("optimize racing a writer: one loses with an error, never a lost commit") {
    val dir = tmp()
    (1 to 4).foreach(i => VersionedTable.append(dir)(writeSeg(Seq((i, i)))))
    // optimize reads base v4, rewrites, then pauses before its flip; a
    // writer lands v5 in the gap; optimize's CAS (expecting v4) must lose
    // loudly and must not clobber the appended segment
    val optimizeReady = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    // interpose on the segment write via a slow filesystem? simpler: race
    // them for real and accept either serialization — the invariant under
    // test is "no silently lost rows", checked after both finish
    val optResult = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
      def call(): Option[Throwable] = {
        optimizeReady.countDown()
        try { VersionedTable.optimize(spark, dir, numFiles = 1); None }
        catch { case e: Throwable => Some(e) }
      }
    })
    assert(optimizeReady.await(60, TimeUnit.SECONDS))
    try VersionedTable.append(dir)(writeSeg(Seq((5, 5))))
    catch { case _: ConcurrentCommitException => // appender may be the loser
      VersionedTable.append(dir)(writeSeg(Seq((5, 5))))
    }
    val opt = optResult.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    opt.foreach(e => assert(e.isInstanceOf[ConcurrentCommitException],
      s"optimize loser must fail with the CAS error, got $e"))
    // whatever the interleaving, every appended row is still readable
    val rows = VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet
    assert(rows == Set((1, 1), (2, 2), (3, 3), (4, 4), (5, 5)),
      s"a commit was lost in the race: $rows")
  }

  test("append table tolerates additive schema evolution; read unions by name") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 10))))
    // a later segment gains a column — unionByName(allowMissingColumns)
    // must surface it as null for old segments, not corrupt positions
    VersionedTable.append(dir)(d =>
      Seq((2, 20, "x")).toDF("k", "v", "extra").write.parquet(d))
    val df = VersionedTable.read(spark, dir)
    assert(df.columns.toSet == Set("k", "v", "extra"))
    val rows = df.select("k", "v", "extra").collect()
      .map(r => (r.getInt(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1, 10, None), (2, 20, Some("x"))))
  }

  test("deleteRange: disjoint segments kept verbatim, covered dropped free, straddler rewritten") {
    val dir = tmp()
    val jan = Seq((1, "2024-01-10 00:00:00"), (2, "2024-01-20 00:00:00"))
    val feb = Seq((3, "2024-02-10 00:00:00"), (4, "2024-02-20 00:00:00"))
    val mar = Seq((5, "2024-03-05 00:00:00"), (6, "2024-03-25 00:00:00"))
    val apr = Seq((7, "2024-04-10 00:00:00"))
    Seq(jan, feb, mar, apr).foreach(s =>
      VersionedTable.append(dir, stats = tsStats(s))(writeTsSeg(s)))
    val segsBefore = VersionedTable.readManifest(dir).get.segments
    // expire [Feb 1, Mar 15]: Jan/Apr disjoint, Feb fully covered, Mar straddles
    val (kept, dropped, rewritten) = VersionedTable.deleteRange(spark, dir, "ts",
      micros("2024-02-01 00:00:00"), micros("2024-03-15 00:00:00"))
    assert((kept, dropped, rewritten) == (2, 1, 1), s"($kept, $dropped, $rewritten)")
    val m = VersionedTable.readManifest(dir).get
    // untouched segments keep their directories — zero IO on them
    assert(m.segments.contains(segsBefore.head) && m.segments.contains(segsBefore.last))
    assert(!m.segments.contains(segsBefore(1)) && !m.segments.contains(segsBefore(2)))
    assert(VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet ==
      Set(1, 2, 6, 7))
    // the rewritten straddler's stats are exact over its surviving row
    val rewrittenSeg = m.segments.filterNot(segsBefore.contains).head
    val st = m.stats(rewrittenSeg)
    assert(st.min == micros("2024-03-25 00:00:00") && st.max == st.min)
  }

  test("deleteRange that empties the table leaves a readable empty table") {
    val dir = tmp()
    val jan = Seq((1, "2024-01-10 00:00:00"))
    VersionedTable.append(dir, stats = tsStats(jan))(writeTsSeg(jan))
    VersionedTable.deleteRange(spark, dir, "ts",
      micros("2024-01-01 00:00:00"), micros("2024-12-31 00:00:00"))
    val df = VersionedTable.read(spark, dir)
    assert(df.count() == 0 && df.columns.toSeq == Seq("k", "ts"))
    // and the table keeps accepting appends
    val feb = Seq((2, "2024-02-01 00:00:00"))
    VersionedTable.append(dir, stats = tsStats(feb))(writeTsSeg(feb))
    assert(VersionedTable.read(spark, dir).count() == 1)
  }

  test("deleteRange on a keyed upsert table merges first and preserves keys") {
    val dir = tmp()
    val writeTs = (rows: Seq[(Int, String)]) => (d: String) =>
      rows.toDF("k", "s").selectExpr("k", "CAST(s AS TIMESTAMP) AS ts").write.parquet(d)
    val compact = (df: org.apache.spark.sql.DataFrame, d: String) => df.write.parquet(d)
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact)(
      writeTs(Seq((1, "2024-01-10 00:00:00"), (2, "2024-03-10 00:00:00"))))
    // k=1 superseded by a NEWER row outside the delete range — merge-on-read
    // first means the key survives (a naive per-segment delete would drop
    // the old row AND keep serving it from nowhere)
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact)(
      writeTs(Seq((1, "2024-03-20 00:00:00"))))
    VersionedTable.deleteRange(spark, dir, "ts",
      micros("2024-01-01 00:00:00"), micros("2024-01-31 00:00:00"))
    val m = VersionedTable.readManifest(dir).get
    assert(m.keys == Seq("k") && m.kind == "upsert")
    val rows = VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet
    assert(rows == Set(1, 2), s"latest k=1 row is outside the range and must survive: $rows")
    // keys preserved → upserts keep working
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact)(
      writeTs(Seq((2, "2024-04-01 00:00:00"))))
    assert(VersionedTable.read(spark, dir).count() == 2)
  }

  test("optimize compacts append segments into one, rows intact, stats refolded") {
    val dir = tmp()
    val slices = Seq(
      Seq((1, "2024-01-10 00:00:00"), (2, "2024-01-20 00:00:00")),
      Seq((3, "2024-02-10 00:00:00")),
      Seq((4, "2024-03-05 00:00:00"), (5, "2024-03-25 00:00:00")))
    slices.foreach(s => VersionedTable.append(dir, stats = tsStats(s))(writeTsSeg(s)))
    val before = VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet
    VersionedTable.optimize(spark, dir, numFiles = 2, statsCol = Some("ts"))
    val m = VersionedTable.readManifest(dir).get
    assert(m.segments.size == 1 && m.kind == "full")
    // stats refolded from the old envelopes: min of mins, max of maxes
    val st = m.stats(m.segments.head)
    assert(st.col == "ts" &&
      st.min == micros("2024-01-10 00:00:00") && st.max == micros("2024-03-25 00:00:00"))
    assert(VersionedTable.read(spark, dir).select("k").as[Int].collect().toSet == before)
    // pruning still works: an out-of-range query skips the only segment
    val (kept, skipped) = VersionedTable.segmentsInRange(
      dir, "ts", micros("2025-01-01 00:00:00"), micros("2025-12-31 00:00:00"))
    assert(kept.isEmpty && skipped.size == 1)
  }

  test("optimize preserves upsert keys and the exactly-once batch watermark") {
    val dir = tmp()
    val compact = (df: org.apache.spark.sql.DataFrame, d: String) => df.write.parquet(d)
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact,
      batchId = Some(0))(writeSeg(Seq((1, 10), (2, 20))))
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact,
      batchId = Some(1))(writeSeg(Seq((2, 21))))
    VersionedTable.optimize(spark, dir, numFiles = 1)
    val m = VersionedTable.readManifest(dir).get
    assert(m.segments.size == 1 && m.kind == "upsert" && m.keys == Seq("k") && m.batchId == 1)
    // replay of batch 1 must STILL be skipped after the optimize
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact,
      batchId = Some(1))(writeSeg(Seq((2, 99))))
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 21)))
    // and a genuinely new batch keeps upserting on the preserved keys
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = compact,
      batchId = Some(2))(writeSeg(Seq((1, 11))))
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((1, 11), (2, 21)))
  }

  test("optimize zorderBy yields multi-dimensional file pruning the append layout lacks") {
    val dir = tmp()
    // 32x32 grid landed as 16 random row-order appends: every file spans
    // the full range of both dims, so a box query reads everything
    val n = 32
    val rnd = new scala.util.Random(7)
    val cells = rnd.shuffle((0 until n).flatMap(x => (0 until n).map(y => (x, y))).toVector)
    cells.grouped(cells.size / 16).foreach { slice =>
      VersionedTable.append(dir)(d =>
        slice.toDF("x", "y").coalesce(1).write.parquet(d))
    }
    def envelopes(): Array[ZOrderLayout.Envelope] = {
      val m = VersionedTable.readManifest(dir).get
      m.segments.toArray.flatMap(s =>
        ZOrderLayout.collectEnvelopes(spark, java.nio.file.Paths.get(dir, s).toString, "x", "y"))
    }
    val (lo, hi) = (n * 7 / 16, n * 9 / 16) // central 1/8 box on both dims
    val before = envelopes()
    assert(ZOrderLayout.boxHits(before, lo, hi, lo, hi) == before.length.toLong,
      "random append layout should have zero pruning on a central box")
    VersionedTable.optimize(spark, dir, numFiles = 16, zorderBy = Seq("x", "y"), bits = 5)
    val after = envelopes()
    val hits = ZOrderLayout.boxHits(after, lo, hi, lo, hi)
    assert(after.length > 1 && hits < after.length,
      s"z-ordered layout must prune the central box: $hits of ${after.length} files hit")
    // content unchanged by the rewrite
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet == cells.toSet)
  }

  test("optimize with three z-order dims prunes a slab on ANY single dimension") {
    val dir = tmp()
    val n = 16
    val rnd = new scala.util.Random(3)
    val cells = rnd.shuffle((for {
      x <- 0 until n; y <- 0 until n; z <- 0 until n
    } yield (x, y, z)).toVector)
    cells.grouped(cells.size / 8).foreach(s =>
      VersionedTable.append(dir)(d => s.toDF("x", "y", "z").coalesce(1).write.parquet(d)))
    // 64 files over 16^3 cells = 64 codes/file = one aligned 4x4x4 subcube
    // each (±range-sampling slop); at 16 files each file spans a half-cube
    // on one axis and a central slab would hit everything
    VersionedTable.optimize(spark, dir, numFiles = 64, zorderBy = Seq("x", "y", "z"), bits = 4)
    val m = VersionedTable.readManifest(dir).get
    assert(m.segments.size == 1)
    val seg = Paths.get(dir, m.segments.head).toString
    val (lo, hi) = (n * 3L / 8, n * 5L / 8) // central 1/4 slab
    // a slab constraining ONE dim (others unconstrained) must prune files
    // on every dimension — the property a 1-dim sort only has for itself
    for ((d1, d2) <- Seq(("x", "y"), ("y", "z"), ("z", "x"))) {
      val env = ZOrderLayout.collectEnvelopes(spark, seg, d1, d2)
      val hits = ZOrderLayout.boxHits(env, lo, hi, 0L, n.toLong)
      assert(env.length > 1 && hits < env.length,
        s"slab on $d1 must prune: $hits of ${env.length} files hit")
    }
    assert(VersionedTable.read(spark, dir).as[(Int, Int, Int)].collect().toSet == cells.toSet)
  }

  test("applyChanges closure: base(v1) + readChanges(1,2) reconstructs read(v2) exactly") {
    val dir = tmp() + "/t"
    val cw: (org.apache.spark.sql.DataFrame, String) => Unit =
      (df, d) => df.write.parquet(d)
    val v1 = (0L until 200L).map(i => (i, i * 3, s"a$i")).toDF("k", "n", "s")
    VersionedTable.upsert(spark, dir, Seq("k"), compactEvery = 100,
      compactWrite = cw)(d => v1.write.parquet(d))
    // wave: update every %5 key, insert 20 new keys (upsert has no
    // delete arm — updates + inserts exercise all three change types the
    // feed can emit here)
    val wave = (0L until 200L by 5).map(i => (i, i * 7, s"b$i")) ++
      (1000L until 1020L).map(i => (i, i, s"c$i"))
    VersionedTable.upsert(spark, dir, Seq("k"), compactEvery = 100,
      compactWrite = cw)(d => wave.toDF("k", "n", "s").write.parquet(d))

    val base = VersionedTable.read(spark, dir, asOfVersion = Some(1L))
    val feed = VersionedTable.readChanges(spark, dir, Seq("k"), 1L, 2L)
    val got = VersionedTable.applyChanges(base, feed, Seq("k"))
      .as[(Long, Long, String)].collect().toSet
    val want = VersionedTable.read(spark, dir, asOfVersion = Some(2L))
      .as[(Long, Long, String)].collect().toSet
    assert(got == want)
    // an empty feed applies as identity
    val empty = feed.filter(org.apache.spark.sql.functions.lit(false))
    assert(VersionedTable.applyChanges(base, empty, Seq("k"))
      .as[(Long, Long, String)].collect().toSet ==
      base.as[(Long, Long, String)].collect().toSet)
  }

  // ---- segment schema memo ------------------------------------------------

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A read of `dir` with every segment schema already memoized submits no
    * job and equals the cold read in schema and rows. */
  private def assertWarmReadJobFree(dir: String): Unit = {
    val (cold, coldJobs) = jobsDuring(VersionedTable.read(spark, dir))
    val segs = VersionedTable.readManifest(dir).get.segments.size
    assert(coldJobs == segs, s"cold read: one inference job per segment ($segs), got $coldJobs")
    val (warm, warmJobs) = jobsDuring(VersionedTable.read(spark, dir))
    assert(warmJobs == 0, s"memo-warm read submitted $warmJobs job(s)")
    assert(warm.schema == cold.schema)
    assert(sortedRows(warm) == sortedRows(cold))
  }

  test("schema memo: warm read of a date-partitioned FULL table is job-free and equal") {
    val dir = tmp()
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime
    val rows = (0 until 12).map(i => (i % 4, new java.sql.Timestamp(t0 + i * 43200000L), i * 1.5))
    VersionedTable.overwrite(dir)(d =>
      rows.toDF("k", "ts", "f").withColumn("_graft_date", org.apache.spark.sql.functions.to_date($"ts"))
        .write.partitionBy("_graft_date").parquet(d))
    assertWarmReadJobFree(dir)
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "ts", "f", "_graft_date"))
  }

  test("schema memo: warm read of an append table with additive schema evolution") {
    val dir = tmp()
    VersionedTable.append(dir)(writeSeg(Seq((1, 10), (2, 20))))
    VersionedTable.append(dir)(d => Seq((3, 30, "x")).toDF("k", "v", "extra").write.parquet(d))
    assertWarmReadJobFree(dir)
    assert(VersionedTable.read(spark, dir).columns.toSet == Set("k", "v", "extra"))
  }

  test("schema memo: warm read of a 3-segment upsert table merges identically") {
    val dir = tmp()
    val cw: (org.apache.spark.sql.DataFrame, String) => Unit = (df, d) => df.write.parquet(d)
    VersionedTable.overwrite(dir)(writeSeg(Seq((1, 10), (2, 20), (3, 30))))
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = cw)(writeSeg(Seq((2, 21))))
    VersionedTable.upsert(spark, dir, Seq("k"), compactWrite = cw)(writeSeg(Seq((3, 32), (4, 40))))
    assert(VersionedTable.readManifest(dir).get.segments.size == 3)
    assertWarmReadJobFree(dir)
    assert(VersionedTable.read(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 21), (3, 32), (4, 40)))
  }

  test("schema memo: a legacy plain-parquet dir is re-inferred on every read") {
    val dir = tmp()
    Seq((1, 10)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "v"))
    // the dir gains a file with a new column; without mergeSchema, Spark
    // infers from the first data file by path, so name it to sort first
    val staged = tmp() + "/staged"
    Seq((2, 20, "x")).toDF("k", "v", "extra").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, "a-extra.parquet"))
    val df = VersionedTable.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v", "extra"))
    assert(df.select("k", "extra").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet == Set((1, None), (2, Some("x"))))
  }

  test("schema memo: spark.sql.parquet.binaryAsString changes the schema read") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val dir = tmp()
    // binaryAsString only applies to files without a Spark schema in their
    // footer (Spark-written files pin the type), so write the segment with
    // the plain parquet writer, as a non-Spark producer would
    VersionedTable.overwrite(dir) { d =>
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required int32 k; required binary b; }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(d, "part-00000.parquet")).withType(schema).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("k", 1).append("b", "a"))
      finally w.close()
    }
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(VersionedTable.read(spark, dir).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = VersionedTable.read(spark, dir)
      assert(asString.schema("b").dataType == StringType)
      assert(asString.select("b").head().getString(0) == "a")
      spark.conf.set(key, "false")
      assert(VersionedTable.read(spark, dir).schema("b").dataType == BinaryType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("schema memo: time travel to vacuumed segments still fails loudly") {
    val dir = tmp()
    val lo = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def seg(k: Int, t: java.sql.Timestamp)(d: String): Unit =
      Seq((k, t)).toDF("k", "ts").write.parquet(d)
    VersionedTable.append(dir)(seg(1, lo))                        // v1 [s1]
    VersionedTable.append(dir)(seg(2, hi))                        // v2 [s1 s2]
    VersionedTable.append(dir)(seg(3, hi))                        // v3 [s1 s2 s3]
    val m3 = VersionedTable.readManifest(dir).get
    assert(VersionedTable.read(spark, dir, Some(3L)).count() == 3) // memo warm
    // v4 drops s1 (no stats: conservatively rewritten away as empty)
    VersionedTable.deleteRange(spark, dir, "ts", Long.MinValue, lo.getTime * 1000L)
    assert(!VersionedTable.readManifest(dir).get.segments.contains(m3.segments.head))
    // horizon 2: s1 (unreferenced) and snapshots v1, v2 go; snapshot v3,
    // which still names s1, stays
    VersionedTable.vacuum(dir, keepGenerations = 2)
    assert(!Files.exists(Paths.get(dir, m3.segments.head)))
    intercept[NoSuchElementException](VersionedTable.read(spark, dir, Some(1L)))
    intercept[org.apache.spark.sql.AnalysisException](VersionedTable.read(spark, dir, Some(3L)))
    // a segment deleted behind the memo's back (no vacuum eviction) also
    // fails at plan time: Spark resolves the path even with a schema given
    VersionedTable.read(spark, dir).count()
    val live = Paths.get(dir, VersionedTable.readManifest(dir).get.segments.last)
    Files.walk(live).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    intercept[org.apache.spark.sql.AnalysisException](VersionedTable.read(spark, dir))
  }
}
