package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.FeatureStore
import graft.model._
import graft.refresh.RefreshManager
import graft.storage.VersionedTable

/** Incremental refresh of managed feature views next to reads of them.
  *
  * Each tick lands one seeded batch of events into the source directory,
  * then drains the INCREMENTAL refresh (`startIncremental(availableNow)` on
  * its checkpoint) of an update-mode aggregate FV and of an append-shaped
  * timestamped FV, then reads the aggregate FV in full, looks up a sample of
  * its keys, and range-reads the append FV. Every [[ExpireEvery]] ticks a
  * retention tick expires old rows of the append FV. The upsert table
  * compacts when it reaches eight live segments, so read cost and refresh
  * cost trade: the warm-up's [[PrimeCommits]] small refresh of the
  * aggregate FV and one full tick leave it three segments, so the fifth
  * tick of every run compacts, and the reads before and after it see seven
  * and one segments. The compacting tick is the slowest refresh, so with
  * five ticks the median is that of the four others.
  *
  * op = refresh (batch landed to both commits visible); rows_per_s = source
  * rows refreshed / the tick's wall time, reads and expiry included.
  */
final class FvRefresh extends Stream {
  val name = "fv_refresh"

  val Users = 10000L
  val BatchRows = 10000
  val InitialBatches = 1
  /** Aggregate-FV commits made before the loop, one small batch each. */
  val PrimeCommits = 1
  val PrimeRows = 1000
  val minSteps = 5
  /** Tick at which the manifest census is taken (a fixed commit count). */
  val CensusTick = 0
  /** Retention ticks run at ticks 1, 1 + ExpireEvery, ... */
  val ExpireEvery = 3
  /** Event time covered by one batch, and the retention horizon in batches. */
  val TickUs: Long = 3600L * 1000000L
  val RetainTicks = 4
  val T0Us: Long = 1704067200L * 1000000L
  val LogMinAmount = 50000L
  val LookupKeys = 20

  val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("amount", LongType)))

  final class State(val fs: FeatureStore, val mgr: RefreshManager, val src: Path, val staging: Path,
      seed: Long) {
    var batches = 0
    var rowsLanded = 0L
    var expiredBeforeUs = Long.MinValue
    var expiredRows = 0L
    val compactionTicks = mutable.ArrayBuffer.empty[Int]
    var lastBatchBytes = 0L
    val lookupRnd = new java.util.SplittableRandom(seed * 31L + 7L)
    // the model every read is checked against
    val agg = mutable.HashMap.empty[Long, (Long, Long)]
    val logRows = mutable.ArrayBuffer.empty[Long] // ts of append-FV rows
  }

  /** Batch `b`: (user_id, ts micros, amount), users cubic-skewed, event
    * times inside the batch's own hour.
    */
  private def batch(seed: Long, b: Int, n: Int): Seq[(Long, Long, Long)] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + b)
    (0 until n).map { _ =>
      val u = rnd.nextDouble()
      (math.min(Users - 1, (u * u * u * Users).toLong), T0Us + b * TickUs + rnd.nextLong(TickUs),
        rnd.nextLong(100000L))
    }
  }

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Writes batch `b` as one parquet file and moves it into the source
    * directory in one rename, so a stream never lists a partial file.
    */
  private def land(ctx: Ctx, s: State, b: Int, n: Int): Unit = {
    val rows = batch(ctx.seed, b, n)
    val tmp = s.staging.resolve(s"b$b")
    ctx.spark.createDataFrame(rows.map { case (u, t, a) => Row(u, microsTs(t), a) }.asJava, schema)
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = s.src.resolve(f"batch-$b%05d.parquet")
    s.lastBatchBytes = Files.size(part)
    Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
    Files2.deleteRecursively(tmp)
    rows.foreach { case (u, t, a) =>
      val (n, sum) = s.agg.getOrElse(u, (0L, 0L))
      s.agg(u) = (n + 1, sum + a)
      if (a >= LogMinAmount) s.logRows += t
    }
    s.rowsLanded += rows.size
    s.batches += 1
  }

  private def rec(s: State, fv: String) = s.fs.getFeatureView(fv, "1")

  private def version(s: State, fv: String): Long =
    rec(s, fv).physicalPath.flatMap(VersionedTable.readManifest).map(_.version).getOrElse(0L)

  /** Drains the incremental refreshes of `fvs`; returns when every commit
    * is visible.
    */
  private def refresh(ctx: Ctx, s: State, fvs: Seq[String] = Seq("fr_agg", "fr_log")): Unit =
    fvs.foreach { fv =>
    val before = version(s, fv)
    ctx.span("refresh.incremental") {
      val q = s.mgr.startIncremental(rec(s, fv), "fr_events", s.src.toString, schema,
        availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val after = version(s, fv)
    if (after <= before) throw new IllegalStateException(s"$fv: manifest did not advance ($before)")
  }

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val src = Files.createDirectories(dir.resolve("src"))
    val staging = Files.createDirectories(dir.resolve("staging"))
    val fs = FeatureStore(spark, dir.resolve("store").toString)
    val s = new State(fs, new RefreshManager(fs), src, staging, ctx.seed)
    (0 until InitialBatches).foreach(b => land(ctx, s, b, BatchRows))
    spark.read.schema(schema).parquet(src.toString).createOrReplaceTempView("fr_events")
    val user = Entity("fr_user", Seq("user_id"))
    val inc = Some(RefreshConfig("1 minute", RefreshMode.Incremental, InitializeMode.OnSchedule))
    ctx.span("catalog.register") { fs.registerEntity(user) }
    ctx.span("catalog.register") {
      fs.registerFeatureView(FeatureView("fr_agg", Seq(user),
        "SELECT user_id, count(*) AS n_events, sum(amount) AS total_amount " +
          "FROM fr_events GROUP BY user_id", None, inc), "1")
    }
    ctx.span("catalog.register") {
      fs.registerFeatureView(FeatureView("fr_log", Seq(user),
        s"SELECT user_id, ts, amount FROM fr_events WHERE amount >= $LogMinAmount",
        Some("ts"), inc), "1")
    }
    refresh(ctx, s) // initial materialization
    s
  }

  private def census(ctx: Ctx, s: State): Unit = {
    val manifests = Seq("fr_agg", "fr_log").flatMap(fv =>
      rec(s, fv).physicalPath.flatMap(p => VersionedTable.readManifest(p).map(p -> _)))
    ctx.counts("storage.versioned.live_segments") = manifests.map(_._2.segments.size).sum.toDouble
    ctx.counts("storage.versioned.files_live") = manifests.map { case (p, m) =>
      m.segments.map(seg => Files2.countFiles(java.nio.file.Paths.get(p, seg),
        _.getFileName.toString.endsWith(".parquet"))).sum
    }.sum.toDouble
  }

  /** [[PrimeCommits]] refreshes of the aggregate FV, then one full tick,
    * in which the append FV catches up: the aggregate FV has 2 +
    * [[PrimeCommits]] live segments, and every measured tick refreshes one
    * batch.
    */
  def warmUp(ctx: Ctx, s: State): Unit = {
    (0 until PrimeCommits).foreach { _ =>
      land(ctx, s, s.batches, PrimeRows)
      refresh(ctx, s, Seq("fr_agg"))
    }
    step(ctx, s, -1)
  }

  /** One tick: land a batch, refresh, read, look up, range-read; every
    * [[ExpireEvery]]th tick a retention tick.
    */
  def step(ctx: Ctx, s: State, i: Int): Unit = {
    val t0 = System.nanoTime()
    val b = s.batches
    land(ctx, s, b, BatchRows)
    val segsBefore = segments(s, "fr_agg")
    ctx.op("refresh") { refresh(ctx, s) }
    if (segments(s, "fr_agg") < segsBefore + 1) s.compactionTicks += i
    ctx.add("rows", BatchRows.toDouble)
    ctx.add("bytes_landed", s.lastBatchBytes.toDouble)
    ctx.op("fv_read") {
      ctx.span("core.read_fv") {
        ctx.consume.noop(s.fs.readFeatureView("fr_agg", "1"), "fv_read", Some(s.agg.size.toLong))
      }
    }
    ctx.op("lookup") {
      val keys = Seq.fill(LookupKeys)(s.lookupRnd.nextLong(Users / 10)).distinct
      val got = ctx.span("core.point_lookup") {
        s.fs.readFeatureView("fr_agg", "1").filter(col("user_id").isin(keys: _*)).collect()
      }
      val want = keys.flatMap(k => s.agg.get(k).map(v => (k, v._1, v._2))).toSet
      val have = got.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("total_amount"))).toSet
      if (have != want) throw new IllegalStateException(s"point lookup: got $have want $want")
    }
    ctx.op("range") {
      val lo = T0Us + (b - 1) * TickUs
      val hi = T0Us + (b + 1) * TickUs - 1
      val want = s.logRows.count(t => t >= lo && t <= hi && t >= s.expiredBeforeUs).toLong
      ctx.span("core.read_fv_range") {
        ctx.consume.noop(s.fs.readFeatureViewRange("fr_log", "1", lo, hi), "range", Some(want))
      }
    }
    if (Math.floorMod(i, ExpireEvery) == 1) {
      val before = T0Us + (b - RetainTicks) * TickUs
      ctx.op("expire") {
        ctx.span("storage.expire") { s.fs.expireFeatureViewData("fr_log", "1", before) }
      }
      s.expiredRows += s.logRows.count(t => t >= s.expiredBeforeUs && t < before)
      s.expiredBeforeUs = math.max(s.expiredBeforeUs, before)
    }
    if (i == CensusTick) census(ctx, s)
    ctx.rate("rows", BatchRows.toDouble, (System.nanoTime() - t0) / 1e9)
  }

  private def segments(s: State, fv: String): Int =
    rec(s, fv).physicalPath.flatMap(VersionedTable.readManifest).map(_.segments.size).getOrElse(0)

  /** Order-independent checksum: row count and the sum of per-row hashes. */
  private def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def check(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    ctx.counts("refresh.compactions") = s.compactionTicks.size.toDouble
    if (ctx.tracer.enabled) {
      val written = ctx.tracer.inOps("refresh.incremental").map(_.subtree.map(_.bytesWritten).sum).sum
      ctx.counts("storage.versioned.bytes_written_per_user_byte") =
        written.toDouble / ctx.total("bytes_landed")
    }
    val landed = spark.read.schema(schema).parquet(s.src.toString)
    val aggCols = Seq("user_id", "n_events", "total_amount")
    val batchAgg = landed.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("amount").as("total_amount"))
    ctx.ops.check("fv_refresh: aggregate FV equals a batch recompute over all landed files") {
      val a = checksum(s.fs.readFeatureView("fr_agg", "1"), aggCols)
      val b = checksum(batchAgg, aggCols)
      if (a != b) System.err.println(s"[graftbench] fr_agg checksum $a vs recompute $b")
      a == b && a._1 == s.agg.size
    }
    val logCols = Seq("user_id", "ts", "amount")
    val batchLog = landed.filter(col("amount") >= LogMinAmount &&
      unix_micros(col("ts")) >= s.expiredBeforeUs)
    ctx.ops.check("fv_refresh: append FV equals a batch recompute over all landed files") {
      val a = checksum(s.fs.readFeatureView("fr_log", "1").select(logCols.map(col): _*), logCols)
      val b = checksum(batchLog, logCols)
      if (a != b) System.err.println(s"[graftbench] fr_log checksum $a vs recompute $b")
      a == b
    }
  }

  def endToEnd(ctx: Ctx, s: State): Map[String, Double] =
    EndToEnd.of(ctx.ops.of("refresh"), ctx.ratesOf("rows"))

  override def details(ctx: Ctx, s: State): Map[String, Any] =
    EndToEnd.tailDetail(ctx.ops, Seq("refresh")) ++ Map(
      "fv_read_tail" -> Stats.tail(ctx.ops.of("fv_read")).productIterator.toSeq,
      "batches" -> s.batches, "rows_landed" -> s.rowsLanded,
      // the ticks whose refresh compacted the aggregate FV, and the rows
      // the retention ticks removed from the append FV
      "compaction_ticks" -> s.compactionTicks.toSeq, "expired_rows" -> s.expiredRows)
}
