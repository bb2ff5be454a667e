package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.FeatureStore
import graft.model._
import graft.refresh.{RefreshManager, RefreshRun}

/** Sustained target-lag evidence for the managed-refresh plane (C1 parity,
  * BASELINE.md: "sustain 1-minute lag on events"; reference contract:
  * test_feature_store_api.py:247-264, TARGET_LAG '1 minute').
  *
  * Round-10 shape: a CELL MATRIX over sink mode × feed scale instead of the
  * single update-mode run of rounds ≤9, because the three INCREMENTAL sink
  * modes have different scale behavior and the contract must be certified
  * where it is weakest:
  *   - update   — plan-derived upsert keys, write O(changed keys)/tick;
  *   - rescued  — expression-grouped query whose keys the plan can't name,
  *     rescued to an entity-key upsert (RefreshManager.electEntityKeys);
  *     pre-rescue this cell was a complete-mode rewrite;
  *   - complete — grouping genuinely finer than the declared keys: atomic
  *     whole-table publish per tick, write O(result) — the mode whose cost
  *     GROWS with table size while the others stay O(batch).
  * Scale multiplies the feed rate and key space 10× (the streaming analog
  * of SCALEPROBE's 10× disjoint corpus). Each cell records the freshness
  * lag (wall-clock now minus newest ingest timestamp visible through the
  * committed manifest) plus the per-batch (stateRows, triggerMs) series
  * from StreamingQueryProgress; for complete cells the series slope
  * extrapolates the table size at which the batch duration saturates the
  * 3/4-lag tick — i.e. where the whole-table rewrite breaks the contract
  * regardless of scheduling.
  *
  * `within_target` records the strict dynamic-table contract (max lag ≤
  * target); the hard pass floor stays at 2× target so a transiently
  * contended sandbox can't fail the artifact outright.
  *
  * Usage:  tools/run.sh graft.LagProbe [sfDir]
  * Env:    SPARK_GRAFT_PROBE_SECS   run duration per cell (default 180)
  *         SPARK_GRAFT_PROBE_LAG    target lag            (default "1 minute")
  *         SPARK_GRAFT_FEED_SECS    feed interval         (default 10)
  *         SPARK_GRAFT_PROBE_CELLS  comma list mode:scale (default full matrix)
  *         GRAFT_PROBE_OUT          output path (default LAGPROBE_r10.json)
  */
object LagProbe {

  private final case class Cell(mode: String, scale: Int)

  private final case class CellResult(
      cell: Cell,
      elected: String,
      targetLagSec: Long,
      maxLag: Double,
      meanLag: Double,
      nBatches: Long,
      tableRows: Long,
      batchSeries: Seq[(Long, Long, Long)], // (batchId, stateRows, triggerMs)
      samples: Seq[Double]) {
    def withinTarget: Boolean = maxLag <= targetLagSec
    def pass: Boolean = maxLag < 2 * targetLagSec
    /** Table rows at which the per-tick batch duration would reach the
      * 3/4-lag tick period, from the slope of the (stateRows, triggerMs)
      * series — meaningful for complete mode, where the publish is
      * O(result); None when the series is flat or too short.
      */
    def rowsAtTickSaturation(tickMs: Long): Option[Long] = {
      val pts = batchSeries.filter(_._2 > 0)
      if (pts.size < 2) return None
      val (r0, m0) = (pts.head._2.toDouble, pts.head._3.toDouble)
      val (r1, m1) = (pts.last._2.toDouble, pts.last._3.toDouble)
      val slope = (m1 - m0) / math.max(1.0, r1 - r0) // ms per row
      if (slope <= 0) None
      else Some((r1 + (tickMs - m1) / slope).toLong)
    }
    def json(tickMs: Long): String = {
      val series = batchSeries.map { case (b, r, m) => s"[$b,$r,$m]" }.mkString("[", ",", "]")
      s"""{"mode":"${cell.mode}","scale":${cell.scale},"elected":"$elected",""" +
      s""""target_lag_sec":$targetLagSec,"max_lag_sec":${f"$maxLag%.1f"},""" +
      s""""mean_lag_sec":${f"$meanLag%.1f"},"n_batches":$nBatches,""" +
      s""""table_rows":$tableRows,"within_target":$withinTarget,"pass":$pass,""" +
      s""""batch_series":$series""" +
      rowsAtTickSaturation(tickMs).map(r => s""","rows_at_tick_saturation":$r""").getOrElse("") +
      s""","samples":[${samples.map(s => f"$s%.1f").mkString(",")}]}"""
    }
  }

  /** FV query per mode; all three aggregate per-user (the complete cell
    * adds a redundant constant-granularity grouping expression so results
    * stay comparable while the election is forced to complete).
    */
  private def queryFor(mode: String, view: String): String = mode match {
    case "update" =>
      s"""SELECT user_id, count(*) AS f_n, sum(value) AS f_sum,
         |  max(ingest_us) AS f_latest_us
         |FROM $view GROUP BY user_id""".stripMargin
    case "rescued" =>
      // alias child (`% k + 0`) is not semanticEquals to the grouping
      // expression → plan-derived keys fail → entity-key rescue
      s"""SELECT user_id % 100000000 + 0 AS user_id, count(*) AS f_n,
         |  sum(value) AS f_sum, max(ingest_us) AS f_latest_us
         |FROM $view GROUP BY user_id % 100000000""".stripMargin
    case "complete" =>
      // second grouping expression is user-determined (same granularity)
      // but makes the structural guard refuse the rescue → complete mode
      s"""SELECT user_id, count(*) AS f_n, sum(value) AS f_sum,
         |  max(ingest_us) AS f_latest_us
         |FROM $view GROUP BY user_id, user_id % 7""".stripMargin
    case other => throw new IllegalArgumentException(s"unknown probe mode $other")
  }

  private def runCell(
      spark: SparkSession,
      cell: Cell,
      runSecs: Int,
      feedSecs: Int,
      targetLag: String,
      targetLagSec: Long): CellResult = {
    val view = s"probe_src_${cell.mode}_${cell.scale}"
    val srcDir = Files.createTempDirectory(s"graft_lagprobe_src_${cell.mode}_").toString
    val fs = FeatureStore(spark,
      Files.createTempDirectory(s"graft_lagprobe_store_${cell.mode}_").toString)
    // "maintenance" cell (round 16): the declared-maintenance FV plane —
    // a funnel state table fed through startMaintenanceStream. Freshness
    // is read off max(t1_us) of the SERVED chains: every tick mints
    // previously-unseen users whose step-1 anchor is the feed instant, so
    // the served maximum tracks ingestion like f_latest_us does for the
    // SQL sinks.
    val isMaint = cell.mode == "maintenance"

    // synthetic feed over a key space that scales with the cell: 15k keys
    // and 200 rows/tick at 1×, 150k keys and 2000 rows/tick at 10× — the
    // streaming analog of SCALEPROBE's disjoint 10× corpus
    val keySpace = 15000L * cell.scale
    val rowsPerTick = 200 * cell.scale
    val rnd = new scala.util.Random(42 + cell.scale)
    val eid = new java.util.concurrent.atomic.AtomicLong(0L)
    val steps = Seq("view", "click", "purchase")
    def feed(n: Int): Unit = {
      import spark.implicits._
      val now = System.currentTimeMillis() * 1000L
      if (isMaint)
        (0 until n).map { _ =>
          (eid.getAndIncrement(), math.abs(rnd.nextLong()) % keySpace,
            steps(rnd.nextInt(3)), now)
        }.toDF("event_id", "user_id", "event_type", "us")
          .select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("us")).as("ts"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      else
        (0 until n).map { _ =>
          (math.abs(rnd.nextLong()) % keySpace, rnd.nextDouble(), now)
        }.toDF("user_id", "value", "ingest_us")
          .coalesce(1).write.mode("append").parquet(srcDir)
    }
    feed(rowsPerTick * 5 / 2) // seed so the stream has an initial batch
    spark.read.parquet(srcDir).createOrReplaceTempView(view)

    val fvName = s"fv_lag_${cell.mode}_${cell.scale}"
    fs.registerEntity(Entity("user", Seq("user_id")))
    fs.registerFeatureView(FeatureView(
      fvName, Seq(Entity("user", Seq("user_id"))),
      if (isMaint) s"SELECT event_id, user_id, event_type, ts FROM $view"
      else queryFor(cell.mode, view),
      refresh = Some(RefreshConfig(targetLag, RefreshMode.Incremental,
        InitializeMode.OnSchedule,
        maintenance =
          if (isMaint) Some(EventMaintenance.Funnel(steps, 24L * 3600 * 1000000))
          else None))), "1")
    val mgr = new RefreshManager(fs)
    val rec = fs.getFeatureView(fvName, "1")
    val schema =
      if (isMaint) org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      else org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ingest_us", org.apache.spark.sql.types.LongType)))
    val q =
      if (isMaint) mgr.startMaintenanceStream(rec, view, srcDir, schema)
      else mgr.startIncremental(rec, view, srcDir, schema)
    val elected = mgr.electedMode(rec).getOrElse("?")
    // per-batch progress exists only for streamed runs; a folded run
    // reports its last commit
    val streamed = q match { case s: RefreshRun.Streamed => Some(s.query); case _ => None }
    def lastBatch: Option[Long] = streamed.flatMap(s => Option(s.lastProgress)).map(_.batchId)

    val feeder = new Thread(() => {
      while (!Thread.currentThread().isInterrupted) {
        try { Thread.sleep(feedSecs * 1000L); feed(rowsPerTick) }
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
    }, s"lag-probe-feeder-${cell.mode}")
    feeder.setDaemon(true)
    feeder.start()

    // sample freshness lag every 5 s once the first batch has committed
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.currentTimeMillis() + runSecs * 1000L
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(5000)
      val tableMax = scala.util.Try(
        if (isMaint) mgr.serveMaintained(rec)
          .agg(max(col("t1_us"))).collect()(0).getLong(0)
        else fs.readFeatureView(fvName, "1")
          .agg(max(col("f_latest_us"))).collect()(0).getLong(0)).toOption
      tableMax.foreach { us =>
        val lag = (System.currentTimeMillis() * 1000L - us) / 1e6
        samples += lag
        System.err.println(f"[lagprobe ${cell.mode}x${cell.scale}] " +
          f"t=${samples.size * 5}%4ds lag=$lag%6.1f s " +
          f"(batches=${lastBatch.getOrElse(-1L)}, version=${q.lastCommit.map(_.version).getOrElse(-1L)})")
      }
    }
    feeder.interrupt()
    // per-batch evidence BEFORE stopping: (batchId, stateRows, triggerMs)
    val series = streamed.toSeq.flatMap(_.recentProgress).map { p =>
      val stateRows =
        if (p.stateOperators.nonEmpty) p.stateOperators.map(_.numRowsTotal).max else 0L
      (p.batchId, stateRows, Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
    }.filter(_._3 > 0)
    val nBatches = lastBatch.map(_ + 1).getOrElse(0L)
    mgr.stopAll()
    val tableRows = scala.util.Try(
      if (isMaint) mgr.serveMaintained(rec).count()
      else fs.readFeatureView(fvName, "1").count()).getOrElse(-1L)

    // the steady-state metric skips the startup window (first target-lag
    // span), where the stream is still draining the seed
    val steady = samples.drop((targetLagSec / 5).toInt)
    val use = if (steady.nonEmpty) steady.toSeq else samples.toSeq
    CellResult(cell, elected, targetLagSec,
      use.max, use.sum / use.size, nBatches, tableRows, series, use)
  }

  def main(args: Array[String]): Unit = {
    val runSecs = sys.env.getOrElse("SPARK_GRAFT_PROBE_SECS", "180").toInt
    val targetLag = sys.env.getOrElse("SPARK_GRAFT_PROBE_LAG", "1 minute")
    val feedSecs = sys.env.getOrElse("SPARK_GRAFT_FEED_SECS", "10").toInt
    val targetLagSec = targetLag.split("\\s+")(0).toLong *
      (if (targetLag.contains("minute")) 60 else 1)
    val cells = sys.env.getOrElse("SPARK_GRAFT_PROBE_CELLS",
      "update:1,update:10,rescued:10,complete:1,complete:10")
      .split(",").toSeq.map { s =>
        val Array(m, k) = s.trim.split(":"); Cell(m, k.toInt)
      }
    val out = sys.env.getOrElse("GRAFT_PROBE_OUT", "/root/repo/LAGPROBE_r10.json")

    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tickMs = targetLagSec * 1000L * 3 / 4
    val results = cells.map { c =>
      System.err.println(s"[lagprobe] === cell ${c.mode} x${c.scale} ===")
      runCell(spark, c, runSecs, feedSecs, targetLag, targetLagSec)
    }
    val allPass = results.forall(_.pass)
    val json =
      s"""{"target_lag_sec":$targetLagSec,"tick_ms":$tickMs,""" +
      s""""run_secs_per_cell":$runSecs,"all_pass":$allPass,""" +
      s""""cells":[${results.map(_.json(tickMs)).mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
