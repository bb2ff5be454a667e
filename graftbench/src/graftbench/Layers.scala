package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The machine-speed probes `graft.Bench` brackets its attempts with, taken
  * right before the loop and after the checks of every run: a fixed
  * single-threaded xorshift spin (CPU throttling) and a fixed small Spark
  * job — parquet scan, filter, shuffle aggregate — (scheduler, I/O and GC
  * contention). Each is recorded with its ratio to the host anchors
  * `graft.Bench` keeps (0.0438 s spin, 0.116 s job). The run is flagged
  * throttled when, at either end, the spin exceeds twice its anchor or the
  * Spark job three times its anchor (on the machine the bounds were set on
  * the job ran at 0.24–0.31 s in runs whose metrics sat at the median, and
  * at 0.38–0.52 s in runs 40–70 % slower).
  */
object Contention {
  final case class Probe(spinS: Double, sparkS: Double) {
    def asMap: Map[String, Double] = Map("spin_s" -> spinS, "spark_job_s" -> sparkS,
      "spin_era_ratio" -> spinS / SpinAnchorS, "spark_job_era_ratio" -> sparkS / SparkAnchorS)
  }

  val SpinIters = 30000000L
  val SpinAnchorS = 0.0438
  val SparkAnchorS = 0.116

  private def spinOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < SpinIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("calibration fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  def throttled(before: Probe, after: Probe): Boolean =
    math.max(before.spinS, after.spinS) > 2 * SpinAnchorS ||
      math.max(before.sparkS, after.sparkS) > 3 * SparkAnchorS

  /** Times both probes; the probe table is written once per checkout under
    * `dir` (it never changes), atomically, so runs share it.
    */
  def measure(spark: SparkSession, dir: Path): Probe = {
    val table = dir.resolve("t.parquet")
    if (!Files.exists(table)) {
      val tmp = dir.resolve(s"t.parquet.${java.util.UUID.randomUUID()}")
      spark.range(300000).selectExpr("id", "id % 997 as k", "id * 31 % 1001 as v")
        .repartition(8).write.parquet(tmp.toString)
      try Files.move(tmp, table, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException => Files2.deleteRecursively(tmp) } // a racer won
    }
    def sparkOnce(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(table.toString).where("v % 7 != 0")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
      (System.nanoTime() - t0) / 1e9
    }
    spinOnce()
    val spin = math.min(spinOnce(), spinOnce())
    sparkOnce()
    val sp = sparkOnce()
    Probe(spin, sp)
  }
}

/** Per-layer metrics of a traced run, folded from the spans. Each span
  * name is a module boundary the benchmark calls through; a metric reads
  * `<span>.<measure>`. Times are medians per call, job/task/byte counts
  * are means per call, task-time extremes are over all tasks of the span.
  */
object Layers {
  private val walls = Seq(
    "catalog.register", "core.generate_dataset", "core.read_fv", "core.read_fv_range",
    "core.point_lookup", "pit.asof_exec", "refresh.full", "refresh.incremental",
    "storage.expire", "storage.delta.merge", "storage.iceberg.upsert_cdc",
    "storage.iceberg.changelog_append", "storage.delta.maintenance",
    "storage.iceberg.maintenance", "storage.delta.snapshot_read",
    "storage.iceberg.snapshot_read", "storage.delta.change_feed",
    "storage.iceberg.incremental_scan", "functions.text.quality", "functions.dedup.minhash",
    "functions.similarity.ivf_index", "functions.similarity.ivf_topk")

  /** Counts a workload records into `ctx.counts` (zero where not exercised). */
  private val counted = Seq(
    "refresh.compactions", "storage.versioned.live_segments", "storage.versioned.files_live",
    "storage.versioned.bytes_written_per_user_byte", "storage.delta.log_files",
    "storage.iceberg.metadata_files", "functions.dedup.minhash.candidate_pairs",
    "functions.dedup.minhash.verified_pairs", "functions.dedup.minhash.verified_per_candidate",
    "functions.similarity.recall_at_10")

  def compute(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    // set-up work is excluded, except registration, which happens only there
    def spans(n: String) = if (n == "catalog.register") t.named(n) else t.inOps(n)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perCall(n: String)(f: Span => Double) = mean(spans(n).map(f))
    def medCall(n: String)(f: Span => Double) = med(spans(n).map(f))
    val tasksOf = (n: String) => spans(n).flatMap(_.taskSeconds)

    val wallMetrics = walls.map(w => s"$w.wall_s" -> medCall(w)(_.wallS))
    val pit = "pit.asof_exec"
    val inc = "refresh.incremental"
    val other = Seq(
      "core.generate_dataset.eager_jobs" -> perCall("core.generate_dataset")(_.jobs.toDouble),
      "core.read_fv.tasks" -> perCall("core.read_fv")(_.tasks.toDouble),
      s"$pit.shuffle_write_bytes" -> perCall(pit)(_.shuffleWriteBytes.toDouble),
      s"$pit.spill_bytes" -> perCall(pit)(_.spillBytes.toDouble),
      s"$pit.max_task_s" -> tasksOf(pit).foldLeft(0.0)(math.max),
      s"$pit.median_task_s" -> med(tasksOf(pit)),
      s"$pit.driver_gap_s" -> medCall(pit)(_.driverGapS),
      s"$inc.jobs" -> perCall(inc)(s => s.subtree.map(_.jobs).sum.toDouble),
      s"$inc.driver_gap_s" -> medCall(inc)(_.driverGapS),
      "streaming.batches" -> perCall(inc)(_.streamBatches.toDouble),
      "streaming.batch_s" -> med(spans(inc).flatMap(_.batchSeconds)),
      "storage.delta.merge.driver_gap_s" -> medCall("storage.delta.merge")(_.driverGapS),
      "storage.delta.merge.bytes_written" -> perCall("storage.delta.merge")(_.bytesWritten.toDouble),
      "storage.iceberg.upsert_cdc.driver_gap_s" -> medCall("storage.iceberg.upsert_cdc")(_.driverGapS),
      "storage.iceberg.upsert_cdc.bytes_written" ->
        perCall("storage.iceberg.upsert_cdc")(_.bytesWritten.toDouble),
      "functions.text.quality.max_task_s" -> tasksOf("functions.text.quality").foldLeft(0.0)(math.max),
      "functions.dedup.minhash.shuffle_write_bytes" ->
        perCall("functions.dedup.minhash")(_.shuffleWriteBytes.toDouble),
      "functions.similarity.ivf_topk.shuffle_read_bytes" ->
        perCall("functions.similarity.ivf_topk")(_.shuffleReadBytes.toDouble),
      // the benchmark's own share of each operation: data generation,
      // landing and model upkeep between module calls
      "bench.self_s" -> med(t.roots.toSeq.filter(_.name.startsWith("op.")).map(_.selfS)))
    val counts = counted.map(c => c -> ctx.counts.getOrElse(c, 0.0))
    (wallMetrics ++ other ++ counts).toMap
  }

  /** Per span name: calls, total wall and self seconds; and how far the
    * self times of each operation's span tree fall short of its wall time
    * (zero up to clock rounding — the spans tile the operation).
    */
  def spanSummary(t: Tracer): Map[String, Any] = {
    val byName = t.allSpans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("calls" -> ss.size, "wall_s" -> ss.map(_.wallS).sum, "self_s" -> ss.map(_.selfS).sum)
    }
    val ops = t.roots.toSeq.filter(_.name.startsWith("op."))
    val tiling = ops.map(o => o.wallS - o.subtree.map(_.selfS).sum)
    byName ++ Map("_op_wall_minus_self_sum_s" -> (if (tiling.isEmpty) 0.0 else tiling.map(math.abs).max))
  }

  def writeSpans(t: Tracer, file: Path, runId: String): Unit = {
    val lines = t.allSpans.map { s =>
      Json.render(Map(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "self_s" -> s.selfS,
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> s.spillBytes, "bytes_written" -> s.bytesWritten,
        "stream_batches" -> s.streamBatches, "driver_gap_s" -> s.driverGapS))
    }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
