package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one JVM runs one workload for one seed.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --cpus <n> --work <dir> --records <dir>
  *
  * A closed loop with one client: this thread issues the workload's
  * operations one after another against an in-process engine on
  * local[cpus]. The last stdout line is the result object; a run record
  * with sample counts, tail percentiles, contention probes and (traced) the
  * span dump is written under `--records`.
  */
object Main {
  /** Set-up repetitions per run; setup_s is their median. */
  val SetupReps = 3

  /** training_data: point-in-time datasets next to LLM corpus preparation —
    * read- and compute-heavy (shuffles, sorts, array lambdas). fresh_tables:
    * incremental feature-view refresh next to CDC waves on the Delta and
    * Iceberg bridges — commit- and metadata-heavy. A change to one side's
    * layers is predicted to leave the other workload flat.
    */
  val Workloads: Map[String, () => Workload] = Map(
    "training_data" -> (() => new Workload("training_data", new PitTraining, new CorpusPrep)),
    "fresh_tables" -> (() => new Workload("fresh_tables", new FvRefresh, new LakehouseCdc)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val tracing = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val records = Paths.get(opt("records")).toAbsolutePath
    val wl = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))()
    System.err.println(f"[graftbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: JVM")

    val spark = session(cpus, work)
    val exit = try {
      run(spark, wl, seed, seconds, tracing, work, records)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
    System.err.println(f"[graftbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: stopped")
    sys.exit(exit)
  }

  /** The engine's session as the benchmark runs it, after one small job. */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Int,
      tracing: Boolean, work: Path, records: Path): Unit = {
    val jvm = ManagementFactory.getRuntimeMXBean
    def phase(what: String): Unit =
      System.err.println(f"[graftbench] ${jvm.getUptime / 1e3}%.1f s: $what")
    phase("session")
    val tracer = new Tracer(spark, tracing)
    val ctx = new Ctx(spark, seed, tracer)

    // set up several times; the last set-up is the one the loop runs on.
    // The first one also pays the JVM's and Spark's cold start, which the
    // median leaves out.
    val setups = (0 until SetupReps).map { r =>
      val dir = work.resolve(s"setup-$r")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val st = wl.setup(ctx, dir)
      ((System.nanoTime() - t0) / 1e9, st, dir)
    }
    setups.init.foreach { case (_, _, dir) => Files2.deleteRecursively(dir) }
    val state = setups.last._2.asInstanceOf[wl.State]
    val setupS = setups.map(_._1)
    System.err.println(f"[graftbench] ${wl.name} setup: ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    phase("set-up")

    val probeBefore = Contention.measure(spark, records.resolveSibling("probe"))
    phase("probes")
    tracer.drain()
    val gc0 = gcSeconds()
    heapPools.foreach(_.resetPeakUsage())
    val jobs0 = tracer.global.jobs
    val tasks0 = tracer.global.tasks
    val ops0 = ctx.ops.attempted
    val loopT0 = System.nanoTime()
    val loopMs0 = System.currentTimeMillis()
    val (fsSteps, dpSteps) = wl.loop(ctx, state, seconds)
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val loopMs1 = System.currentTimeMillis()
    val gcS = gcSeconds() - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    phase("loop")
    tracer.drain()
    val engineJobs = tracer.global.jobs - jobs0
    val engineTasks = tracer.global.tasks - tasks0
    // engine-wide counters cover the loop, warm-ups included, per operation
    val loopOps = (ctx.ops.attempted - ops0).max(1L)
    wl.check(ctx, state)
    phase("checks")
    val probeAfter = Contention.measure(spark, records.resolveSibling("probe"))
    phase("probes")

    val e2e = Map("setup_s" -> Stats.median(setupS)) ++ wl.endToEnd(ctx, state)
    val engine = {
      val iv = tracer.global.synchronized(tracer.global.stageIntervals.toSeq)
        .map { case (a, b) => (math.max(a, loopMs0), math.min(b, loopMs1)) }
        .filter { case (a, b) => b > a }
      Map(
        "spark.jobs" -> engineJobs.toDouble / loopOps,
        "spark.tasks" -> engineTasks.toDouble / loopOps,
        "spark.driver_gap_s" -> math.max(0.0, loopS - Intervals.unionLength(iv) / 1e3) / loopOps,
        "jvm.gc_s" -> gcS,
        "jvm.peak_heap_mb" -> peakHeapMb)
    }
    val metrics: Map[String, Double] =
      if (tracing) Layers.compute(ctx) ++ engine else e2e
    val correct = ctx.ops.failed == 0

    val tag = s"${wl.name}-seed$seed-trace${if (tracing) 1 else 0}"
    val overhead: Map[String, Double] = if (!tracing) Map.empty else {
      // tracing overhead: this traced run against the untraced run of the
      // same workload and seed, when one was recorded in this checkout
      val plain = records.resolve(s"${wl.name}-seed$seed-trace0.json")
      if (!Files.exists(plain)) Map.empty
      else RecordReader.endToEnd(new String(Files.readAllBytes(plain), "UTF-8"))
        .collect { case (k, v) if e2e.contains(k) && v != 0 => k -> (e2e(k) / v - 1.0) }
    }
    val record = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> tracing,
      "correct" -> correct, "attempted" -> ctx.ops.attempted, "failed" -> ctx.ops.failed,
      "errors" -> ctx.ops.errors.toSeq,
      "end_to_end" -> e2e, "engine" -> engine, "loop_s" -> loopS,
      "steps" -> Map(wl.fs.name -> fsSteps, wl.dp.name -> dpSteps),
      "totals" -> ctx.totals,
      "setup_samples_s" -> setupS,
      "samples" -> ctx.ops.samples.map { case (k, v) => k -> v.toSeq },
      "rate_samples" -> ctx.rates.map { case (k, v) => k -> v.toSeq },
      "details" -> wl.details(ctx, state),
      "counts" -> ctx.counts,
      "contention" -> Map("before" -> probeBefore.asMap, "after" -> probeAfter.asMap,
        "throttled" -> Contention.throttled(probeBefore, probeAfter)),
      "tracing_overhead" -> overhead) ++
      (if (tracing) Map("per_layer" -> metrics, "spans" -> Layers.spanSummary(tracer)) else Map.empty)
    Files.createDirectories(records)
    Files.write(records.resolve(s"$tag.json"), Json.render(record).getBytes("UTF-8"))
    if (tracing) Layers.writeSpans(tracer, records.resolve(s"$tag.spans.jsonl"), tag)

    ctx.ops.errors.foreach(e => System.err.println(s"[graftbench] $e"))
    if (overhead.nonEmpty)
      System.err.println("[graftbench] tracing overhead vs untraced run: " +
        overhead.map { case (k, v) => f"$k ${v * 100}%+.1f%%" }.mkString(", "))
    // values only: run.py attaches each metric's unit from BENCHMARK.json
    val out = Map(
      "correct" -> correct,
      "attempted" -> ctx.ops.attempted,
      "failed" -> ctx.ops.failed,
      "metrics" -> metrics)
    println(Json.render(out))
  }
}

/** End-to-end metric helpers. The names are shared by both workloads; each
  * stream maps them onto its own operations (see the README).
  */
object EndToEnd {
  /** op_p50_s from a stream's operation samples and rows_per_s from its
    * per-step throughput samples, both medians.
    */
  def of(op: Seq[Double], rates: Seq[Double]): Map[String, Double] =
    Map("op_p50_s" -> Stats.median(op), "rows_per_s" -> Stats.median(rates))

  def tailDetail(ops: Ops, op: Seq[String]): Map[String, Any] = {
    val (v, p, n) = Stats.tail(op.flatMap(ops.of))
    Map("op_tail_value_s" -> v, "op_tail_percentile" -> p, "op_samples" -> n)
  }
}

/** Pulls the end_to_end map back out of a run record. */
object RecordReader {
  def endToEnd(json: String): Map[String, Double] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("end_to_end")
    if (m == null) Map.empty
    else m.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
  }
}
