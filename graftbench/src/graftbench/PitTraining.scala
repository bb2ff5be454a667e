package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.FeatureStore
import graft.model._
import graft.refresh.RefreshManager

/** Point-in-time training datasets over managed feature views.
  *
  * Set-up: a seeded event log (cubic key skew over 8 days), one entity,
  * three timestamped FULL-mode managed feature views and one
  * non-timestamped one, materialized on registration, and one spine.
  * Each step first gives one of the projection views a FULL `refreshOnce`:
  * a new snapshot, so the step's first dataset misses the engine's
  * per-snapshot hot-key memo and runs the eager detection job. Then two
  * datasets, `generateDataset(save = false)` consumed through `noop`: a
  * quarter of the spine (the memo miss) and the whole spine (a memo hit).
  *
  * op = the step's two datasets (call to last row at the sink);
  * rows_per_s = the step's spine rows / the step's wall time, refresh
  * included.
  */
final class PitTraining extends Stream {
  val name = "pit_training"

  val Events = 50000L
  val Users = 10000L
  val SpineMax = 20000L
  val minSteps = 3
  /** Its JIT-compiled paths keep speeding up over the first steps. */
  val WarmUpSteps = 2
  val DaySpanUs: Long = 8L * 86400L * 1000000L
  val T0Us: Long = 1704067200L * 1000000L // 2024-01-01
  val CheckRows = 200
  /** Union rows per key above which the as-of join salts the key. At the
    * engine's default (2M) its statistics short-circuit skips hot-key
    * detection on inputs this size. At 20k, as at the default on inputs a
    * hundred times larger, the sampled detection job runs on every memo
    * miss and finds no key that hot (the hottest user holds about 5 % of
    * the events), so the plain union-window plan follows.
    */
  val HotKeyThreshold = 20000L

  final case class State(fs: FeatureStore, mgr: RefreshManager, events: String, spine: String,
      features: Seq[(String, String)])

  private val fvNames = Seq("pt_amount", "pt_category", "pt_hourly", "pt_profile")
  /** The FULL refreshes alternate between the two projection FVs, which
    * cost the same, so refresh latency samples come from one distribution.
    */
  private val refreshed = fvNames.take(2)

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val seed = ctx.seed
    spark.conf.set("graft.asof.salt.hotKeyThreshold", HotKeyThreshold.toString)
    val events = dir.resolve("events").toString
    spark.range(0, Events, 1, 8).select(
        Gen.cubicKey(seed, 1, col("id"), Users).as("user_id"),
        timestamp_micros(lit(T0Us) + Gen.uniformLong(seed, 2, col("id"), DaySpanUs)).as("ts"),
        Gen.uniformLong(seed, 3, col("id"), 100000L).as("amount"),
        Gen.uniformLong(seed, 4, col("id"), 10L).as("category"))
      .write.parquet(events)
    val spine = dir.resolve("spine").toString
    spark.range(0, SpineMax, 1, 4).select(
        col("id").as("spine_id"),
        Gen.cubicKey(seed, 11, col("id"), Users).as("user_id"),
        timestamp_micros(lit(T0Us) + Gen.uniformLong(seed, 12, col("id"), DaySpanUs)).as("ts"),
        Gen.uniformLong(seed, 13, col("id"), 2L).as("label"))
      .write.parquet(spine)
    spark.read.parquet(events).createOrReplaceTempView("pt_events")

    val fs = FeatureStore(spark, dir.resolve("store").toString)
    val user = Entity("pt_user", Seq("user_id"))
    val full = Some(RefreshConfig("1 day", RefreshMode.Full))
    val views = Seq(
      FeatureView(fvNames(0), Seq(user),
        "SELECT user_id, ts, amount AS f_amount FROM pt_events WHERE category < 5",
        Some("ts"), full),
      FeatureView(fvNames(1), Seq(user),
        "SELECT user_id, ts, category AS f_category, amount AS f_cat_amount " +
          "FROM pt_events WHERE category >= 5", Some("ts"), full),
      FeatureView(fvNames(2), Seq(user),
        "SELECT user_id, date_trunc('HOUR', ts) AS ts, count(*) AS f_hour_events, " +
          "sum(amount) AS f_hour_amount FROM pt_events GROUP BY user_id, date_trunc('HOUR', ts)",
        Some("ts"), full),
      FeatureView(fvNames(3), Seq(user),
        "SELECT user_id, count(*) AS f_events, max(amount) AS f_max_amount " +
          "FROM pt_events GROUP BY user_id", None, full))
    ctx.span("catalog.register") { fs.registerEntity(user) }
    views.foreach(v => ctx.span("catalog.register") { fs.registerFeatureView(v, "1") })
    State(fs, new RefreshManager(fs), events, spine, fvNames.map(_ -> "1"))
  }

  private def dataset(ctx: Ctx, s: State, rows: Long): DataFrame = {
    val spine = ctx.spark.read.parquet(s.spine).filter(col("spine_id") < rows)
    ctx.span("core.generate_dataset") {
      s.fs.generateDataset("pt_train", spine, s.features, Some("ts"), Seq("label"), save = false)
    }
  }

  /** [[WarmUpSteps]] full steps. */
  def warmUp(ctx: Ctx, s: State): Unit = (1 to WarmUpSteps).foreach(k => step(ctx, s, -k))

  /** A FULL refresh, then a quarter-spine and a whole-spine dataset. */
  def step(ctx: Ctx, s: State, i: Int): Unit = {
    val t0 = System.nanoTime()
    val fv = refreshed(Math.floorMod(i, refreshed.size))
    ctx.op("refresh") {
      ctx.span("refresh.full") { s.mgr.refreshOnce(s.fs.getFeatureView(fv, "1")) }
    }
    val detect0 = graft.pit.BenchHooks.detectionJobs
    val sizes = Seq(SpineMax / 4, SpineMax)
    ctx.op("datasets") {
      sizes.foreach { rows =>
        val ds = dataset(ctx, s, rows)
        ctx.span("pit.asof_exec") { ctx.consume.noop(ds, "dataset", Some(rows)) }
      }
    }
    ctx.add("detection_jobs", (graft.pit.BenchHooks.detectionJobs - detect0).toDouble)
    ctx.add("spine_rows", sizes.sum.toDouble)
    ctx.rate("spine_rows", sizes.sum.toDouble, (System.nanoTime() - t0) / 1e9)
  }

  def check(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    // a seeded sample of spine rows: their dataset rows against brute force
    val sampleIds = {
      val rnd = new java.util.SplittableRandom(ctx.seed * 7919L + 17L)
      Iterator.continually(rnd.nextLong(SpineMax)).distinct.take(CheckRows).toSet
    }
    val sampleSpine = spark.read.parquet(s.spine).filter(col("spine_id").isin(sampleIds.toSeq: _*))
    val gotRows = s.fs.generateDataset("pt_check", sampleSpine, s.features, Some("ts"),
      Seq("label"), save = false).collect()
    val got = gotRows.map(r => r.getAs[Long]("spine_id") -> r).toMap
    val spineRowsById = spark.read.parquet(s.spine).filter(col("spine_id").isin(sampleIds.toSeq: _*))
      .select(col("spine_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("label"))
      .collect().map(r => r.getAs[Long]("spine_id") -> r).toMap
    val users = spineRowsById.values.map(_.getAs[Long]("user_id")).toSet
    // brute force from the raw events of the sampled users
    val evByUser: Map[Long, Array[(Long, Long, Long)]] = spark.read.parquet(s.events)
      .filter(col("user_id").isin(users.toSeq: _*))
      .select(col("user_id"), unix_micros(col("ts")), col("amount"), col("category"))
      .collect().groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) }
    ctx.ops.check("pit_training: sampled spine rows present once") {
      gotRows.length == sampleIds.size && got.size == sampleIds.size &&
        spineRowsById.size == sampleIds.size
    }
    val mismatches = mutable.ArrayBuffer.empty[String]
    spineRowsById.keys.foreach { id =>
      val sp = spineRowsById(id)
      val u = sp.getAs[Long]("user_id")
      val tsUs = sp.getAs[Long]("ts_us")
      val ev = evByUser.getOrElse(u, Array.empty)
      val expect = PitTraining.bruteForce(ev, tsUs)
      val row = got.get(id)
      row.foreach { r =>
        val actual = PitTraining.FeatureCols.map(c => Option(r.getAs[Any](c)).map(_.toString))
        if (actual != expect) mismatches += s"spine_id=$id user=$u: got $actual want $expect"
        if (r.getAs[Long]("label") != sp.getAs[Long]("label")) mismatches += s"spine_id=$id: label"
      }
    }
    mismatches.take(5).foreach(m => System.err.println(s"[graftbench] pit mismatch: $m"))
    ctx.ops.check(s"pit_training: as-of features equal a brute-force lookup on $CheckRows spine rows") {
      mismatches.isEmpty
    }
  }

  def endToEnd(ctx: Ctx, s: State): Map[String, Double] =
    EndToEnd.of(ctx.ops.of("datasets"), ctx.ratesOf("spine_rows"))

  override def details(ctx: Ctx, s: State): Map[String, Any] =
    EndToEnd.tailDetail(ctx.ops, Seq("datasets")) ++ Map(
      "refresh_samples" -> ctx.ops.of("refresh").size,
      // sampled hot-key detection jobs the engine ran (memo misses that
      // found the relation large enough to look): one per step expected
      "detection_jobs" -> ctx.total("detection_jobs"))
}

object PitTraining {
  val FeatureCols = Seq("f_amount", "f_category", "f_cat_amount", "f_hour_events",
    "f_hour_amount", "f_events", "f_max_amount")

  /** The feature values a spine row at `tsUs` must receive, from the user's
    * raw events (ts micros, amount, category): the latest qualifying row
    * with ts <= tsUs per feature view, ties to the greater last payload
    * column; the non-timestamped profile over all events.
    */
  def bruteForce(ev: Array[(Long, Long, Long)], tsUs: Long): Seq[Option[String]] = {
    def latest(rows: Seq[(Long, Seq[Long])]): Option[Seq[Long]] = {
      val ok = rows.filter(_._1 <= tsUs)
      if (ok.isEmpty) None
      else Some(ok.maxBy { case (t, p) => (t, p.last) }._2)
    }
    val amount = latest(ev.toSeq.filter(_._3 < 5).map(e => (e._1, Seq(e._2))))
    val cat = latest(ev.toSeq.filter(_._3 >= 5).map(e => (e._1, Seq(e._3, e._2))))
    val hourUs = 3600L * 1000000L
    val hourly = latest(ev.toSeq.groupBy(e => Math.floorDiv(e._1, hourUs) * hourUs).toSeq
      .map { case (h, es) => (h, Seq(es.size.toLong, es.map(_._2).sum)) })
    val profile = if (ev.isEmpty) None else Some(Seq(ev.length.toLong, ev.map(_._2).max))
    def cols(o: Option[Seq[Long]], n: Int) = o.map(_.map(v => Option(v.toString)))
      .getOrElse(Seq.fill(n)(None))
    cols(amount, 1) ++ cols(cat, 2) ++ cols(hourly, 2) ++ cols(profile, 2)
  }
}
