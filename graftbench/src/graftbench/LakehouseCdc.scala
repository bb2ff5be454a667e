package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.{DeltaInterop, IcebergFixtures, IcebergInterop, VersionedTable}

/** CDC waves applied to the Delta and Iceberg bridges.
  *
  * Set-up: a seeded keyed table exported to Delta (`exportSnapshot`, then a
  * metadata commit enabling the change data feed) and written as a
  * format-v2 Iceberg table (`upsertCdc` needs v2; the bridge's own export
  * writes v1), plus an append-only v1 Iceberg changelog table.
  * Loop, per wave of mostly updates skewed toward recent keys plus inserts
  * and deletes: `DeltaInterop.merge`; `IcebergInterop.upsertCdc` and the
  * wave appended to the changelog (the bridge's incremental scan refuses the
  * overwrite snapshots `upsertCdc` commits, so Iceberg consumers read changes
  * from the changelog); a full snapshot read of each format
  * (`importSnapshot`); the wave's changes from each (`readChangeFeed`,
  * `incrementalAppendScan`). Every [[MaintainEvery]] waves, from the
  * second: Delta `writeCheckpoint` + `vacuum`, Iceberg `rewriteDataFiles`
  * + `expireSnapshots`.
  *
  * op = one wave committed to both formats; rows_per_s = the wave's rows
  * through the pipeline — committed to both formats and read back from
  * both change feeds — per second of the wave's commit and change-read
  * time.
  */
final class LakehouseCdc extends Stream {
  val name = "lakehouse_cdc"

  val BaseRows = 20000L
  val WaveRows = 1000
  val UpdateShare = 0.8
  val InsertShare = 0.1
  val MaintainEvery = 2
  val minSteps = 2
  val CensusStep = 0
  val P = 2147483647L

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType), StructField("w", LongType)))
  val waveSchema = schema.add(StructField("del", BooleanType))
  val logSchema = schema.add(StructField("op", StringType))

  final class State(val delta: String, val ice: String, val changelog: String) {
    val live = mutable.LongMap.empty[(Long, Long)]
    var nextId = BaseRows
    var deltaVersion = 1L
    var waves = 0
  }

  private def baseV(seed: Long, id: Long): Long = Math.floorMod(id * 2654435761L + seed, 1000003L)

  /** Order-independent checksum of (id, v, w) rows; the same formula runs
    * in Spark and over the driver's model.
    */
  private def rowHash(id: Long, v: Long, w: Long): Long =
    Math.floorMod(Math.floorMod(id * 1000003L + v, P) * 31L + w, P)

  private def checksum(df: DataFrame): (Long, Long) = {
    val h = pmod(pmod(col("id") * lit(1000003L) + col("v"), lit(P)) * lit(31L) + col("w"), lit(P))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def modelChecksum(s: State): (Long, Long) =
    (s.live.size.toLong, s.live.iterator.map { case (id, (v, w)) => rowHash(id, v, w) }.sum)

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val seed = ctx.seed
    val base = spark.range(0, BaseRows, 1, 8).select(col("id"),
      pmod(col("id") * lit(2654435761L) + lit(seed), lit(1000003L)).as("v"), lit(0L).as("w"))
    val table = dir.resolve("table").toString
    VersionedTable.overwrite(table)(d =>
      base.repartitionByRange(8, col("id")).sortWithinPartitions("id").write.parquet(d))
    val s = new State(dir.resolve("delta").toString, dir.resolve("iceberg").toString,
      dir.resolve("changelog").toString)
    (0L until BaseRows).foreach(id => s.live(id) = (baseV(seed, id), 0L))

    ctx.span("storage.delta.export") {
      DeltaInterop.exportSnapshot(spark, table, s.delta)
      DeltaInterop.writeCommit(s.delta, 1L, adds = Nil, schemaJson = Some(schema.json),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
    }
    ctx.span("storage.iceberg.export") {
      IcebergFixtures.writeV2WithDeletes(spark, s.ice, base, "id", lit(false))
      val logTable = dir.resolve("changelog-seed").toString
      VersionedTable.overwrite(logTable)(d =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), logSchema)
          .coalesce(1).write.parquet(d))
      IcebergInterop.exportSnapshot(spark, logTable, s.changelog)
    }
    s
  }

  /** Wave `n`: distinct keys; updates and deletes drawn toward recent
    * (high) ids from the live set, inserts take fresh ids.
    */
  private def wave(seed: Long, s: State, n: Int, size: Int): Seq[(Long, Long, Long, Boolean)] = {
    val rnd = new java.util.SplittableRandom(seed * 7777777L + n)
    val chosen = mutable.HashSet.empty[Long]
    def recentLive(): Option[Long] = {
      var tries = 0
      while (tries < 50) {
        val u = rnd.nextDouble()
        val k = s.nextId - 1 - (u * u * u * s.nextId).toLong
        if (s.live.contains(k) && chosen.add(k)) return Some(k)
        tries += 1
      }
      None
    }
    val nUpd = (size * UpdateShare).toInt
    val nIns = (size * InsertShare).toInt
    val nDel = size - nUpd - nIns
    val upd = Seq.fill(nUpd)(recentLive()).flatten.map(k => (k, rnd.nextLong(1000000000L), n.toLong, false))
    val del = Seq.fill(nDel)(recentLive()).flatten.map(k => (k, 0L, n.toLong, true))
    val ins = (0 until nIns).map { _ =>
      val k = s.nextId; s.nextId += 1
      (k, rnd.nextLong(1000000000L), n.toLong, false)
    }
    upd ++ ins ++ del
  }

  /** One wave through commit, snapshot and change reads. */
  def warmUp(ctx: Ctx, s: State): Unit = apply(ctx, s, WaveRows, maintain = false)

  /** One wave: committed to both formats, both snapshots read, both change
    * feeds read; every [[MaintainEvery]]th wave the maintenance of both.
    */
  def step(ctx: Ctx, s: State, i: Int): Unit = {
    apply(ctx, s, WaveRows, maintain = i % MaintainEvery == MaintainEvery - 1)
    if (i == CensusStep) {
      ctx.counts("storage.delta.log_files") =
        Files2.countFiles(java.nio.file.Paths.get(s.delta, "_delta_log"), _ => true).toDouble
      ctx.counts("storage.iceberg.metadata_files") =
        Files2.countFiles(java.nio.file.Paths.get(s.ice, "metadata"), _ => true).toDouble
    }
  }

  private def apply(ctx: Ctx, s: State, size: Int, maintain: Boolean): Unit = {
    val spark = ctx.spark
    val n = s.waves + 1
    val rows = wave(ctx.seed, s, n, size)
    val expectedCdf = rows.map { case (k, _, _, del) =>
      if (!s.live.contains(k)) 1 else if (del) 1 else 2 }.sum.toLong
    rows.foreach { case (k, v, w, del) => if (del) s.live.remove(k) else s.live(k) = (v, w) }
    val waveDf = spark.createDataFrame(
      rows.map { case (k, v, w, d) => Row(k, v, w, d) }.asJava, waveSchema)
    val logDf = spark.createDataFrame(
      rows.map { case (k, v, w, d) => Row(k, v, w, if (d) "delete" else "upsert") }.asJava,
      logSchema)

    val version = s.deltaVersion + 1
    val logFrom = IcebergInterop.resolveRef(s.changelog, "main")
    var logTo = logFrom
    val t0 = System.nanoTime()
    ctx.op("commit") {
      ctx.span("storage.delta.merge") {
        DeltaInterop.merge(spark, s.delta, version, waveDf, Seq("id"), Some("del"))
      }
      ctx.span("storage.iceberg.upsert_cdc") {
        IcebergInterop.upsertCdc(spark, s.ice, waveDf, Seq("id"), Some("del"))
      }
      logTo = ctx.span("storage.iceberg.changelog_append") {
        IcebergInterop.appendSnapshot(spark, s.changelog, logDf)
      }
    }
    val commitS = (System.nanoTime() - t0) / 1e9
    s.deltaVersion = version
    s.waves = n
    ctx.op("snapshot_read") {
      ctx.span("storage.delta.snapshot_read") {
        ctx.consume.noop(DeltaInterop.importSnapshot(spark, s.delta), "delta snapshot",
          Some(s.live.size.toLong))
      }
      ctx.span("storage.iceberg.snapshot_read") {
        ctx.consume.noop(IcebergInterop.importSnapshot(spark, s.ice), "iceberg snapshot",
          Some(s.live.size.toLong))
      }
    }
    val t1 = System.nanoTime()
    ctx.op("change_read") {
      ctx.span("storage.delta.change_feed") {
        ctx.consume.noop(DeltaInterop.readChangeFeed(spark, s.delta, version, version),
          "delta change feed", Some(expectedCdf))
      }
      ctx.span("storage.iceberg.incremental_scan") {
        ctx.consume.noop(IcebergInterop.incrementalAppendScan(spark, s.changelog, logFrom, logTo),
          "iceberg changelog scan", Some(rows.size.toLong))
      }
    }
    ctx.rate("wave_rows", rows.size.toDouble, commitS + (System.nanoTime() - t1) / 1e9)
    if (maintain) {
      ctx.op("maintenance") {
        ctx.span("storage.delta.maintenance") {
          DeltaInterop.writeCheckpoint(spark, s.delta, s.deltaVersion)
          DeltaInterop.vacuum(spark, s.delta, retentionMs = 0L, disableRetentionCheck = true)
        }
        ctx.span("storage.iceberg.maintenance") {
          IcebergInterop.rewriteDataFiles(spark, s.ice)
          IcebergInterop.expireSnapshots(s.ice, keepLast = 2)
          IcebergInterop.expireSnapshots(s.changelog, keepLast = 2)
        }
      }
    }
  }

  def check(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    val model = modelChecksum(s)
    val d = checksum(DeltaInterop.importSnapshot(spark, s.delta))
    val i = checksum(IcebergInterop.importSnapshot(spark, s.ice).select("id", "v", "w"))
    System.err.println(s"[graftbench] lakehouse checksums model=$model delta=$d iceberg=$i")
    ctx.ops.check("lakehouse_cdc: Delta snapshot equals the last-writer-wins model") { d == model }
    ctx.ops.check("lakehouse_cdc: Iceberg snapshot equals the last-writer-wins model") { i == model }
    ctx.ops.check("lakehouse_cdc: Delta and Iceberg snapshots are equal") { d == i }
  }

  def endToEnd(ctx: Ctx, s: State): Map[String, Double] =
    EndToEnd.of(ctx.ops.of("commit"), ctx.ratesOf("wave_rows"))

  override def details(ctx: Ctx, s: State): Map[String, Any] =
    EndToEnd.tailDetail(ctx.ops, Seq("commit")) ++ Map(
      "waves" -> s.waves, "live_rows" -> s.live.size,
      "delta_version" -> s.deltaVersion)
}
