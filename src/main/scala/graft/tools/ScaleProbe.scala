package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pit.AsOfJoin

/** Scale experiment for the as-of join: synthesize a large event-history
  * shape (default 10M feature rows × 1M spine rows over 100k keys — ~100×
  * the sf0.1 corpus) and compare the window join against the join-filter
  * reference. Evidence for the scale claims in README/SURVEY §8.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nFeatures = if (args.length > 0) args(0).toLong else 10000000L
    val nSpine = if (args.length > 1) args(1).toLong else 1000000L
    val nKeys = if (args.length > 2) args(2).toLong else 100000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // deterministic synthetic history: per key, ~nFeatures/nKeys snapshots
    val features = spark.range(nFeatures).select(
      (col("id") % nKeys).as("k"),
      timestamp_micros(col("id") * 7919L * 1361L % 86400000000L).as("fts"),
      (col("id") % 1000).cast("double").as("f_val"))
    val spine = spark.range(nSpine).select(
      col("id").as("sid"),
      (col("id") % nKeys).as("k"),
      timestamp_micros((col("id") * 104729L) % 86400000000L).as("sts"))

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
    }

    println(s"features=$nFeatures spine=$nSpine keys=$nKeys (~${nFeatures / nKeys} snapshots/key)")
    time("window") {
      AsOfJoin.joinAsOf(spine, features, Seq("k"), "sts", "fts",
        Seq("f_val")).agg(count(col("f_val"))).head.getLong(0)
    }
    time("join-filter") {
      AsOfJoin.joinFilter(spine, features, Seq("k"), "sts", "fts",
        Seq("f_val")).agg(count(col("f_val"))).head.getLong(0)
    }

    // Hot-key skew: 20% of history and spine land on ONE key. AQE cannot
    // split a window partition, so an unsalted window sorts the hot key's
    // full history in one task; at the default sizes the key clears the 2M
    // hot-key threshold and the window join salts it. The training-dataset
    // shape (spine = recent labels, history = long tail) makes the
    // maxStaleness horizon the other mitigation:
    // spine spans only the last hour, so a 1-hour TTL prunes ~92% of the
    // hot key's history BEFORE the shuffle and the straggler task shrinks
    // proportionally.
    val hot = (c: org.apache.spark.sql.Column) =>
      when(c % 5 === 0, lit(0L)).otherwise(c % nKeys)
    val hotFeatures = spark.range(nFeatures).select(
      hot(col("id")).as("k"),
      timestamp_micros(col("id") * 7919L * 1361L % 86400000000L).as("fts"),
      (col("id") % 1000).cast("double").as("f_val"))
    val hotSpine = spark.range(nSpine).select(
      col("id").as("sid"),
      hot(col("id")).as("k"),
      timestamp_micros(lit(82800000000L) + (col("id") * 104729L) % 3600000000L).as("sts"))
    time("hot20-window") {
      AsOfJoin.joinAsOf(hotSpine, hotFeatures, Seq("k"), "sts", "fts",
        Seq("f_val")).agg(count(col("f_val"))).head.getLong(0)
    }
    time("hot20-ttl-1h") {
      AsOfJoin.joinAsOf(hotSpine, hotFeatures, Seq("k"), "sts", "fts",
        Seq("f_val"), maxStaleness = Some("1 hour")).agg(count(col("f_val"))).head.getLong(0)
    }
    spark.stop()
  }
}
