package graft.pit

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded randomized equivalence: on corpora mixing NULL keys, NULL
  * timestamps, duplicate (key, ts) ties and keys present on only one side,
  * the window join — plain (default threshold) and with salting engaged —
  * and the join-filter reference, × spine-key prefilter on/off, must equal
  * an independent driver-side reference (plain Scala, no Spark) implementing the documented
  * semantics: latest fts <= sts per key, SQL equi-join NULL behavior, ties
  * broken by the greater payload value.
  */
class AsOfJoinFuzzSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` once per setting of the window join: "plain" (default
    * threshold) and "salted" — engaged (tiny threshold, full-rate
    * detection, 4 buckets): on these corpora the NULL-key populations are
    * frequently hot, so the bucketize `<=>` join's NULL-key handling is
    * genuinely exercised. */
  private def inSettings(body: String => Unit): Unit = {
    body("plain")
    val c = spark.conf
    c.set("graft.asof.salt.hotKeyThreshold", "10")
    c.set("graft.asof.salt.sampleRate", "1.0")
    c.set("graft.asof.salt.buckets", "4")
    try body("salted")
    finally {
      c.unset("graft.asof.salt.hotKeyThreshold")
      c.unset("graft.asof.salt.sampleRate")
      c.unset("graft.asof.salt.buckets")
    }
  }

  /** Runs `body` with the spine-key prefilter on (default) and off (a
    * disabled broadcast threshold, which the prefilter gates on). */
  private def inPrefilterModes(body: Boolean => Unit): Unit = {
    body(true)
    val c = spark.conf
    val prev = c.get("spark.sql.autoBroadcastJoinThreshold")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body(false) finally c.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("randomized corpora: all strategies x prefilter == driver-side reference") {
    fuzzTrials()
  }

  test("randomized multi-FV one-pass == per-FV reference (union + salted routing)") {
    val rnd = new scala.util.Random(13579L)
    for (trial <- 1 to 4) {
      val nK = 1 + rnd.nextInt(4)
      def mkFeats(n: Int) = Seq.fill(n) {
        (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(nK)),
          if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40).toLong),
          rnd.nextInt(10))
      }
      val fA = mkFeats(rnd.nextInt(60))
      val fB = mkFeats(rnd.nextInt(60))
      val spine = (0 until (1 + rnd.nextInt(40))).map { sid =>
        (sid.toLong,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(nK)),
          if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40).toLong))
      }
      def ref(feats: Seq[(Option[Int], Option[Long], Int)]): Map[Long, Option[Int]] =
        spine.map { case (sid, k, ts) =>
          sid -> (for { kv <- k; tv <- ts } yield {
            val cands = feats.collect {
              case (Some(fk), Some(ft), fv) if fk == kv && ft <= tv => (ft, fv) }
            if (cands.isEmpty) None else Some(cands.max._2)
          }).flatten
        }.toMap
      val (expA, expB) = (ref(fA), ref(fB))

      val fADf = fA.toDF("k", "ts_l", "f_a")
        .select(col("k"), timestamp_micros(col("ts_l")).as("fts_a"), col("f_a"))
      val fBDf = fB.toDF("k", "ts_l", "f_b")
        .select(col("k"), timestamp_micros(col("ts_l")).as("fts_b"), col("f_b"))
      val sDf = spine.toDF("sid", "k", "sts_l")
        .select(col("sid"), col("k"), timestamp_micros(col("sts_l")).as("sts"))

      inSettings { m =>
        val rows = AsOfJoin.joinAsOfMulti(sDf,
            Seq((fADf, "fts_a", Seq("f_a")), (fBDf, "fts_b", Seq("f_b"))),
            Seq("k"), "sts")
          .select("sid", "f_a", "f_b").collect()
        assert(rows.length == spine.length,
          s"trial $trial $m: ${rows.length} rows for ${spine.length} spine rows")
        val outA = rows.map(r =>
          r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
        val outB = rows.map(r =>
          r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
        assert(outA == expA && outB == expB,
          s"trial $trial setting=$m multi-FV diverged from per-FV reference\n" +
            s"A: ${(outA.toSet diff expA.toSet) ++ (expA.toSet diff outA.toSet)}\n" +
            s"B: ${(outB.toSet diff expB.toSet) ++ (expB.toSet diff outB.toSet)}")
      }
    }
  }

  private def fuzzTrials(): Unit = {
    val rnd = new scala.util.Random(987654321L)
    for (trial <- 1 to 6) {
      val nK = 1 + rnd.nextInt(5)
      val feats = Seq.fill(rnd.nextInt(80)) {
        (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(nK)),
          if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40).toLong),
          rnd.nextInt(10))
      }
      val spine = (0 until (1 + rnd.nextInt(50))).map { sid =>
        (sid.toLong,
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(nK)),
          if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40).toLong))
      }
      // independent reference: no Spark, no window functions
      val expected: Map[Long, Option[Int]] = spine.map { case (sid, k, ts) =>
        sid -> (for { kv <- k; tv <- ts } yield {
          val cands = feats.collect {
            case (Some(fk), Some(ft), fv) if fk == kv && ft <= tv => (ft, fv) }
          if (cands.isEmpty) None else Some(cands.max._2)
        }).flatten
      }.toMap

      val fDf = feats.toDF("k", "fts_l", "f_val")
        .select(col("k"), timestamp_micros(col("fts_l")).as("fts"), col("f_val"))
      val sDf = spine.toDF("sid", "k", "sts_l")
        .select(col("sid"), col("k"), timestamp_micros(col("sts_l")).as("sts"))

      def check(m: String, pf: Boolean, df: => org.apache.spark.sql.DataFrame): Unit = {
        val rows = df.select("sid", "f_val").collect()
        assert(rows.length == spine.length,
          s"trial $trial $m/pf=$pf: ${rows.length} rows for ${spine.length} spine rows")
        val out = rows.map(r =>
          r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
        assert(out == expected,
          s"trial $trial setting=$m prefilter=$pf diverged from reference\n" +
            s"diff: ${(out.toSet diff expected.toSet) ++ (expected.toSet diff out.toSet)}")
      }
      inPrefilterModes { pf =>
        inSettings(m => check(m, pf, AsOfJoin.joinAsOf(sDf, fDf, Seq("k"), "sts", "fts")))
        check("join-filter", pf, AsOfJoin.joinFilter(sDf, fDf, Seq("k"), "sts", "fts", Seq("f_val")))
      }
    }
  }
}
