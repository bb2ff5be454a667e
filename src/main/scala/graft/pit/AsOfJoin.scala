package graft.pit

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Point-in-time (as-of) join — the reference's `generate_dataset` core
  * semantic (SURVEY.md §2.B17; reference
  * integration_tests/python_tests/test_feature_store_workflows.py:153-184):
  * for each spine row, attach the feature row with the **latest feature
  * timestamp ≤ the spine timestamp**, equi-matched on the join keys; spine
  * rows with no qualifying feature row keep nulls (left join semantics).
  * Matches DuckDB `ASOF LEFT JOIN` (inclusive bound).
  *
  * Spark has no built-in as-of join. There is ONE plan, the union window,
  * for one feature view and for many; it salts hot keys on its own:
  *
  *  - **union window**: tag each feature view's rows (side=0, one packet
  *    column per view) and the spine rows (side=1), union on (keys, ts),
  *    then a single `Window.partitionBy(keys).orderBy(ts, side)` running
  *    `last(pkt, ignoreNulls=true)` per view carries the latest matching
  *    ROW (not column-by-column — NULL fields of the matched row must stay
  *    NULL) onto the next spine row. Exactly ONE shuffle of spine+features
  *    by join key for N feature views, no row blow-up regardless of fan-in
  *    (vs. the non-equi join's O(|spine_k| × |features_k|) intermediate per
  *    key). Ordering `side` after `ts` makes the bound inclusive (a feature
  *    at exactly the spine ts wins). `maxStaleness` prunes each view's
  *    history to the staleness horizon before the shuffle.
  *
  *  - **self-selected salting**: AQE's skew optimization splits skewed
  *    *join* partitions, NOT window partitions, so a hot key's whole
  *    history+spine would sort in ONE task. An eager per-key count +
  *    ts-quantile detection job over a seeded sample
  *    (`graft.asof.salt.sampleRate`, default 1%; map-side combined, one
  *    small row per sampled distinct key) flags keys whose estimated union
  *    row count exceeds `graft.asof.salt.hotKeyThreshold` (default 2M; the
  *    heaviest 1000 at most) and collects their in-key ts-range boundaries
  *    (model-scale) for literal broadcast. Hot keys' rows are
  *    range-bucketed by ts into `graft.asof.salt.buckets` (default 16)
  *    sub-partitions, the carry window runs per `(key, bucket)` — so a hot
  *    key sorts in `buckets` parallel spillable tasks instead of ONE — and
  *    a second, tiny window over the (hotKeys × buckets) bucket summaries
  *    computes each bucket's carry-in (the latest feature packet of all
  *    earlier buckets), merged with `coalesce(localCarry, carryIn)`.
  *    Correct because buckets are contiguous ts ranges: a same-bucket match
  *    is strictly later than any earlier-bucket feature, and same-ts ties
  *    always share a bucket, so the documented tie-break never crosses
  *    buckets. No hot key ⇒ the plain union-window plan with zero further
  *    overhead. Detection is EAGER (a sampled Spark job when the plan is
  *    BUILT), skipped when Catalyst stats prove the inputs too small to
  *    hold a hot key, and memoized per caller-supplied snapshot identity.
  *
  *  - **join-filter** (`joinFilter`, the test reference only): left join
  *    on keys + `fts <= sts`, keep the max `fts` per spine row via a
  *    window. Simple, but the intermediate join product explodes with deep
  *    feature history.
  *
  * Ties *within* a feature view (same key, same ts) are broken
  * deterministically by preferring the greater value of the last payload
  * column (a tie-break sort key in the window orderings, the salted
  * bucket summaries and join-filter; asserted by the randomized
  * equivalence spec). DuckDB ASOF has no defined tie-break, so oracle
  * fixtures still pre-aggregate features to unique (key, ts).
  *
  * **NULL join keys follow SQL equi-join semantics** (= DuckDB ASOF, =
  * join-filter's `===` condition): a NULL key never matches, so a
  * NULL-keyed spine row is kept with null features and NULL-keyed feature
  * history matches nothing. `Window.partitionBy` would otherwise GROUP NULL
  * keys together (SQL GROUP BY semantics), so the window plan explicitly
  * drops NULL-keyed feature rows from the union.
  */
object AsOfJoin {

  /** @param spine        left side; one output row per spine row
    * @param features     right side, with history
    * @param joinKeys     equi-join key columns (present on both sides)
    * @param spineTs      spine event-time column
    * @param featureTs    feature snapshot-time column
    * @param featureCols  feature payload columns to attach (default: all
    *                     feature columns except keys+ts)
    * @param maxStaleness optional TTL (interval string, e.g. "7 days"): a
    *                     matched feature row older than `spineTs − ttl` is
    *                     treated as no match (nulls) — the Feast-style
    *                     freshness bound; inclusive at the boundary. Applied
    *                     after the latest-≤ match, which is the freshest
    *                     candidate by definition.
    */
  def joinAsOf(
      spine: DataFrame,
      features: DataFrame,
      joinKeys: Seq[String],
      spineTs: String,
      featureTs: String,
      featureCols: Seq[String] = Seq.empty,
      maxStaleness: Option[String] = None,
      hotKeyCacheKey: Option[String] = None): DataFrame = {
    val payload =
      if (featureCols.nonEmpty) featureCols
      else features.columns.filterNot(c => joinKeys.contains(c) || c == featureTs).toSeq
    joinAsOfMultiTagged(spine, Seq((features, featureTs, payload)), joinKeys, spineTs,
      maxStaleness, hotKeyCacheKey)
  }

  /** Multi-feature-view as-of join in ONE pass: every feature table that
    * shares the spine's join keys is tagged and unioned into a single
    * window, so N feature views cost one shuffle + one sort total instead of
    * N chained joins (generateDataset uses this when FVs share keys — the
    * common case, since they hang off the same entity).
    *
    * @param features (df, featureTs, payloadCols) per feature view; payload
    *                 column names must be globally unique (validated upstream)
    */
  def joinAsOfMulti(
      spine: DataFrame,
      features: Seq[(DataFrame, String, Seq[String])],
      joinKeys: Seq[String],
      spineTs: String,
      hotKeyCacheKey: Option[String] = None): DataFrame =
    if (features.isEmpty) spine
    else joinAsOfMultiTagged(spine, features, joinKeys, spineTs, None, hotKeyCacheKey)

  /** Builds the one window plan behind [[joinAsOf]] and [[joinAsOfMulti]].
    * With `maxStaleness` set, each view's history is pruned to the
    * staleness horizon, its packet also carries the feature timestamp, and
    * a packet older than `spineTs − ttl` is nulled at the finish. */
  private[pit] def joinAsOfMultiTagged(
      spine: DataFrame,
      features0: Seq[(DataFrame, String, Seq[String])],
      joinKeys: Seq[String],
      spineTs: String,
      maxStaleness: Option[String],
      hotKeyCacheKey: Option[String]): DataFrame = {
    val P = "__graft_pkt_"
    val spineCols = spine.columns.toSeq
    val spCols = spineCols.filterNot(joinKeys.contains)
    // every feature table rides the shared window shuffle, so pruning each
    // one by the (broadcastable) spine key set shrinks the one big exchange
    val features = features0.map { case (f, fts, payload) =>
      (prefilterBySpineKeys(spine, f, joinKeys), fts, payload)
    }

    // One struct per feature view: the matched row travels wholesale (the
    // struct is non-null exactly on that FV's rows), so a NULL *inside* the
    // latest matching row stays NULL instead of being back-filled from an
    // older row — per-column carry-forward diverges from ASOF semantics.
    val pktTypes: Seq[StructType] = features.map { case (f, fts, payload) =>
      StructType(payload.map(c => StructField(c, fieldType(f, c))) ++
        maxStaleness.map(_ => StructField(FTS, fieldType(f, fts))))
    }

    // one tagged relation per feature view: its own packet, null packets elsewhere
    val taggedFeatures = features.zipWithIndex.map { case ((f0, fts, payload), i) =>
      val f = pruneToHorizon(spine, dropNullKeyed(f0, joinKeys :+ fts), spineTs, fts,
        maxStaleness)
      f.select(
        (joinKeys.map(col) ++
         Seq(col(fts).as(TS), lit(0).as(SIDE)) ++
         features.indices.map { j =>
           if (j == i) struct(payload.map(c => col(c).as(c)) ++
             maxStaleness.map(_ => col(fts).as(FTS)): _*).as(s"$P$j")
           else lit(null).cast(pktTypes(j)).as(s"$P$j")
         } ++
         spCols.map(c => lit(null).cast(fieldType(spine, c)).as(s"__sp_$c"))): _*)
    }
    val taggedSpine = spine.select(
      (joinKeys.map(col) ++
       Seq(col(spineTs).as(TS), lit(1).as(SIDE)) ++
       features.indices.map(j => lit(null).cast(pktTypes(j)).as(s"$P$j")) ++
       spCols.map(c => col(c).as(s"__sp_$c"))): _*)
    val unioned = (taggedFeatures :+ taggedSpine).reduce(_ unionByName _)

    // One tie-break key per FV: a given FV's packet is null on every other
    // relation's rows, so among same-(key,ts) rows of FV j only the j-th
    // key discriminates — each FV gets the documented greater-last-payload
    // tie-break independently.
    def tb(j: Int) = col(s"$P$j").getField(features(j)._3.last)
    val orderCols = Seq(col(TS).asc, col(SIDE).asc) ++
      features.indices.map(j => tb(j).asc_nulls_first)

    // Keep spine rows, restore spine column names, apply the staleness TTL
    // (a carried row older than spineTs − ttl is no match at all: the
    // latest-≤ match is the freshest candidate, so nothing fresher
    // exists), unpack every payload.
    def finish(carried: DataFrame): DataFrame = {
      val out = carried.filter(col(SIDE) === 1).drop(SIDE)
      val renamed = spCols.foldLeft(out)((df, c) => df.withColumnRenamed(s"__sp_$c", c))
      val unpacked = features.zipWithIndex.flatMap { case ((_, _, payload), j) =>
        val pkt = maxStaleness match {
          case Some(iv) => when(
            col(s"$P$j").getField(FTS) >= col(spineTs) - expr(s"INTERVAL $iv"), col(s"$P$j"))
          case None => col(s"$P$j")
        }
        payload.map(c => pkt.getField(c).as(c))
      }
      renamed.select((spineCols.map(col) ++ unpacked): _*)
    }

    // Bound detection from the raw sides: the packed union's width estimate
    // inflates with one struct per feature view.
    detectHotKeys(unioned, joinKeys, statsFrames = spine +: features.map(_._1),
        cacheKey = hotKeyCacheKey) match {
      case None =>
        // N feature views, still ONE shuffle + ONE sort: every last()
        // shares the same window frame.
        val w = Window.partitionBy(joinKeys.map(col): _*)
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        finish(unioned.select(
          (Seq(col(SIDE)) ++
           joinKeys.map(col) ++
           spCols.map(c => col(s"__sp_$c")) ++
           features.indices.map(j =>
             last(col(s"$P$j"), ignoreNulls = true).over(w).as(s"$P$j"))): _*))

      case Some((hotDf, numBuckets)) =>
        // Two-level salted variant of the shared window: one packet +
        // tie-break pair per FV, all riding one per-(key, bucket) sort and
        // one tiny grid window. Still one big shuffle + one detection pass
        // + one hot-rows summary pass for N feature views.
        finish(saltedCarry(unioned, hotDf, numBuckets, joinKeys,
          spCols.map(c => s"__sp_$c"),
          features.indices.map(j => (s"$P$j", tb(j)))))
    }
  }

  /** Semi-join reduction of the feature side by the spine's key set — the
    * "spine is a sample, history is the corpus" lever. The window plan
    * has no join node, so Catalyst's runtime row-level filtering can never
    * inject this itself: without it, ALL feature history shuffles by key
    * even when the spine touches 0.1% of keys. A feature row whose key is
    * absent from the spine can never match (equi-keys) and left-join
    * semantics keep every spine row regardless, so the reduction is exact.
    * Applied only when the spine's distinct-key projection is broadcastable
    * (otherwise the semi-join would itself shuffle the history it is trying
    * to spare).
    *
    * The semi-join condition is plain equi (`===`), matching the pinned
    * NULL-key semantics: a NULL-keyed feature row can never match any spine
    * row, so dropping it here is exact (`dropNullKeyed` enforces the same
    * rule when the reduction is skipped).
    */
  private def prefilterBySpineKeys(
      spine: DataFrame, features: DataFrame, joinKeys: Seq[String]): DataFrame = {
    val sk = spine.select(joinKeys.map(col): _*).distinct()
    if (isBroadcastable(sk)) {
      val f = features.as("__graft_f")
      val s = broadcast(sk.as("__graft_sk"))
      val cond = joinKeys
        .map(k => col(s"__graft_f.$k") === col(s"__graft_sk.$k"))
        .reduce(_ && _)
      f.join(s, cond, "left_semi")
    } else features
  }

  /** SQL equi-join NULL semantics for the window-based plans: a feature row
    * with any NULL join key (or NULL feature ts — `fts <= sts` is never true
    * for NULL) can never match, but `Window.partitionBy` would group NULL
    * keys with NULL-keyed spine rows (GROUP BY semantics) and a NULL ts
    * sorts FIRST under `orderBy(ts asc)` — so the window plan drops
    * those rows from the union explicitly. Pass the ts column in `cols`.
    */
  private def dropNullKeyed(features: DataFrame, cols: Seq[String]): DataFrame =
    cols.map(col(_).isNotNull).reduceOption(_ && _)
      .map(features.filter).getOrElse(features)

  /** Staleness-horizon history pruning: a feature row older than
    * `min(spineTs) − ttl` is stale for EVERY spine row (its fts is below
    * every row's own staleness bound), so it can never be a non-stale match
    * — prune it BEFORE the one big shuffle. Expressed as a broadcast 1-row
    * join so the horizon is computed as a lazy subquery stage, not a driver
    * action at plan-build time. This is also the hot-key skew mitigation:
    * the window sort of a skewed key then holds only its in-horizon history
    * instead of its full history (AQE cannot split window partitions).
    */
  private def pruneToHorizon(
      spine: DataFrame, features: DataFrame, spineTs: String, featureTs: String,
      maxStaleness: Option[String]): DataFrame = maxStaleness match {
    case Some(iv) =>
      val hz = spine.agg((min(col(spineTs)) - expr(s"INTERVAL $iv")).as("__graft_hz"))
      features.join(broadcast(hz), col(featureTs) >= col("__graft_hz"), "inner")
        .drop("__graft_hz")
    case None => features
  }

  /** Case-insensitive schema lookup: the catalog normalizes column names to
    * one case while user queries may emit another; Spark's analyzer resolves
    * `col(...)` case-insensitively but `schema(name)` does not. */
  private def fieldType(df: DataFrame, name: String): DataType =
    df.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not found among [${df.columns.mkString(", ")}]")).dataType

  private def isBroadcastable(df: DataFrame): Boolean = {
    // The conf accepts a bare byte count (possibly -1 = disabled) or a
    // size suffix; byteStringAsBytes rejects negatives, so try Long first.
    val raw = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val threshold = raw.trim.toLongOption.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    threshold > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  private val SIDE = "__graft_side"
  private val TS = "__graft_ts"
  private val FTS = "__graft_fts"
  private val BKT = "__graft_bkt"
  private val BOUNDS = "__graft_bounds"

  /** Detection keeps at most this many of the heaviest hot keys. */
  private val MaxHotKeys = 1000
  /** The stats short-circuit's bytes-per-row floor (see detectHotKeysUncached). */
  private val MinBytesPerRow = 2L

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.pit.AsOfJoin")

  /** Number of sampled hot-key detection JOBS actually submitted (test
    * hook: the enrichStream amortization spec asserts this stays flat
    * across micro-batches on an unchanged snapshot). */
  private[graft] val detectionJobs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Hot-key detection verdicts memoized per caller-supplied snapshot
    * identity (FV manifest versions + join keys — see
    * `FeatureStore.generateDataset`): `enrichStream` rebuilds the same
    * as-of plan EVERY micro-batch against the same committed feature
    * snapshot, and without the memo each batch re-pays the sampled
    * detection job. Values are the model-scale collected rows (not
    * DataFrames), so entries are session-agnostic. Invalidation is
    * structural: a refresh commits a new manifest version ⇒ a new key.
    * The spine's contribution to detection varies per batch, but reusing
    * the first batch's verdict is safe: salting any key is always correct,
    * and a missed borderline key leaves the pre-existing unsalted plan
    * (a micro-batch spine is bounded by the trigger interval anyway).
    * Every conf knob detection reads is folded into the key so a retuned
    * knob is a miss.
    * Bounded: access-order LRU capped at 256 entries — eviction drops the
    * coldest verdict only, so a long-running serving session's actively
    * reused hot entries survive cache churn (an all-or-nothing clear
    * would dump every live feature view's verdict and re-run a detection
    * job per view on the next tick).
    */
  private val hotKeyCacheCap = 256
  private val hotKeyCache: java.util.Map[String, Option[(Array[Row], StructType, Int)]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[(Array[Row], StructType, Int)]](
          64, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[(Array[Row], StructType, Int)]]): Boolean =
          size() > hotKeyCacheCap
      })
  private[graft] def clearHotKeyCache(): Unit = hotKeyCache.clear()

  /** Eager sampled hot-key detection (the one plan-build-time action;
    * same precedent as IVF's trainCentroids): per-key sampled union row
    * count + in-key ts quantiles as bucket boundaries, keys whose
    * estimated count clears the threshold only, capped at the `MaxHotKeys`
    * heaviest, collected (model-scale) for literal broadcast. Sampling
    * keeps the pass cheap (a full-rate per-key
    * percentile_approx was measured to DOUBLE the join's wall time) and is
    * safe: engagement noise around the threshold is harmless because
    * salting any key is always correct and missing a borderline key leaves
    * the pre-existing single-task plan. Collecting is what lets every
    * downstream use be a literal broadcast — a lazy hot frame made
    * Catalyst's per-branch column pruning produce five non-identical
    * copies of the base-scan subtree (measured: no ReusedExchange fired).
    * None ⇒ no hot keys ⇒ caller keeps the plain one-level plan.
    */
  private def detectHotKeys(
      unioned: DataFrame, joinKeys: Seq[String],
      statsFrames: Seq[DataFrame],
      cacheKey: Option[String]): Option[(DataFrame, Int)] = {
    def rebuild(raw: Option[(Array[Row], StructType, Int)]): Option[(DataFrame, Int)] =
      raw.map { case (rows, schema, nb) =>
        (unioned.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema), nb)
      }
    cacheKey match {
      case Some(k0) =>
        val conf = unioned.sparkSession.conf
        val k = k0 + "|" + Seq("buckets", "hotKeyThreshold", "sampleRate")
          .map(s => conf.get(s"graft.asof.salt.$s", "")).mkString(",")
        val hit = hotKeyCache.get(k)
        if (hit != null) rebuild(hit)
        else {
          val raw = detectHotKeysUncached(unioned, joinKeys, statsFrames)
          hotKeyCache.put(k, raw) // LRU-bounded: evicts coldest past the cap
          rebuild(raw)
        }
      case None => rebuild(detectHotKeysUncached(unioned, joinKeys, statsFrames))
    }
  }

  private def detectHotKeysUncached(
      unioned: DataFrame, joinKeys: Seq[String],
      statsFrames: Seq[DataFrame]): Option[(Array[Row], StructType, Int)] = {
    val conf = unioned.sparkSession.conf
    val numBuckets = conf.get("graft.asof.salt.buckets", "16").toInt
    val hotThreshold = conf.get("graft.asof.salt.hotKeyThreshold", "2000000").toLong
    val sampleRate = conf.get("graft.asof.salt.sampleRate", "0.01").toDouble
    require(numBuckets >= 2, s"graft.asof.salt.buckets must be >= 2, got $numBuckets")
    // Stats short-circuit: a hot key needs >= hotThreshold rows, so a
    // relation that provably holds fewer rows cannot contain one and the
    // sampled detection job is pure overhead (measured: the job floor
    // added ~0.6 s per DEFAULT-path as-of call at bench scale). Catalyst's
    // rowCount is used when available; otherwise sizeInBytes with a
    // conservative 2-bytes-per-row floor — a (keys, ts, payload) row
    // below 2 parquet-compressed bytes would need near-constant columns
    // INCLUDING the timestamp, which the as-of contract precludes. Any
    // production-scale input exceeds the cutoff trivially, so this only
    // fires where it should: small unions that cannot be skewed enough
    // to matter. `statsFrames` are the RAW sides: the packed union's width
    // estimate inflates with one struct per feature view, which defeated
    // the bound while the true row count (= Σ side rows) was far below the
    // threshold.
    val provablySmall = {
      val st = statsFrames.map(_.queryExecution.optimizedPlan.stats)
      val small =
        if (st.forall(_.rowCount.isDefined)) st.map(_.rowCount.get).sum < hotThreshold
        else st.map(_.sizeInBytes).sum < BigInt(hotThreshold) * MinBytesPerRow
      // diagnosable bypass: a heavily-RLE-compressed skewed corpus could
      // fall under the bytes fallback and silently skip the skew
      // mitigation — leave the evidence in the log
      if (small && log.isDebugEnabled)
        log.debug(s"hot-key detection short-circuited: ${st.size} frame(s), " +
          s"rowCounts=${st.map(_.rowCount).mkString(",")}, " +
          s"sizeInBytes=${st.map(_.sizeInBytes).mkString(",")}, " +
          s"threshold=$hotThreshold (bytes-per-row floor $MinBytesPerRow)")
      small
    }
    if (provablySmall) return None
    detectionJobs.incrementAndGet()
    val qs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val det = unioned
      .sample(withReplacement = false, sampleRate, seed = 42)
      .groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("__graft_cnt"),
        percentile_approx(col(TS).cast("double"), typedLit(qs), lit(1000)).as(BOUNDS))
      .filter(col("__graft_cnt") >= math.max(1L, math.round(hotThreshold * sampleRate)) &&
        col(BOUNDS).isNotNull)
      .orderBy(col("__graft_cnt").desc)
      .limit(MaxHotKeys)
      .select(joinKeys.map(k => col(k).as(s"__hk_$k")) :+ col(BOUNDS): _*)
    val hotRows = det.collect()
    if (hotRows.isEmpty) None
    else Some((hotRows, det.schema, numBuckets))
  }

  /** bucket = #boundaries ≤ ts's numeric image: a monotone function of ts,
    * so earlier buckets hold strictly earlier timestamps and same-ts rows
    * share a bucket. Non-hot keys (no boundaries) land in bucket 0. `<=>`
    * so a (legitimately matchless) NULL-keyed spine population can still
    * be salted rather than serializing in one task. A ts type with no
    * double image degrades to bucket 0 = the unsalted plan, still correct.
    */
  private def bucketize(hotDf: DataFrame, joinKeys: Seq[String])(
      df: DataFrame, joinType: String): DataFrame = {
    val tsd = col(TS).cast("double")
    df.join(broadcast(hotDf), joinKeys.map(k => col(k) <=> col(s"__hk_$k")).reduce(_ && _), joinType)
      .withColumn(BKT, coalesce(size(filter(col(BOUNDS), b => b <= tsd)), lit(0)))
      .drop((joinKeys.map(k => s"__hk_$k") :+ BOUNDS): _*)
  }

  /** The dense (hotKeys × numBuckets) grid, so spine-only buckets inherit
    * a carry-in too. Model-scale frame. */
  private def bucketGrid(hotDf: DataFrame, joinKeys: Seq[String], numBuckets: Int): DataFrame =
    hotDf.select(joinKeys.map(k => col(s"__hk_$k").as(k)): _*)
      .withColumn(BKT, explode(sequence(lit(0), lit(numBuckets - 1))))

  /** The two-level salted carry pipeline:
    *
    * Level 1 — bucketize the tagged union and run the carry window per
    * (keys, bucket) with the SAME ordering/tie-break as the unsalted
    * window, so a hot key sorts in numBuckets parallel spillable tasks.
    *
    * Level 2 — per-(hot key, bucket) winning packet per feature view, ONE
    * aggregation over the hot-key FEATURE rows only (inner broadcast
    * join); the max_by ordering is null-guarded per packet so other
    * FVs' rows never displace a real winner. Every
    * bucket's carry-in = the latest winner among all earlier buckets,
    * computed over the dense (hotKeys × numBuckets) grid so spine-only
    * buckets inherit one. The final coalesce(localCarry, carryIn) is exact
    * because a non-null local carry is a same-bucket feature, strictly
    * later than any earlier-bucket feature.
    *
    * @param pkts one (packetColumn, tieBreakColumn) per feature view
    * @param spCols passthrough `__sp_*` spine column names
    * @return frame with (SIDE, joinKeys, spCols, packet columns) for the
    *         caller's finishing step
    */
  private def saltedCarry(
      unioned: DataFrame,
      hotDf: DataFrame,
      numBuckets: Int,
      joinKeys: Seq[String],
      spCols: Seq[String],
      pkts: Seq[(String, Column)]): DataFrame = {
    val buckets = bucketize(hotDf, joinKeys) _
    val w1 = Window.partitionBy((joinKeys.map(col) :+ col(BKT)): _*)
      .orderBy((Seq(col(TS).asc, col(SIDE).asc) ++ pkts.map(_._2.asc_nulls_first)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = buckets(unioned, "left").select(
      (Seq(col(SIDE), col(BKT)) ++ joinKeys.map(col) ++ spCols.map(col) ++
       pkts.map { case (p, _) => last(col(p), ignoreNulls = true).over(w1).as(p) }): _*)

    val aggs = pkts.map { case (p, t) =>
      max_by(col(p), when(col(p).isNotNull, struct(col(TS), t))).as(s"__bp_$p")
    }
    val sums = buckets(unioned.filter(col(SIDE) === 0), "inner")
      .groupBy((joinKeys.map(col) :+ col(BKT)): _*)
      .agg(aggs.head, aggs.tail: _*)
    val wb = Window.partitionBy(joinKeys.map(col): _*).orderBy(col(BKT).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cins = bucketGrid(hotDf, joinKeys, numBuckets)
      .join(sums, joinKeys :+ BKT, "left")
      .select(((joinKeys.map(col) :+ col(BKT)) ++
        pkts.map { case (p, _) =>
          last(col(s"__bp_$p"), ignoreNulls = true).over(wb).as(s"__ci_$p") }): _*)
      .filter(pkts.map { case (p, _) => col(s"__ci_$p").isNotNull }.reduce(_ || _))
      .select(((joinKeys.map(k => col(k).as(s"__ci_$k")) :+ col(BKT).as("__ci_bkt")) ++
        pkts.map { case (p, _) => col(s"__ci_$p") }): _*)

    val joined = carried.join(broadcast(cins),
      joinKeys.map(k => col(k) <=> col(s"__ci_$k")).reduce(_ && _) &&
        col(BKT) === col("__ci_bkt"),
      "left")
      .drop((joinKeys.map(k => s"__ci_$k") :+ "__ci_bkt"): _*)
    pkts.foldLeft(joined) { case (df, (p, _)) =>
      df.withColumn(p, coalesce(col(p), col(s"__ci_$p"))).drop(s"__ci_$p")
    }.drop(BKT)
  }

  /** The non-equi reference the window plan is tested against: left join
    * on keys + `fts <= sts` (+ the TTL bound), then keep the max `fts` per
    * spine row, same tie-break. Its intermediate product is
    * O(|spine_k| × |features_k|) per key, so it is no production path. */
  private[graft] def joinFilter(
      spine: DataFrame,
      features: DataFrame,
      joinKeys: Seq[String],
      spineTs: String,
      featureTs: String,
      payload: Seq[String],
      maxStaleness: Option[String] = None): DataFrame = {
    val RID = "__graft_rid"
    val RN = "__graft_rn"
    val s = spine.withColumn(RID, monotonically_increasing_id())
    val f = features.select((joinKeys.map(c => col(c).as(s"__f_$c")) ++
      Seq(col(featureTs).as("__f_ts")) ++ payload.map(c => col(c).as(s"__f_$c"))): _*)
    val cond = joinKeys.map(k => s(k) === f(s"__f_$k")).reduce(_ && _) &&
      (f("__f_ts") <= s(spineTs)) &&
      maxStaleness.map(iv => f("__f_ts") >= s(spineTs) - expr(s"INTERVAL $iv"))
        .getOrElse(lit(true))
    val joined = s.join(f, cond, "left")
    // the documented tie-break: among equal fts, the greater last-payload
    // value wins row_number 1
    val w = Window.partitionBy(col(RID)).orderBy(
      col("__f_ts").desc_nulls_last,
      col(s"__f_${payload.last}").desc_nulls_last)
    joined.withColumn(RN, row_number().over(w))
      .filter(col(RN) === 1)
      .select((spine.columns.toSeq.map(col) ++
        payload.map(c => col(s"__f_$c").as(c))): _*)
  }
}
