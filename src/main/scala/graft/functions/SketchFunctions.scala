package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.expressions.{BloomFilterAgg, BloomMightContain, HeavyHittersAgg}

/** Sketch-backed aggregations for unbounded key domains.
  *
  * The built-in mergeable sketches (HLL++ cardinality, quantile summaries —
  * q61) answer "how many / how distributed"; the Misra–Gries summary here
  * answers "WHICH keys dominate" — vocabulary building, hot-key detection,
  * top-token stats over a 100 TB corpus where an exact global
  * `groupBy(token).count` would shuffle billions of distinct keys.
  *
  * Reference anchor: the reference's aggregation plane is
  * exact-SQL-delegated (dbt models over the warehouse); this is the
  * beyond-reference scale path for frequency statistics (SURVEY §8.4).
  */
object SketchFunctions {

  /** Misra–Gries heavy-hitters sketch aggregate: at most `capacity`
    * (item, est_count) counters, mergeable map-side, with the guarantee
    * est <= true <= est + N/(capacity+1). Returns
    * `array<struct<item:string, est_count:bigint>>` sorted by est desc.
    */
  def heavyHittersSketch(item: Column, capacity: Int): Column =
    GraftBridge.column(
      HeavyHittersAgg(GraftBridge.expression(item), capacity).toAggregateExpression())

  /** Bloom-filter aggregate over a string column: mergeable bitset state
    * (numBits/8 bytes), built map-side, bit-identical regardless of
    * partitioning (merge is word-wise OR). Probe the result with
    * [[bloomMightContain]] — same double-hash scheme, no false negatives.
    */
  def bloomAgg(item: Column, numBits: Long, numHashes: Int = 5): Column =
    GraftBridge.column(
      BloomFilterAgg(GraftBridge.expression(item), numBits, numHashes)
        .toAggregateExpression())

  /** Map-side membership probe against [[bloomAgg]] bytes (typically a
    * collected literal — a few MB standing in for a key set too large to
    * broadcast raw).
    */
  def bloomMightContain(bloom: Column, item: Column): Column =
    GraftBridge.column(BloomMightContain(
      GraftBridge.expression(bloom), GraftBridge.expression(item)))

  /** EXACT distributed heavy hitters — the two-pass production pattern:
    *
    *   pass 1: one map-side-combined MG sketch per group (shuffle carries
    *           one <= capacity-entry sketch per partition per group, never
    *           the item stream) + the exact group total N;
    *   pass 2: broadcast the <= capacity candidates back, exact-count ONLY
    *           those keys (partial-agg shuffle of <= capacity keys per
    *           group), keep items with  n_occurrences * denom > N.
    *
    * Because the threshold N/denom is >= the sketch's maximum undercount
    * N/(capacity+1) (enforced: denom <= capacity+1), pass 1 can only
    * over-generate candidates — so the output is EXACTLY the set of items
    * with frequency > N/denom, deterministic regardless of partitioning or
    * merge order, at two scans and two tiny shuffles.
    *
    * `items` must have one row per item occurrence (`itemCol` string),
    * plus the grouping columns.
    */
  def exactHeavyHitters(
      items: DataFrame,
      groupCols: Seq[String],
      itemCol: String,
      capacity: Int,
      denom: Int): DataFrame = {
    require(denom >= 2 && denom <= capacity + 1,
      s"threshold denom must be in [2, capacity+1] for the MG guarantee to " +
        s"cover the threshold (got denom=$denom, capacity=$capacity)")
    val g = groupCols.map(col)
    val sketchPass = items
      .groupBy(g: _*)
      .agg(
        heavyHittersSketch(col(itemCol), capacity).as("hh"),
        count(lit(1)).as("n_total"))
    val candidates = sketchPass
      .select(g ++ Seq(explode(col("hh")).as("e"), col("n_total")): _*)
      .select(g ++ Seq(col("e.item").as(itemCol), col("n_total")): _*)
    items
      .join(broadcast(candidates), groupCols :+ itemCol)
      .groupBy(g ++ Seq(col(itemCol), col("n_total")): _*)
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * denom > col("n_total"))
      .select(g ++ Seq(col(itemCol), col("n_occurrences"), col("n_total")): _*)
  }

  // ---------------------------------------------------------------------
  // Deterministic HyperLogLog (Flajolet et al. 2007) — the distinct-count
  // sketch with a BIT-REPRODUCIBLE contract, unlike the built-in
  // approx_count_distinct whose HLL++ register layout is opaque to any
  // oracle. Hash = xxhash64(value-as-string) (seed 42, the engine-wide
  // hash); bucket = top p bits; rho = leading-zero rank of the low
  // (64−p) bits, computed by STRING length of the minimal binary form —
  // exact in any engine, no float log2 anywhere. The register table
  // (bucket, max rho) IS the sketch: merging two sketches is max per
  // bucket (Spark's map-side combine does it for free), and the raw
  // estimator restates in integer arithmetic: with
  // T = Σ_buckets 2^((64−p+1) − M_j)  (empty bucket ⇒ M_j = 0),
  // E = α·m²·2^(64−p+1) / T, emitted in micros by one truncating
  // division of exact integers (DECIMAL(38,0) here ≡ HUGEINT in DuckDB).
  // ---------------------------------------------------------------------

  /** Per-row (bucket, rho) columns for a deterministic HLL over
    * `xxhash64(value)`: bucket = top `p` hash bits, rho = position of the
    * first 1-bit in the remaining 64−p bits (1-based; all-zero ⇒ 64−p+1).
    */
  def hllRho(value: Column, p: Int): (Column, Column) = {
    require(p >= 4 && p <= 16, s"hll precision p in [4,16], got $p")
    val width = 64 - p
    val h = xxhash64(value.cast("string"))
    val bucket = shiftrightunsigned(h, width)
    val w = h.bitwiseAND(lit((1L << width) - 1))
    // bin() strips leading zeros (bin(0) = "0" — normalized by ltrim), so
    // length(ltrim(bin(w),'0')) = bit length and rho = width+1 − bitlen.
    val rho = (lit(width + 1) - length(ltrim(bin(w), "0"))).cast("long")
    (bucket, rho)
  }

  /** HLL register table over (optional extra keys ×) buckets: one row per
    * observed (keys, bucket) with `m` = max rho. Raw rows in, no distinct
    * needed — duplicates collapse in the max, map-side. Union-merging two
    * sketches = `groupBy(bucket).agg(max(m))` over their concatenation.
    */
  def hllBuckets(df: DataFrame, value: Column, p: Int,
      keyNames: Seq[String] = Nil): DataFrame = {
    val (bucket, rho) = hllRho(value, p)
    df.select((keyNames.map(col) :+ bucket.as("bucket") :+ rho.as("rho")): _*)
      .groupBy((keyNames.map(col) :+ col("bucket")): _*)
      .agg(max(col("rho")).as("m"))
  }

  /** Raw HLL estimate from a register table (single sketch, all `m` rows):
    * one row `(n_buckets_nonzero, n_zero, t_str, est6)` where `t_str` is
    * the exact scaled harmonic-sum integer T (decimal string; > 2⁶³, so
    * never a BIGINT column) and `est6` the estimate in micros —
    * `(α6·m²·2^(width+1)) div T`, truncating integer division. `alpha6` is
    * the spec-pinned round(α_m·10⁶) (for m=256: 718273).
    */
  def hllEstimate(buckets: DataFrame, p: Int, alpha6: Long): DataFrame = {
    val m = 1L << p
    val width = 64 - p
    val pow2w1 = BigInt(1) << (width + 1)
    val num = (BigInt(alpha6) * BigInt(m) * BigInt(m) * pow2w1).toString
    val agg = buckets.agg(
      count(lit(1)).as("nb"),
      coalesce(sum(expr(s"cast(pow(2.0, ${width + 1} - m) as decimal(38,0))")),
        expr("cast(0 as decimal(38,0))")).as("s_ne"))
    agg.select(
      col("nb").cast("long").as("n_buckets_nonzero"),
      (lit(m) - col("nb")).cast("long").as("n_zero"),
      (col("s_ne") + (lit(m) - col("nb")).cast("decimal(38,0)") *
        lit(new java.math.BigDecimal(pow2w1.toString()))).as("t"))
      .select(col("n_buckets_nonzero"), col("n_zero"),
        col("t").cast("string").as("t_str"),
        expr(s"cast(cast('$num' as decimal(38,0)) div t as bigint)").as("est6"))
  }

  /** Incrementally maintain an HLL register table across ingest waves —
    * the streaming-cardinality shape (the q50 incremental-MinHash
    * pattern): registers live in a keyed [[graft.storage.VersionedTable]]
    * at `path`; each wave's registers max-merge into exactly the touched
    * buckets (≤ 2^p upserted rows per wave, never a corpus re-read), and
    * because HLL union IS per-bucket max, the maintained table equals the
    * batch sketch of everything ingested so far — the parity q187 pins
    * with q173's oracle verbatim.
    */
  def hllMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      wave: DataFrame, value: Column, p: Int): Unit = {
    val waveRegs = hllBuckets(wave, value, p)
    val existing: Option[DataFrame] =
      if (graft.storage.VersionedTable.readManifest(path).isDefined)
        Some(graft.storage.VersionedTable.read(spark, path))
      else None
    val merged = existing match {
      case None => waveRegs
      case Some(cur) => waveRegs
        .join(cur.select(col("bucket"), col("m").as("__old")), Seq("bucket"), "left")
        .select(col("bucket"),
          greatest(col("m"), coalesce(col("__old"), lit(0L))).as("m"))
    }
    val cw: (DataFrame, String) => Unit = (df, d) => df.write.parquet(d)
    graft.storage.VersionedTable.upsert(spark, path, Seq("bucket"),
      compactWrite = cw)(d => merged.write.parquet(d))
    ()
  }

  /** Per-key [[hllEstimate]]: one row per key group with the same
    * exact-integer estimator — the realistic shape ("distinct users per
    * domain" over a 100 TB corpus: registers stay ≤ keys·m rows, the
    * final arithmetic is a keys-scale aggregation).
    */
  def hllEstimateByKey(buckets: DataFrame, p: Int, alpha6: Long,
      keyNames: Seq[String]): DataFrame = {
    require(keyNames.nonEmpty, "use hllEstimate for the keyless form")
    val m = 1L << p
    val width = 64 - p
    val pow2w1 = BigInt(1) << (width + 1)
    val num = (BigInt(alpha6) * BigInt(m) * BigInt(m) * pow2w1).toString
    buckets.groupBy(keyNames.map(col): _*)
      .agg(
        count(lit(1)).as("nb"),
        coalesce(sum(expr(s"cast(pow(2.0, ${width + 1} - m) as decimal(38,0))")),
          expr("cast(0 as decimal(38,0))")).as("s_ne"))
      .select((keyNames.map(col) :+
        col("nb").cast("long").as("n_buckets_nonzero") :+
        (lit(m) - col("nb")).cast("long").as("n_zero") :+
        (col("s_ne") + (lit(m) - col("nb")).cast("decimal(38,0)") *
          lit(new java.math.BigDecimal(pow2w1.toString()))).as("t")): _*)
      .select((keyNames.map(col) :+ col("n_buckets_nonzero") :+ col("n_zero") :+
        col("t").cast("string").as("t_str") :+
        expr(s"cast(cast('$num' as decimal(38,0)) div t as bigint)").as("est6")): _*)
  }

  /** KMV / theta sketch rank table (Beyer et al. 2007; the Theta-sketch
    * set-operation family): per key, the `k` smallest distinct hash values
    * of `value` under xxhash64, in SIGNED-comparable form `uc = h XOR
    * Long.MinValue` (the sign-bit flip maps unsigned hash order onto
    * signed long order, so ranking/merging stay native long ops; the true
    * unsigned value is `uc + 2⁶³`). Returns `(keys…, uc, rk)` with
    * `rk ∈ [1, k]`.
    *
    * Set-op contract (what q174 verifies): with θ = min over keys of the
    * rank-k value, every sketch retains ALL its hashes below θ, so
    * |A∩B| ≈ |{common hashes < θ}|·2⁶⁴/θ and |A∪B| ≈ |{distinct hashes
    * < θ}|·2⁶⁴/θ — estimated WITHOUT touching the raw sets. At 100 TB the
    * rank-k filter is Spark's WindowGroupLimit partial pre-trim (each map
    * task keeps its own top-k before the shuffle), so the exchange carries
    * O(parts·k), never the distinct universe.
    */
  /** Count-min sketch (Cormode & Muthukrishnan 2005) — mergeable
    * frequency estimation over an unbounded key domain: `depth` rows ×
    * 2^`widthBits` columns of counts; an item's estimate is the MIN of
    * its cells, always ≥ the true count (one-sided error ≤ εN). The
    * `depth` row hashes are byte SLICES of ONE xxhash64 (row i = bits
    * [8i, 8i+widthBits)), so the whole sketch costs one hash per
    * occurrence and the contract restates in integer arithmetic. Merging
    * two sketches = cell-wise SUM (Spark's map-side combine on the
    * groupBy); counts are exact integers, so the sketch is
    * partitioning-independent. Returns `(r, c, cnt)`.
    */
  def cmsSketch(df: DataFrame, item: Column, depth: Int = 4,
      widthBits: Int = 8): DataFrame = {
    require(depth >= 1 && depth * 8 <= 56 && widthBits >= 1 && widthBits <= 8,
      s"cms: need depth·8 <= 56 and widthBits in [1,8], got d=$depth w=$widthBits")
    val mask = (1L << widthBits) - 1
    val entries = (0 until depth).map(i => struct(lit(i.toLong).as("r"),
      shiftrightunsigned(col("__h"), 8 * i).bitwiseAND(lit(mask)).as("c")))
    df.filter(item.isNotNull)
      .select(xxhash64(item.cast("string")).as("__h"))
      .select(explode(array(entries: _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query a [[cmsSketch]]: one row per distinct item in `items`
    * with `est` = min over its cells (absent cell = 0, so a never-seen
    * item whose cells are all empty estimates 0 exactly). The join is
    * sketch-sized (≤ depth·2^widthBits rows, broadcastable).
    */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, item: Column,
      depth: Int = 4, widthBits: Int = 8): DataFrame = {
    val mask = (1L << widthBits) - 1
    val entries = (0 until depth).map(i => struct(lit(i.toLong).as("r"),
      shiftrightunsigned(col("__h"), 8 * i).bitwiseAND(lit(mask)).as("c")))
    items.filter(item.isNotNull)
      .select(item.as("item")).distinct()
      .select(col("item"), xxhash64(col("item").cast("string")).as("__h"))
      .select(col("item"), explode(array(entries: _*)).as("rc"))
      .select(col("item"), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  def kmvMins(df: DataFrame, value: Column, k: Int,
      keyNames: Seq[String] = Nil): DataFrame = {
    require(k >= 1 && k <= 100000, s"kmv k in [1, 1e5], got $k")
    import org.apache.spark.sql.expressions.Window
    val uc = xxhash64(value.cast("string")).bitwiseXOR(lit(Long.MinValue))
    val w = (if (keyNames.isEmpty) Window.partitionBy()
      else Window.partitionBy(keyNames.map(col): _*)).orderBy(col("uc"))
    // dense_rank FIRST (no distinct): the k smallest DISTINCT values with
    // duplicates still aboard — this filter shape is exactly what Spark's
    // WindowGroupLimit rewrites into a PARTIAL pre-trim below the
    // exchange, so each map task ships only its own k smallest rows and
    // the shuffle stays O(parts·k) even when the distinct universe grows.
    // A distinct-before-rank instead shuffles the whole universe (the
    // r14 ScaleSweep measured it 10× at 10× input); dedup AFTER the trim
    // touches only k-scale rows.
    df.select((keyNames.map(col) :+ uc.as("uc")): _*)
      .withColumn("__dr", dense_rank().over(w)).filter(col("__dr") <= k)
      .dropDuplicates(keyNames :+ "uc")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .drop("__dr")
  }

  /** KMV set-operation estimates between two keyed value sets (the q174
    * contract): sketch each key with [[kmvMins]], take the combined
    * threshold θ = min over keys of the PER-KEY θ, where a key's θ is its
    * rank-k hash when it holds k distinct values and 2⁶⁴ otherwise —
    * EXACT mode (ADVICE r14): a sketch smaller than k IS its whole value
    * set, so every hash sits below θ and the |A∩B|/|A∪B| estimators
    * degrade to the exact below-θ counts instead of NULL (or, worse, a
    * θ borrowed from the other key alone). All arithmetic is integer /
    * DECIMAL(38,0) in the unsigned hash space, so the row restates as a
    * HUGEINT oracle. Returns one row:
    * `(n_a, n_b, n_inter, n_union, theta_str, n_common_lt, n_union_lt,
    *   est_inter6, est_union6)` — exact counts, θ as a decimal string,
    * below-θ sketch counts, and the ×10⁶ scaled estimates.
    */
  def kmvSetOps(values: DataFrame, typeCol: Column, value: Column,
      a: String, b: String, k: Int): DataFrame = {
    val d = values.select(typeCol.as("t"), value.as("v")).distinct()
    val sk = kmvMins(d, col("v"), k, Seq("t"))
    val two63 = "cast('9223372036854775808' as decimal(38,0))"
    val two64 = "cast('18446744073709551616' as decimal(38,0))"
    // per-key θ in UNSIGNED (decimal) space; rank-k = max of the kept k
    val theta = sk.groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), max(col("uc")).as("uck"))
      .select(when(col("cnt") === k,
          expr(s"cast(uck as decimal(38,0)) + $two63"))
        .otherwise(expr(two64)).as("th"))
      .agg(min(col("th")).as("theta_u"))
    val below = sk.crossJoin(broadcast(theta))
      .filter(expr(s"cast(uc as decimal(38,0)) + $two63") < col("theta_u"))
    val cnts = below.agg(
      countDistinct(when(col("t") === a, col("uc"))).as("na_lt"),
      countDistinct(when(col("t") === b, col("uc"))).as("nb_lt"),
      countDistinct(col("uc")).as("nu_lt"))
    val exact = d.agg(
      count(when(col("t") === a, 1)).as("n_a"),
      count(when(col("t") === b, 1)).as("n_b"))
    val inter = d.filter(col("t") === a).select(col("v"))
      .join(d.filter(col("t") === b).select(col("v")), "v")
      .agg(count(lit(1)).as("n_inter"))
    val sc = "cast('18446744073709551616000000' as decimal(38,0))"
    exact.crossJoin(inter).crossJoin(cnts).crossJoin(broadcast(theta))
      .select(col("n_a"), col("n_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        expr("cast(theta_u as string)").as("theta_str"),
        (col("na_lt") + col("nb_lt") - col("nu_lt")).as("n_common_lt"),
        col("nu_lt").as("n_union_lt"),
        expr(s"cast(((na_lt + nb_lt - nu_lt) * $sc) div theta_u as bigint)")
          .as("est_inter6"),
        expr(s"cast((nu_lt * $sc) div theta_u as bigint)").as("est_union6"))
  }
}
