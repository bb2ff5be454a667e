package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.pit.AsOfJoin

/** The relational operator surface of SURVEY.md §2.B, one driver-checkable
  * query per operator family. Aggregated doubles are summed as
  * DECIMAL(18,2)-cast values so Spark and the DuckDB oracle agree exactly
  * (double sums are order-dependent; decimal sums are not). Scalar double
  * arithmetic stays in double — single IEEE ops are deterministic and
  * engine-identical.
  */
object RelationalQueries {
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  // Aggregation runs in exact DECIMAL (order-independent), but the FINAL
  // output column is cast to DOUBLE on both engines: the driver's hasher
  // canonicalizes values float-style, so a fixed-scale decimal with trailing
  // zeros ('137869.00' vs '137869.0') can never match. Both engines convert
  // the same exact decimal to the nearest IEEE double — deterministic and
  // identical (q41's round-2 flip is the existence proof).
  private def dbl(c: org.apache.spark.sql.Column) = c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1/B2 — scan + projection + rename + string fn
    "q01_project" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("f_name"),
        col("c_acctbal"),
        col("c_mktsegment"))
    }),

    // B5 — filters: =, >, LIKE, IN, OR, AND, IS NOT NULL, %
    "q02_filter" -> ((s, dir) => {
      Tables.orders(s, dir).filter(
        (col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0 &&
          col("o_orderpriority").like("1-%")) ||
        (col("o_orderpriority").isin("2-HIGH", "3-MEDIUM") &&
          col("o_custkey") % 10 === 0 && col("o_orderdate").isNotNull))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    }),

    // B6/B7 — searched CASE + arithmetic
    "q03_case" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "low")
          .when(col("c_acctbal") < 8000, "mid")
          .otherwise("high").as("f_bal_bucket"),
        when(col("c_mktsegment") === "BUILDING", "domestic")
          .otherwise("international").as("f_segment"),
        (col("c_custkey") % 3).as("f_mod3"),
        (col("c_acctbal") * 12).as("f_bal_annual"))
    }),

    // B8 — group-by aggregation (TPC-H Q1 shape)
    "q04_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"),
          dbl(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          dbl(sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(DecimalType(3, 2)) - dec(col("l_discount"))))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // B9 — distinct aggregate + HAVING
    "q05_distinct_having" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
        .filter(col("n_parts") >= 5)
    }),

    // B1/B10 — multi-way join (dims broadcast by Catalyst) + agg
    "q06_join" -> ((s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          dbl(sum(dec(col("c_acctbal")))).as("sum_bal"))
    }),

    // left-semi / left-anti (EXISTS / NOT EXISTS)
    "q07_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit(1).as("has_orders"))
      val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit(0).as("has_orders"))
      withOrders.unionByName(withoutOrders)
    }),

    // B11 — explode / lateral flatten
    "q08_explode" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
    }),

    // B12 — JSON path extraction
    "q09_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(
          count(lit(1)).as("n"),
          dbl(sum(dec(col("value")))).as("sum_value"))
    }),

    // B13/B14 — string + timestamp functions in grouping
    "q10_datetime" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(
          year(col("l_shipdate")).cast("long").as("ship_year"),
          month(col("l_shipdate")).cast("long").as("ship_month"),
          concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status"))
        .agg(count(lit(1)).as("n"))
    }),

    // B22 — window functions: row_number, lag, running sum
    "q11_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_shipdate"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .withColumn("run_qty",
          dbl(sum(dec(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rn", "l_quantity", "prev_qty", "run_qty")
    }),

    // B15/B16 — deterministic sort + limit (top-k)
    "q12_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // B21 — set operators
    "q13_setops" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigSpenders = o.filter(col("o_totalprice") > 150000.0)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val fulfilled = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.intersect(bigSpenders).exceptAll(fulfilled).distinct()
    }),

    // B17 ⭐ — point-in-time (as-of) join (no key is hot: the plain union window)
    "q14_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spine = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
      val features = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("f_view_value"))
      AsOfJoin.joinAsOf(spine, features, Seq("user_id"), "ts", "ts",
        featureCols = Seq("f_view_value"))
    }),

    // B17 ⭐ — the same point-in-time join with salting engaged: thresholds
    // forced low enough that the two-level hot-key path
    // actually ENGAGES at this sf (full-rate detection, every key over 40
    // union rows bucketed 4-ways) — the driver hash-checks it against the
    // identical DuckDB ASOF oracle as q14, so the skew-safe plan is pinned
    // end-to-end, not only by the randomized spec
    "q87_asof_salted" -> ((s, dir) => {
      s.conf.set("graft.asof.salt.hotKeyThreshold", "40")
      s.conf.set("graft.asof.salt.sampleRate", "1.0")
      s.conf.set("graft.asof.salt.buckets", "4")
      try {
        val ev = Tables.events(s, dir)
        val spine = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
        val features = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("f_view_value"))
        // conf is read eagerly at plan-build (detection job included), so
        // the settings can be restored before the lazy frame is returned
        AsOfJoin.joinAsOf(spine, features, Seq("user_id"), "ts", "ts",
          featureCols = Seq("f_view_value"))
      } finally {
        s.conf.unset("graft.asof.salt.hotKeyThreshold")
        s.conf.unset("graft.asof.salt.sampleRate")
        s.conf.unset("graft.asof.salt.buckets")
      }
    }),

    // B18 — multi-feature-view as-of join (left fold)
    "q15_asof_multi" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spine = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value").as("label"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("f_view_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("f_click_value"))
      val step1 = AsOfJoin.joinAsOf(spine, views, Seq("user_id"), "ts", "ts",
        featureCols = Seq("f_view_value"))
      AsOfJoin.joinAsOf(step1, clicks, Seq("user_id"), "ts", "ts",
        featureCols = Seq("f_click_value"))
    }),

    // B3 — literal/constant row (no FROM): the reference's static-literal FV
    "q31_literal_row" -> ((s, _) => {
      s.sql("""SELECT 1 AS customer_id,
              |  TIMESTAMP '2024-01-01 00:00:00' AS updated_at,
              |  25 AS f_age, 'US' AS f_country""".stripMargin)
    }),

    // B4 — empty relation (the reference's SELECT NULL WHERE FALSE tests)
    "q32_empty_relation" -> ((s, _) => {
      s.sql("SELECT CAST(NULL AS STRING) AS placeholder WHERE FALSE")
    }),

    // B12 — from_json into a typed struct + field access
    "q33_from_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .filter(col("k") >= 90)
    }),

    // B11 — posexplode (lateral flatten with index)
    "q34_posexplode" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), col("pos"), col("col").as("word"))
    }),

    // TPC-H Q3 shape: 3-way shuffle join + agg + deterministic top-k.
    // Dims filtered before the join; AQE picks broadcast where one side
    // shrinks below threshold.
    "q38_join_topk" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dbl(sum(dec(col("l_extendedprice")) *
          (lit(BigDecimal(1)).cast(DecimalType(3, 2)) - dec(col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join (3 broadcast dims) + per-nation agg
    "q39_join_multiway" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey") &&
          su("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dbl(sum(dec(col("l_extendedprice")) *
          (lit(BigDecimal(1)).cast(DecimalType(3, 2)) - dec(col("l_discount"))))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // B8 extension — ROLLUP grouping sets: per-(flag,status) subtotals plus
    // per-flag and grand totals in ONE pass (partial aggregation replays the
    // same map-side combine for every grouping set; no extra scan per level)
    "q52_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("g_id"),
          count(lit(1)).as("n_items"),
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "g_id", "n_items", "sum_qty")
    }),

    // pivot — wide conditional aggregation: one row per priority, one column
    // group per order status. Spark's pivot with explicit values compiles to
    // a single-pass conditional agg (no per-status scan), the same plan the
    // FILTER-clause oracle produces. NULL convention for a (priority,status)
    // combo with zero rows: counts are COALESCEd to 0 (Spark's pivot emits
    // NULL where SQL's `count(*) FILTER` emits 0); sums stay NULL on both
    // engines (SQL: sum of the empty set is NULL).
    "q53_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"))
        .select(col("o_orderpriority"),
          coalesce(col("O_n"), lit(0L)).as("n_open"), col("O_total").as("total_open"),
          coalesce(col("F_n"), lit(0L)).as("n_filled"), col("F_total").as("total_filled"),
          coalesce(col("P_n"), lit(0L)).as("n_pending"), col("P_total").as("total_pending"))
    }),

    // B13 extension — regex surface: capture-group extract, global replace,
    // rlike filter. All map-side, codegen'd, zero shuffle before the agg.
    "q54_regex" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      p.filter(col("p_name").rlike("^[a-z]+ "))
        .select(
          regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_finish"),
          length(regexp_replace(col("p_name"), "[aeiou]", "")).cast("long").as("consonants"),
          col("p_retailprice"))
        .groupBy(col("type_finish"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("consonants")).as("sum_consonants"),
          dbl(sum(dec(col("p_retailprice")))).as("sum_price"))
    }),

    // list aggregation with deterministic ordering — collect_list is
    // unordered in a distributed agg, so the output is sort_array'd (the
    // only portable contract); slice keeps rows bounded
    "q60_list_agg" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          // joined to a string for the driver hash (array-typed output
          // columns are untested ground in the driver's canonicalization)
          array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 5), ",")
            .as("first_ids"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // correlated + uncorrelated scalar subqueries — Catalyst decorrelates
    // the per-row aggregate into one grouped join (RewriteCorrelatedScalar-
    // Subquery), so the plan is two scans + a broadcast join, not a
    // per-row re-aggregation. "price above its type's average" is phrased
    // as price×n > sum — exact decimal/integer math on both engines, no
    // float-boundary sensitivity an avg() comparison would have.
    "q59_scalar_subquery" -> ((s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq")
      s.sql("""
        SELECT p_partkey, p_type, p_size, p_retailprice
        FROM part_sq p
        WHERE CAST(p_retailprice AS DECIMAL(12,2)) *
                (SELECT count(*) FROM part_sq p2 WHERE p2.p_type = p.p_type)
              > (SELECT sum(CAST(p3.p_retailprice AS DECIMAL(12,2)))
                 FROM part_sq p3 WHERE p3.p_type = p.p_type)
          AND p_size > (SELECT min(p_size) FROM part_sq)
        """)
    }),

    // interval (range) join WITHOUT an equi key — bucket decomposition turns
    // the O(|probe|×|intervals|) non-equi condition into an equi-join on
    // bucket id + residual filter (graft.operators.RangeJoin). 25 nation-
    // derived 60-day windows over the lineitem shipdate axis; oracle is the
    // plain non-equi join in DuckDB, proving the decomposition is exact.
    "q58_range_join" -> ((s, dir) => {
      val day = 86_400_000_000L
      val base = 788_918_400_000_000L // epoch micros of 1995-01-01 00:00:00 UTC
      val iv = Tables.nation(s, dir).select(
        col("n_nationkey").as("window_id"), col("n_name"),
        (lit(base) + col("n_nationkey").cast("long") * lit(50L * day)).as("ws"),
        (lit(base) + col("n_nationkey").cast("long") * lit(50L * day) + lit(60L * day)).as("we"))
      val probe = Tables.lineitem(s, dir)
        // NTZ → LTZ under the UTC session zone: same micros as the oracle's
        // epoch_us over the naive parquet timestamp
        .select(unix_micros(col("l_shipdate").cast("timestamp")).as("ts"), col("l_quantity"))
      graft.operators.RangeJoin.intervalJoin(probe, "ts", iv, "ws", "we",
          bucketMicros = 10L * day)
        .groupBy(col("window_id"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
    }),

    // distributed variance/stddev done ORDER-INDEPENDENTLY: the naive
    // parallel double sum of squares is partition-order-dependent (IEEE
    // addition is not associative), so both engines accumulate sum and
    // sum-of-squares as exact decimals and only the final scalar formula
    // (single IEEE ops, deterministic) runs in double — the same trick that
    // makes every other aggregate here hash-stable, applied to a second
    // moment. At 100 TB this is one map-side-combined shuffle, same as any
    // hash aggregate.
    "q55_variance" -> ((s, dir) => {
      def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
      val agg = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec4(col("l_quantity")))).as("sum_q"),
          dbl(sum(dec4(col("l_quantity")) * dec4(col("l_quantity")))).as("sumsq_q"),
          dbl(sum(dec4(col("l_extendedprice")))).as("sum_p"),
          dbl(sum(dec4(col("l_extendedprice")) * dec4(col("l_extendedprice")))).as("sumsq_p"))
      val nD = col("n").cast("double")
      agg.select(col("l_returnflag"), col("n"),
        (col("sum_q") / nD).as("mean_qty"),
        ((col("sumsq_q") - (col("sum_q") * col("sum_q")) / nD) / (nD - lit(1.0d)))
          .as("var_qty"),
        (col("sum_p") / nD).as("mean_price"),
        ((col("sumsq_p") - (col("sum_p") * col("sum_p")) / nD) / (nD - lit(1.0d)))
          .as("var_price"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q01_project" ->
      """SELECT c_custkey, upper(c_name) AS f_name, c_acctbal, c_mktsegment FROM customer""",

    "q02_filter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE (o_orderstatus = 'F' AND o_totalprice > 100000.0 AND o_orderpriority LIKE '1-%')
        |   OR (o_orderpriority IN ('2-HIGH','3-MEDIUM') AND o_custkey % 10 = 0 AND o_orderdate IS NOT NULL)""".stripMargin,

    "q03_case" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'negative'
        |       WHEN c_acctbal < 5000 THEN 'low'
        |       WHEN c_acctbal < 8000 THEN 'mid'
        |       ELSE 'high' END AS f_bal_bucket,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'domestic' ELSE 'international' END AS f_segment,
        |  c_custkey % 3 AS f_mod3,
        |  c_acctbal * 12 AS f_bal_annual
        |FROM customer""".stripMargin,

    "q04_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q05_distinct_having" ->
      """SELECT l_orderkey,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING count(DISTINCT l_partkey) >= 5""".stripMargin,

    "q06_join" ->
      """SELECT r_name, n_name,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q07_semi_anti" ->
      """SELECT c_custkey, 1 AS has_orders FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT c_custkey, 0 AS has_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q08_explode" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE len(word) > 0
        |GROUP BY word""".stripMargin,

    "q09_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1""".stripMargin,

    "q10_datetime" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |  l_returnflag || '-' || l_linestatus AS flag_status,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY 1, 2, 3""".stripMargin,

    "q11_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, rn, l_quantity, prev_qty, run_qty FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    row_number() OVER w AS rn,
        |    lag(l_quantity, 1) OVER w AS prev_qty,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 3""".stripMargin,

    "q12_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q13_setops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000.0
        |EXCEPT
        |SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q14_asof" ->
      """WITH spine AS (
        |  SELECT event_id, user_id, ts, value AS label FROM events WHERE event_type = 'purchase'
        |), feat AS (
        |  SELECT user_id, ts, max(value) AS f_view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts
        |)
        |SELECT s.event_id, s.user_id, s.ts, s.label, f.f_view_value
        |FROM spine s ASOF LEFT JOIN feat f
        |  ON s.user_id = f.user_id AND f.ts <= s.ts""".stripMargin,

    // identical semantics to q14 — the strategies must be indistinguishable
    "q87_asof_salted" ->
      """WITH spine AS (
        |  SELECT event_id, user_id, ts, value AS label FROM events WHERE event_type = 'purchase'
        |), feat AS (
        |  SELECT user_id, ts, max(value) AS f_view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts
        |)
        |SELECT s.event_id, s.user_id, s.ts, s.label, f.f_view_value
        |FROM spine s ASOF LEFT JOIN feat f
        |  ON s.user_id = f.user_id AND f.ts <= s.ts""".stripMargin,

    "q15_asof_multi" ->
      """WITH spine AS (
        |  SELECT event_id, user_id, ts, value AS label FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, ts, max(value) AS f_view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts
        |), c AS (
        |  SELECT user_id, ts, max(value) AS f_click_value FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts
        |), step1 AS (
        |  SELECT s.event_id, s.user_id, s.ts, s.label, v.f_view_value
        |  FROM spine s ASOF LEFT JOIN v ON s.user_id = v.user_id AND v.ts <= s.ts
        |)
        |SELECT s1.event_id, s1.user_id, s1.ts, s1.label, s1.f_view_value, c.f_click_value
        |FROM step1 s1 ASOF LEFT JOIN c ON s1.user_id = c.user_id AND c.ts <= s1.ts""".stripMargin,

    "q31_literal_row" ->
      """SELECT 1 AS customer_id,
        |  TIMESTAMP '2024-01-01 00:00:00' AS updated_at,
        |  25 AS f_age, 'US' AS f_country""".stripMargin,

    "q32_empty_relation" ->
      """SELECT CAST(NULL AS VARCHAR) AS placeholder WHERE FALSE""",

    "q33_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90""".stripMargin,

    "q34_posexplode" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i + 1] AS word
        |FROM tok, (SELECT unnest([0, 1, 2]) AS i)
        |WHERE i < len(t)""".stripMargin,

    "q38_join_topk" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q39_join_multiway" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q52_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS g_id,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q53_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS total_open,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_filled,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS total_pending
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,

    "q54_regex" ->
      """SELECT regexp_extract(p_type, '(\w+)$', 1) AS type_finish,
        |  count(*) AS n_parts,
        |  CAST(sum(len(regexp_replace(p_name, '[aeiou]', '', 'g'))) AS BIGINT) AS sum_consonants,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part
        |WHERE regexp_matches(p_name, '^[a-z]+ ')
        |GROUP BY 1""".stripMargin,

    "q60_list_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |  array_to_string(list_sort(list(doc_id))[1:5], ',') AS first_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang""".stripMargin,

    "q59_scalar_subquery" ->
      """SELECT p_partkey, p_type, p_size, p_retailprice
        |FROM part p
        |WHERE CAST(p_retailprice AS DECIMAL(12,2)) *
        |        (SELECT count(*) FROM part p2 WHERE p2.p_type = p.p_type)
        |      > (SELECT sum(CAST(p3.p_retailprice AS DECIMAL(12,2)))
        |         FROM part p3 WHERE p3.p_type = p.p_type)
        |  AND p_size > (SELECT min(p_size) FROM part)""".stripMargin,

    "q58_range_join" ->
      """WITH iv AS (
        |  SELECT n_nationkey AS window_id, n_name,
        |    epoch_us(TIMESTAMP '1995-01-01 00:00:00') + n_nationkey * (50 * 86400000000) AS ws,
        |    epoch_us(TIMESTAMP '1995-01-01 00:00:00') + n_nationkey * (50 * 86400000000) + (60 * 86400000000) AS we
        |  FROM nation)
        |SELECT window_id, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN iv
        |  ON epoch_us(l_shipdate) >= ws AND epoch_us(l_shipdate) < we
        |GROUP BY 1, 2""".stripMargin,

    "q55_variance" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_q,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sumsq_q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_p,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sumsq_p
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  sum_q / CAST(n AS DOUBLE) AS mean_qty,
        |  (sumsq_q - (sum_q * sum_q) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var_qty,
        |  sum_p / CAST(n AS DOUBLE) AS mean_price,
        |  (sumsq_p - (sum_p * sum_p) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var_price
        |FROM m""".stripMargin)
}
