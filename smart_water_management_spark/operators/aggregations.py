"""Aggregation operators (SURVEY.md §2.4 A1-A15) re-expressed Spark-first.

Reference sites: multi-key multi-agg src/spark_etl.py:149-161 and
src/enhanced_spark_etl.py:526-605; conditional aggs :162,:564; percentiles
:549-557; pivot :612; correlation :607-648. All become single
``groupBy().agg()`` plans — Catalyst runs them as partial+final hash
aggregates (map-side combine), so each is one shuffle keyed on the group
columns; at 100 TB skewed keys are split by AQE.

Money-valued sums/avgs/stddevs use the exact-decimal helpers from
``functions.numeric`` so results hash-match the DuckDB oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (
    davg,
    dstddev,
    dsum,
    sql_davg,
    sql_dstddev,
    sql_dsum,
)
from ..registry import register
from ..sources.catalog import load_table, pin_derived

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- A1 + A6 + A11: multi-key multi-agg with derived measures (TPC-H Q1 shape,
# the analog of the reference's district×type hourly rollup src/spark_etl.py:149-161).
@register(
    "a01_multi_agg_pricing",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_dstddev('l_quantity')} AS std_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A6/A11: grouped multi-agg incl. exact-decimal sum/avg/stddev",
)
def a01_multi_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: a fan_out of the scan was measured (interleaved min-of-5 A/B,
    # count action) at 0.345 s -> 0.622 s and REJECTED — the codegen'd
    # partial aggregate outruns the extra exchange; fan_out only pays
    # for Python/hash-heavy per-row work (j16/x138/x140).
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc).alias("sum_disc_price"),
        dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        dstddev("l_quantity").alias("std_qty"),
        F.count("*").alias("count_order"),
    )


# --- A2: daily rollup (reference src/spark_etl.py:172-182).
@register(
    "a02_daily_rollup",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           {sql_davg('value')} AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d'), event_type
    """,
    doc="A2: coarser-grain daily rollup over the event stream",
)
def a02_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dsum("value").alias("sum_value"),
    )


# --- A3: count-distinct (reference src/spark_etl.py:179, src/app.py:34).
@register(
    "a03_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A3: exact count-distinct per group (approx variant: a03_approx, rows-only)",
)
def a03_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --- A3 at 100 TB: approx_count_distinct (HLL) — sketch-based, one pass, no
# per-key state explosion. The raw estimate is engine-specific, so the
# registered query emits DuckDB-checkable INVARIANTS instead: the exact
# counts plus bounded-relative-error flags for the (deterministic,
# hash-based, seed-free) HLL estimates. The oracle recomputes the exact
# counts and asserts the flags are literally TRUE — a real correctness
# check on the sketch path without pretending estimates are portable.
@register(
    "a03_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           TRUE AS suppliers_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A3 scale path: HyperLogLog approx_count_distinct, driver-checked "
    "via exact counts + bounded-error invariant flags",
)
def a03_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # rsd 0.02: the 0.01 setting crosses into a ~2x-costlier sketch size
    # for <1% accuracy gain on these cardinalities. 5% tolerance = 2.5
    # sigma on the sketch's standard error.
    #
    # r11 optimization (guide §1.4 exposed it, §2.3 names the fix): the
    # original single groupBy mixed countDistinct with
    # approx_count_distinct, and Spark plans mixed distinct/non-distinct
    # aggregates via Expand — the partial aggregate then keys on
    # (l_returnflag, gid, suppkey/orderkey) and carries BOTH 4 KB HLL
    # buffers in EVERY per-dedup-key group (~700k groups at sf0.1 —
    # gigabytes of sketch buffers for 3 output rows). The bench's
    # count() action never showed it (count prunes aggregate values);
    # the noop sink measured 23-41 s. Splitting the sketch pass from the
    # exact pass keeps each aggregate in its natural shape — the HLL agg
    # holds 3x2 sketches total, the exact pass keeps its Expand — and a
    # 3-row broadcast join reassembles the output: 23 s -> ~1 s, and at
    # 100 TB the sketch pass is the one you actually run (the exact pass
    # exists so the driver can certify the estimate).
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", 0.02).alias("_approx_s"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("_approx_o"),
    )
    agged = exact.join(F.broadcast(approx), "l_returnflag")
    within = lambda est, exact: (  # noqa: E731
        F.abs(F.col(est) - F.col(exact)) <= 0.05 * F.col(exact)
    )
    return agged.select(
        "l_returnflag",
        "n_suppliers",
        "n_orders",
        within("_approx_s", "n_suppliers").alias("suppliers_within_5pct"),
        within("_approx_o", "n_orders").alias("orders_within_5pct"),
    )


# --- A4: conditional aggregates (reference src/enhanced_spark_etl.py:162,564).
@register(
    "a04_conditional_agg",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_finished,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")}
             AS finished_revenue,
           CAST(SUM(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_big,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="A4: sum(when(cond,x)) filtered aggregates",
)
def a04_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fin = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(fin, 1).otherwise(0)).alias("n_finished"),
        dsum(F.when(fin, F.col("o_totalprice")).otherwise(0.0)).alias("finished_revenue"),
        F.sum(F.when(F.col("o_totalprice") > 200000.0, 1).otherwise(0)).alias("n_big"),
        F.count("*").alias("n_orders"),
    )


# --- A5: conditional count-distinct (reference src/enhanced_spark_etl.py:673).
@register(
    "a05_conditional_count_distinct",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END)
             AS users_with_errors,
           COUNT(DISTINCT user_id) AS active_users
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    doc="A5: countDistinct over a conditional expression",
)
def a05_conditional_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.countDistinct(
            F.when(F.col("event_type") == "error", F.col("user_id"))
        ).alias("users_with_errors"),
        F.countDistinct("user_id").alias("active_users"),
    )


# --- A6: global (no-key) aggregate (reference src/enhanced_spark_etl.py:149-154).
@register(
    "a06_global_agg",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship,
           {sql_dsum('l_extendedprice')} AS total_price
    FROM lineitem
    """,
    doc="A6: dataset-level totals and date range",
)
def a06_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        dsum("l_extendedprice").alias("total_price"),
    )


# --- A7: percentiles per group (reference src/enhanced_spark_etl.py:549-557).
# Exact percentile (both engines: linear interpolation), rounded to absorb
# formula-order differences; the approx variant is rows-only below.
@register(
    "a07_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS median,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           ROUND(quantile_cont(value, 0.95), 6) AS p95
    FROM events
    GROUP BY event_type
    """,
    doc="A7: exact interpolated percentiles per group",
)
def a07_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("median"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


# --- A7/A8 scale path: percentile_approx (Greenwald-Khanna sketch), the form
# the reference actually calls (expr("percentile_approx(...)"), approxQuantile).
# GK estimates are deterministic but engine-specific, so the registered
# query emits the exact percentiles plus RANK-BAND invariant flags: with
# accuracy=1000 the sketch's rank error is n/1000 rows (~0.1 percentile
# points here), so the estimate must land inside the exact [q-0.01, q+0.01]
# value band. The oracle recomputes the exact quantiles and asserts TRUE.
@register(
    "a07_percentile_approx",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.50), 6) AS median_exact,
           ROUND(quantile_cont(value, 0.95), 6) AS p95_exact,
           TRUE AS median_in_band,
           TRUE AS p95_in_band
    FROM events
    GROUP BY event_type
    """,
    doc="A7/A8 scale path: GK-sketch approximate percentiles, driver-checked "
    "via exact quantiles + rank-band invariant flags",
)
def a07_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agged = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("median_exact"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
        F.percentile_approx("value", 0.5, 1000).alias("_ma"),
        F.percentile_approx("value", 0.95, 1000).alias("_pa"),
        F.percentile("value", F.lit(0.49)).alias("_m_lo"),
        F.percentile("value", F.lit(0.51)).alias("_m_hi"),
        F.percentile("value", F.lit(0.94)).alias("_p_lo"),
        F.percentile("value", F.lit(0.96)).alias("_p_hi"),
    )
    return agged.select(
        "event_type",
        "median_exact",
        "p95_exact",
        F.col("_ma").between(F.col("_m_lo"), F.col("_m_hi")).alias("median_in_band"),
        F.col("_pa").between(F.col("_p_lo"), F.col("_p_hi")).alias("p95_in_band"),
    )


# --- A9: grouped first-row, made deterministic via min_by/max_by
# (reference src/warehouse_loader.py:193 groupby().first()).
@register(
    "a09_grouped_first_last",
    oracle="""
    SELECT user_id,
           arg_min(value, event_id) AS first_value,
           arg_max(value, event_id) AS last_value,
           arg_max(event_type, ts) AS latest_type
    FROM events
    GROUP BY user_id
    """,
    doc="A9/W8: deterministic grouped first/last via min_by/max_by",
)
def a09_grouped_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("value", "event_id").alias("first_value"),
        F.max_by("value", "event_id").alias("last_value"),
        F.max_by("event_type", "ts").alias("latest_type"),
    )


# --- A10: distinct key combos (reference src/enhanced_spark_etl.py:353).
@register(
    "a10_distinct",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="A10: distinct projection (shuffle-dedup)",
)
def a10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


# --- A12: pivot / wide reshape (reference src/enhanced_spark_etl.py:612).
# Explicit pivot value list => no extra distinct-values job, stable schema.
@register(
    "a12_pivot_daily_by_type",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           {", ".join(sql_davg(f"CASE WHEN event_type = '{t}' THEN value END") + f" AS {t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    doc="A12: pivot event types to columns, cell = avg(value)",
)
def a12_pivot_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(davg("value"))
    )


# --- A13: frequency breakdown (reference production_ingestion.py:240-242).
@register(
    "a13_frequency",
    oracle="SELECT source, lang, COUNT(*) AS n_docs FROM documents GROUP BY source, lang",
    doc="A13: grouped frequency counts",
)
def a13_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))


# --- A14: multi-granularity rollup family unified as ROLLUP + grouping_id
# (reference runs 4 parallel groupBys src/enhanced_spark_etl.py:526-605; one
# ROLLUP computes all grains in a single shuffle).
@register(
    "a14_rollup_grains",
    oracle=f"""
    SELECT year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           GROUPING(year(o_orderdate), month(o_orderdate)) AS grain,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
    doc="A14: hierarchical grains via ROLLUP + grouping_id in one pass",
)
def a14_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: fan_out measured 0.272 s -> 0.592 s (min-of-5 A/B), rejected
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .withColumn("order_month", F.month("o_orderdate"))
        .rollup("order_year", "order_month")
        .agg(
            F.grouping_id().alias("grain"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


# --- A15: correlation matrix entry — Pearson corr from exact decimal moments
# (reference src/enhanced_spark_etl.py:607-648 uses ml.stat.Correlation; the
# pairwise-agg form needs no pivot/VectorAssembler and stays in one hash agg).
@register(
    "a15_correlation",
    oracle="""
    SELECT l_returnflag,
           ROUND(
             (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE))
             / (SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                     - CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE))
                * SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
                       - CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)))
           , 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A15: Pearson correlation per group from exact decimal moments",
)
def a15_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count("*").cast("double")
    sq = F.sum(q.cast("decimal(27,6)")).cast("double")
    sp = F.sum(p.cast("decimal(27,6)")).cast("double")
    sqq = F.sum((q * q).cast("decimal(27,6)")).cast("double")
    spp = F.sum((p * p).cast("decimal(27,6)")).cast("double")
    sqp = F.sum((q * p).cast("decimal(27,6)")).cast("double")
    corr = (n * sqp - sq * sp) / (
        F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)
    )
    return li.groupBy("l_returnflag").agg(F.round(corr, 6).alias("corr_qty_price"))


# --- A16: CUBE across independent dimensions + grouping_id — every grain
# combination in ONE pass (SURVEY §2.4 A14's natural completion; the
# reference computes its 4 grains with 4 separate groupBys,
# src/enhanced_spark_etl.py:526-605).
@register(
    "a16_cube_grains",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS grain,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="A16: CUBE over status × priority with grouping_id — all 4 grain "
    "combinations in one aggregation pass (vs one groupBy per grain)",
)
def a16_cube_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("grain"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


# --- A17: re-aggregatable distinct-count sketches (DataSketches HLL).
# The 100 TB pattern for countDistinct over pre-aggregates: gold tables
# store per-day SKETCHES (bytes), and any rollup (weekly, monthly, global)
# merges sketches instead of rescanning raw data — exact distinct counts
# cannot be re-aggregated, sketches can.
@register(
    "a17_hll_sketch_rollup",
    oracle="""
    SELECT COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS est_within_5pct
    FROM events
    """,
    doc="A17: per-day HLL sketches of active users, merged to a monthly "
    "estimate via hll_union_agg — re-aggregatable distinct counts for "
    "pre-aggregate tables (replaces a full rescan per rollup grain); "
    "driver-checked via the exact distinct + a bounded-error invariant "
    "flag on the (deterministic, hash-based) merged-sketch estimate",
)
def a17_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("user_sketch"),
        F.count("*").alias("n_events"),
    )
    rolled = daily.agg(
        F.count("*").alias("n_days"),
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("_est"),
    )
    # Exact distinct for the invariant check: a second agg over the same
    # cached base scan; at 100 TB you'd drop this column and trust the
    # sketch (that is the point of sketches) — it exists so the DRIVER can
    # certify the sketch path against an exact oracle.
    exact = ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
    return (
        rolled.crossJoin(F.broadcast(exact))
        .select(
            "n_days",
            "n_events",
            "n_users_exact",
            (
                F.abs(F.col("_est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("est_within_5pct"),
        )
    )


# --- A18: pre-aggregate reuse (the hourly gold table answers the daily
# query). The reference maintains fact_sensor_readings_hourly
# (sql/enhanced_data_schema.sql:279-322) but every dashboard query still
# hits raw facts; here the coarser grain is DERIVED from the finer one —
# sums/counts/min/max compose, the mean is recomputed from composed
# sum/count — so at 100 TB the daily rollup reads hours (~10^3 smaller),
# not raw rows. Partials stay exact DECIMAL until the final cast, making
# the two-level result hash-identical to the direct single-pass oracle.
@register(
    "a18_preagg_reuse",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
             AS avg_value
    FROM events
    GROUP BY 1
    """,
    doc="A18: pre-aggregate reuse — the daily rollup is computed FROM the "
    "hourly gold table (decimal partials re-aggregated), not from raw "
    "events; oracle proves the two-level result equals the direct pass",
)
def a18_preagg_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the hourly gold table: partial states, not finished measures —
    # decimal sums stay decimal so any further rollup remains exact
    hourly = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), F.hour("ts").alias("hr")
    ).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("psum"),
        F.count("*").alias("pcnt"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    # the daily query reads 24 rows per day instead of every event
    return hourly.groupBy("day").agg(
        F.sum("pcnt").alias("n_events"),
        F.sum("psum").cast("double").alias("sum_value"),
        F.min("pmin").alias("min_value"),
        F.max("pmax").alias("max_value"),
        (F.sum("psum").cast("double") / F.sum("pcnt")).alias("avg_value"),
    )


@register(
    "a19_retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_day, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_day
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
           s.cohort_size,
           COUNT(DISTINCT a.user_id) AS n_active,
           ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size, 6)
             AS retention
    FROM activity a
    JOIN cohorts c USING (user_id)
    JOIN sizes s ON s.cohort_day = c.cohort_day
    GROUP BY c.cohort_day, a.day - c.cohort_day, s.cohort_size
    """,
    doc="A19 (ext.): cohort retention analysis — users bucketed by "
    "first-seen day, per-(cohort, day-offset) active share. Every "
    "aggregate and join keys on user_id or cohort_day; the cohort-size "
    "side is tiny (days, not users) and broadcasts. The standard "
    "product-analytics rollup with no full-history window",
)
def a19_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    return (
        activity.join(cohorts, "user_id")
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
            "cohort_size",
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .withColumn(
            "retention",
            F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6),
        )
    )


@register(
    "a20_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 24 HOURS
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 24 HOURS
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_viewed,
           COUNT(c.user_id) AS n_clicked,
           COUNT(p.user_id) AS n_purchased,
           ROUND(CAST(COUNT(c.user_id) AS DOUBLE) / COUNT(*), 6)
             AS view_to_click,
           ROUND(CAST(COUNT(p.user_id) AS DOUBLE)
                 / NULLIF(COUNT(c.user_id), 0), 6) AS click_to_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    doc="A20 (ext.): ordered funnel conversion (view -> click -> "
    "purchase, each stage within 24h of the previous): the earliest "
    "qualifying event strictly after the prior stage. Every aggregate and join "
    "keys on user_id (stage frames broadcast while small, co-partition "
    "at scale); no window over the full event history, state scales "
    "with users",
)
def a20_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None, prev_col: str, out: str):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(
                (F.col("ts") > F.col(prev_col))
                & (F.col("ts") <= F.col(prev_col) + F.expr("INTERVAL 24 HOURS"))
            )
        return e.groupBy("user_id").agg(F.min("ts").alias(out))

    v = stage("view", None, "", "t_view")
    c = stage("click", v, "t_view", "t_click")
    p = stage("purchase", c, "t_click", "t_purchase")
    funnel = v.join(c, "user_id", "left").join(p, "user_id", "left")
    n_clicked = F.count("t_click")
    n_purchased = F.count("t_purchase")
    return funnel.agg(
        F.count("*").alias("n_viewed"),
        n_clicked.alias("n_clicked"),
        n_purchased.alias("n_purchased"),
        F.round(n_clicked.cast("double") / F.count("*"), 6).alias("view_to_click"),
        F.round(
            n_purchased.cast("double") / F.nullif(n_clicked, F.lit(0)), 6
        ).alias("click_to_purchase"),
    )


# --- A21: arbitrary GROUPING SETS — the grain combination ROLLUP/CUBE can't
# express (a14 covers the hierarchy, a16 the full lattice; real dashboards
# often need a hand-picked subset: both 1-D marginals plus the 2-D cell,
# but NOT the grand total). One pass, one shuffle, same partial-agg shape
# as a plain GROUP BY — Spark expands the sets via a single Expand node.
@register(
    "a21_grouping_sets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority, o_orderstatus) AS grain,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus))
    """,
    doc="A21: hand-picked GROUPING SETS (2-D cell + both marginals, no "
    "grand total) with grouping_id disambiguating real NULLs from "
    "subtotal rows — one Expand + one hash-agg pass",
)
def a21_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], ["o_orderstatus"]],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().alias("grain"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


# --- A22 (ext.): MAD-based robust outlier detection --------------------------
# z-scores (v05) break when the contamination itself inflates the mean
# and stddev; the median absolute deviation is robust to ~50% bad data.
# Two exact-percentile passes per group (median of x, then median of
# |x - median|) — at the 100 TB tier both swap to percentile_approx with
# the same plan shape (a07/a08's pairing).
MAD_K = 1.4826  # normal-consistency constant
MAD_CUT = 3.0


@register(
    "a22_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, med, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type, med
    )
    SELECT d.event_type,
           ROUND(d.med, 6) AS median_value,
           ROUND(m.mad, 6) AS mad,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN ABS(d.value - d.med)
                      > {MAD_CUT} * {MAD_K} * m.mad THEN 1 END) AS n_outliers
    FROM dev d JOIN mad m USING (event_type, med)
    GROUP BY d.event_type, d.med, m.mad
    """,
    doc="A22 (ext.): MAD-based robust outliers per type — median absolute "
    "deviation survives contamination that inflates mean/stddev (v05's "
    "z-score fails at >15% bad data); two grouped exact-percentile "
    "passes, swap to percentile_approx at the 100 TB tier",
)
def a22_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    # med is functionally dependent on event_type — group/join on the
    # type alone so no floating-point column ever serves as a hash or
    # equality key (a float key silently drops rows the moment the two
    # sides stop deriving bit-identical doubles)
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    out = F.abs(F.col("value") - F.col("med")) > MAD_CUT * MAD_K * F.col("mad")
    return (
        dev.join(F.broadcast(mad), ["event_type"])
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(out, 1)).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n_rows",
            "n_outliers",
        )
    )


# --- a23: equi-width histogram ----------------------------------------------

HIST_WIDTH = 5000.0  # price-band width; bounds are fixed, not data-driven


@register(
    "a23_equiwidth_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(l_extendedprice / {HIST_WIDTH}) AS BIGINT) AS bucket,
           CAST(FLOOR(l_extendedprice / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH}
             AS lo,
           (CAST(FLOOR(l_extendedprice / {HIST_WIDTH}) AS BIGINT) + 1)
             * {HIST_WIDTH} AS hi,
           COUNT(*) AS n_lines,
           {sql_dsum("l_extendedprice")} AS revenue
    FROM lineitem
    GROUP BY 1
    """,
    doc="equi-width histogram of the price distribution: fixed-width "
    "bands via FLOOR arithmetic (bounds are constants, so the whole "
    "histogram is ONE map-combined hash aggregate over the scan — no "
    "pre-pass for min/max, no sort, ~21 output rows at any data scale; "
    "IEEE double division makes the band assignment bit-identical on "
    "any engine)",
)
def a23_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.floor(F.col("l_extendedprice") / HIST_WIDTH).cast("bigint")
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
        )
        .select(
            "bucket",
            (F.col("bucket") * HIST_WIDTH).alias("lo"),
            ((F.col("bucket") + 1) * HIST_WIDTH).alias("hi"),
            "n_lines",
            "revenue",
        )
    )


# --- A24: KMV (k-minimum-values) distinct sketch with exact re-aggregation.
# Complements a17's HLL: a KMV sketch is the k smallest hash values of the
# distinct keys. It is EXACTLY re-aggregatable — the k smallest of a union
# of per-partition k-smallest sets IS the global k-smallest set (any value
# with global rank <= k has rank <= k within its own partition) — and,
# unlike HLL, two sketches also yield intersection/Jaccard estimates.
# Because the hash is md5-derived (not engine-specific), the whole sketch,
# its kth-min value and the (k-1)/u_k estimator are deterministic and
# reproduced bit-for-bit by the DuckDB oracle: the driver certifies the
# SKETCH PATH itself, not just an invariant flag. The Spark plan builds
# per-day partial sketches first (the gold-table representation a
# pre-aggregate pipeline would persist), then merges them — the merged
# result provably equals the direct global computation the oracle runs.
KMV_K = 32
_KMV_HEX = 12  # 12 hex chars => 48-bit uniform, exact in a double
_KMV_SCALE = float(1 << 48)


@register(
    "a24_kmv_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             substr(md5(CAST(user_id AS VARCHAR)), 1, {_KMV_HEX}) AS hx
      FROM events
    ),
    unioned AS (
      SELECT event_type, hx FROM h
      UNION
      SELECT '__all__' AS event_type, hx FROM h
    ),
    ranked AS (
      SELECT event_type, hx,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rn
      FROM unioned
    ),
    sk AS (
      SELECT event_type, COUNT(*) AS n_in_sketch, MAX(hx) AS kth_min_hash
      FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
      GROUP BY event_type
      UNION ALL
      SELECT '__all__', COUNT(DISTINCT user_id) FROM events
    )
    SELECT sk.event_type, n_in_sketch, kth_min_hash,
           CASE WHEN n_in_sketch < {KMV_K}
                THEN CAST(n_in_sketch AS DOUBLE)
                ELSE ROUND(({KMV_K} - 1.0)
                     / (CAST(('0x' || kth_min_hash) AS BIGINT) / {_KMV_SCALE}), 6)
           END AS est_distinct,
           n_exact
    FROM sk JOIN exact ON sk.event_type = exact.event_type
    """,
    doc=f"A24: KMV distinct sketch (k={KMV_K} smallest md5-derived hash "
    "values per key) built as per-day partials and merged exactly — the "
    "re-aggregatable distinct-count representation that, unlike HLL, also "
    "supports intersection estimates between sketches; md5 determinism "
    "makes the sketch itself oracle-checkable, and the '__all__' row is "
    "the union of the per-type sketches (sketch set-union for free)",
)
def a24_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hx = F.substring(F.md5(F.col("user_id").cast("string")), 1, _KMV_HEX)

    # Per-day partial sketches: the bounded (<= k rows per day×type) state
    # a gold table would persist. distinct() collapses repeat visits
    # map-side; the top-k filter is a per-group sort of <= |day's users|
    # (WindowGroupLimit pushes a partial bottom-k below the exchange).
    daily = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        hx.alias("hx"),
    ).distinct()
    wd = W.partitionBy("day", "event_type").orderBy("hx")
    partials = (
        daily.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hx")
    )

    # Merge: same-value hashes from different days collapse via distinct;
    # '__all__' demonstrates sketch UNION across keys (merging partial
    # sketches instead of rescanning raw rows — the 100 TB rollup shape).
    # Domain assumption (VERDICT r11 item 5): the '__all__' sentinel this
    # explode introduces would conflate with a LITERAL 'event' type named
    # '__all__'; the events fixture has a closed 5-value event_type domain
    # (and no NULLs — a NULL would vanish from F.array's explode here but
    # keep its own exact-side rollup row), so neither collision can occur.
    # A production deployment with an open domain would key the merge on a
    # (grain, is_total) pair instead of an in-band sentinel string.
    # The per-type and '__all__' branches come out of ONE explode over the
    # partials (set-identical to distinct(per-type) ∪ distinct(all): both
    # dedup the same (grain, hx) universe), so the merge costs one small
    # exchange instead of two distincts + a union; the final groupBy then
    # reuses the window's event_type partitioning — no further exchange.
    both = partials.select(
        F.explode(F.array(F.col("event_type"), F.lit("__all__"))).alias(
            "event_type"
        ),
        "hx",
    ).distinct()
    wm = W.partitionBy("event_type").orderBy("hx")
    sk = (
        both.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_in_sketch"),
            F.max("hx").alias("kth_min_hash"),
        )
    )

    # Exact distinct per grain: exists so the DRIVER can certify the
    # estimator against truth; a production rollup would drop it. One
    # rollup scan computes the per-type rows AND the grand total (the
    # grouping-sets device) instead of two separate scans of events.
    exact = (
        ev.rollup("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.grouping_id("event_type").alias("_gid"),
        )
        .select(
            F.when(F.col("_gid") == 1, F.lit("__all__"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            "n_exact",
        )
    )
    u_k = F.conv(F.col("kth_min_hash"), 16, 10).cast("long") / F.lit(_KMV_SCALE)
    est = F.when(
        F.col("n_in_sketch") < KMV_K, F.col("n_in_sketch").cast("double")
    ).otherwise(F.round((KMV_K - 1.0) / u_k, 6))
    return sk.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_in_sketch", "kth_min_hash",
        est.alias("est_distinct"), "n_exact",
    )


# --- A25: sketch set operations — KMV intersection / Jaccard estimates.
# The capability HLL fundamentally lacks (HLL unions compose, intersections
# via inclusion-exclusion blow up): for two KMV sketches, the k smallest of
# their union L is itself a valid KMV sample of A∪B, and the fraction of L
# present in BOTH sketches estimates Jaccard(A,B); scaling by the union
# estimate gives |A∩B|. Everything is md5-deterministic, so the oracle
# reproduces the estimates bit-for-bit AND carries the exact intersection
# for calibration — the driver certifies estimator + truth side by side.
@register(
    "a25_sketch_intersection",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             substr(md5(CAST(user_id AS VARCHAR)), 1, {_KMV_HEX}) AS hx
      FROM events
    ),
    sk AS (
      SELECT event_type, hx FROM (
        SELECT event_type, hx,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rn
        FROM h
      ) WHERE rn <= {KMV_K}
    ),
    tp AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM sk) a
      JOIN (SELECT DISTINCT event_type FROM sk) b
        ON a.event_type < b.event_type
    ),
    tagged AS (
      SELECT tp.type_a, tp.type_b, sk.hx,
             MAX(CASE WHEN sk.event_type = tp.type_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN sk.event_type = tp.type_b THEN 1 ELSE 0 END) AS in_b
      FROM tp JOIN sk
        ON sk.event_type IN (tp.type_a, tp.type_b)
      GROUP BY tp.type_a, tp.type_b, sk.hx
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY type_a, type_b ORDER BY hx) AS rn
      FROM tagged
    ),
    merged AS (
      SELECT type_a, type_b,
             COUNT(*) AS n_merged,
             MAX(hx) AS kth,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_common
      FROM ranked WHERE rn <= {KMV_K}
      GROUP BY type_a, type_b
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_exact_intersection
      FROM (SELECT DISTINCT event_type, user_id FROM events) a
      JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT m.type_a, m.type_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / n_merged, 6) AS jaccard_est,
           ROUND((CAST(n_common AS DOUBLE) / n_merged)
                 * CASE WHEN n_merged < {KMV_K}
                        THEN CAST(n_merged AS DOUBLE)
                        ELSE ({KMV_K} - 1.0)
                          / (CAST(('0x' || kth) AS BIGINT) / {_KMV_SCALE}) END,
                 6) AS est_intersection,
           COALESCE(n_exact_intersection, 0) AS n_exact_intersection
    FROM merged m LEFT JOIN exact e
      ON m.type_a = e.type_a AND m.type_b = e.type_b
    """,
    doc=f"A25: KMV sketch intersections — for every event-type pair, the "
    f"k={KMV_K} smallest hashes of the union form a valid sample whose "
    "both-sketch fraction estimates Jaccard; scaled by the union estimate "
    "it yields |A∩B| with the exact intersection alongside for "
    "calibration. Sketches are bounded (k rows/key), so the pairwise "
    "stage costs k x |pairs| — never touches raw data again: the "
    "overlap-matrix pattern (x33) at 100 TB without rescanning sources",
)
def a25_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hx = F.substring(F.md5(F.col("user_id").cast("string")), 1, _KMV_HEX)
    h = ev.select("event_type", hx.alias("hx")).distinct()
    wk = W.partitionBy("event_type").orderBy("hx")
    sk = (
        h.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hx")
    )
    types = sk.select("event_type").distinct()
    tp = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    tagged = (
        tp.join(
            F.broadcast(sk),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "hx")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("type_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == F.col("type_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    wp = W.partitionBy("type_a", "type_b").orderBy("hx")
    merged = (
        tagged.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_merged"),
            F.max("hx").alias("kth"),
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
            ).alias("n_common"),
        )
    )
    du = ev.select("event_type", "user_id").distinct()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(du.select(F.col("event_type").alias("type_b"), "user_id"), "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_exact_intersection"))
    )
    jac = F.col("n_common").cast("double") / F.col("n_merged")
    est_union = F.when(
        F.col("n_merged") < KMV_K, F.col("n_merged").cast("double")
    ).otherwise(
        (KMV_K - 1.0)
        / (F.conv(F.col("kth"), 16, 10).cast("long") / F.lit(_KMV_SCALE))
    )
    out = (
        merged.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(jac, 6).alias("jaccard_est"),
            F.round(jac * est_union, 6).alias("est_intersection"),
            F.coalesce("n_exact_intersection", F.lit(0)).alias(
                "n_exact_intersection"
            ),
        )
    )
    return out


# --- A26: exact weighted median (cumulative-weight crossing) -----------------
# The weighted-percentile primitive percentile_approx cannot express: the
# value at which cumulative WEIGHT (not row count) crosses half the total.
# Used for "median price weighted by volume"-style measures. Exact decimal
# cumulative sums + a deterministic (value, key) order make the crossing
# row engine-independent, so the result is oracle-exact — no approx
# fallback needed until the per-group sort itself becomes the bottleneck
# (then: percentile_approx on a weight-expanded sample).
@register(
    "a26_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice AS v,
             CAST(l_quantity AS DECIMAL(27,6)) AS wt,
             SUM(CAST(l_quantity AS DECIMAL(27,6))) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cumw,
             SUM(CAST(l_quantity AS DECIMAL(27,6)))
               OVER (PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(v) AS weighted_median,
           CAST(MIN(total) AS DOUBLE) AS total_weight
    FROM w
    WHERE cumw * 2 >= total
    GROUP BY l_returnflag
    """,
    doc="A26: exact weighted median of price by quantity per return flag — "
    "first value whose exact-decimal cumulative weight crosses half the "
    "group total, with (value, orderkey, linenumber) as a total order so "
    "every engine picks the identical crossing row; one per-group "
    "sort+window, the same exchange the group's other windows share",
)
def a26_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(27,6)")
    wc = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(wt).over(wc).alias("cumw"),
        F.sum(wt).over(wp).alias("total"),
    )
    return (
        t.filter(F.col("cumw") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("total").cast("double").alias("total_weight"),
        )
    )


# --- A27: KMV accuracy-vs-size calibration sweep -----------------------------
# The sketch-sizing question every pre-aggregate design asks: how much
# accuracy does each doubling of k buy? One pass builds nested sketches
# (the k-min set for k=8 is a prefix of the k=64 set, so ONE ranked scan
# serves every k) and emits the estimator's relative error per k against
# the exact count — md5-determinism makes the whole sweep oracle-exact.
KMV_SWEEP_KS = [8, 16, 32, 64]


@register(
    "a27_kmv_error_sweep",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, {_KMV_HEX}) AS hx
      FROM events
    ),
    ranked AS (
      SELECT hx, ROW_NUMBER() OVER (ORDER BY hx) AS rn, COUNT(*) OVER () AS n_exact
      FROM h
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in KMV_SWEEP_KS)}]) AS k)
    SELECT k,
           LEAST(k, CAST(MIN(n_exact) AS BIGINT)) AS n_in_sketch,
           CASE WHEN MIN(n_exact) < k THEN CAST(MIN(n_exact) AS DOUBLE)
                ELSE ROUND((k - 1.0)
                     / (CAST(('0x' || MAX(CASE WHEN rn <= k THEN hx END))
                             AS BIGINT) / {_KMV_SCALE}), 6)
           END AS est_distinct,
           CAST(MIN(n_exact) AS BIGINT) AS n_exact,
           CASE WHEN MIN(n_exact) < k THEN 0.0
                ELSE ROUND(ABS((k - 1.0)
                     / (CAST(('0x' || MAX(CASE WHEN rn <= k THEN hx END))
                             AS BIGINT) / {_KMV_SCALE})
                     - MIN(n_exact)) / MIN(n_exact), 6)
           END AS rel_err
    FROM ranked CROSS JOIN ks
    GROUP BY k
    """,
    doc="A27: KMV accuracy-vs-size sweep — nested sketches (every k-min "
    "set is a prefix of the largest) built from ONE ranked scan of "
    "distinct hashes, with the (k-1)/u_k estimator's relative error "
    "reported per k against the exact count. The empirical answer to "
    "'what k do my gold-table sketches need', computed without a "
    "second scan per candidate k; fully oracle-exact via md5 hashing",
)
def a27_kmv_error_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hx = F.substring(F.md5(F.col("user_id").cast("string")), 1, _KMV_HEX)
    h = ev.select(hx.alias("hx")).distinct()
    # Only the max(k) smallest hashes can ever be a kth-minimum, so rank
    # a TakeOrdered prefix (per-partition heaps, distributed) instead of
    # row_number over the full distinct-hash set — the naive global
    # window single-partitions EVERY distinct user at 100 TB. The exact
    # count rides along as a 1-row broadcast.
    top = h.orderBy("hx").limit(max(KMV_SWEEP_KS))
    totals = h.agg(F.count("*").alias("n_exact"))
    ranked = (
        top.withColumn("rn", F.row_number().over(W.orderBy("hx")))
        .crossJoin(F.broadcast(totals))
        .select("hx", "rn", "n_exact")
    )
    from ..sources.catalog import literal_df

    ks = literal_df(spark, [(k,) for k in KMV_SWEEP_KS], "k int")
    kth = F.max(F.when(F.col("rn") <= F.col("k"), F.col("hx")))
    grouped = (
        ranked.join(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.least(
                F.col("k").cast("bigint"), F.min("n_exact").cast("bigint")
            ).alias("n_in_sketch"),
            kth.alias("_kth"),
            F.min("n_exact").alias("_n_exact"),
        )
    )
    u_k2 = F.conv(F.col("_kth"), 16, 10).cast("long") / F.lit(_KMV_SCALE)
    est2 = (F.col("k") - 1.0) / u_k2
    under2 = F.col("_n_exact") < F.col("k")
    return grouped.select(
        "k",
        "n_in_sketch",
        F.when(under2, F.col("_n_exact").cast("double"))
        .otherwise(F.round(est2, 6))
        .alias("est_distinct"),
        F.col("_n_exact").cast("bigint").alias("n_exact"),
        F.when(under2, F.lit(0.0))
        .otherwise(
            F.round(F.abs(est2 - F.col("_n_exact")) / F.col("_n_exact"), 6)
        )
        .alias("rel_err"),
    )


# --- a28: grouped ORDERED string aggregation (LISTAGG / string_agg) ----------
@register(
    "a28_ordered_string_agg",
    # Scale shape: string_agg over a whole group is unbounded state, so
    # the group is pre-limited to its K smallest keys with a windowed
    # row_number (one exchange serves BOTH the rank and the group-size
    # count), and only that bounded prefix is collected and joined.
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           MAX(n_orders) AS n_orders,
           string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS first_keys
    FROM (
      SELECT o_orderpriority, o_orderstatus, o_orderkey,
             COUNT(*) OVER (PARTITION BY o_orderpriority, o_orderstatus)
               AS n_orders,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority, o_orderstatus
                                ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 5
    GROUP BY 1, 2
    """,
    doc="a28 (ext.): LISTAGG/string_agg — grouped ORDERED string "
    "concatenation, the reporting op ANSI added as LISTAGG. Spark has "
    "no ordered string_agg; the engine expression is sort_array("
    "collect_list(...)) + array_join over a window-bounded K-row prefix "
    "per group, so collected state is K rows regardless of group size "
    "(the unbounded whole-group LISTAGG is a scale killer)",
)
def a28_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority", "o_orderstatus")
    ranked = o.select(
        "o_orderpriority",
        "o_orderstatus",
        "o_orderkey",
        F.count("*").over(w).alias("n_orders"),
        F.row_number().over(w.orderBy("o_orderkey")).alias("rn"),
    ).filter(F.col("rn") <= 5)
    return ranked.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.max("n_orders").alias("n_orders"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda k: k.cast("string"),
            ),
            ",",
        ).alias("first_keys"),
    )


# --- a29 (ext.): bottom-k sample quantile sketch ------------------------------

# Sample size per group. 64 keeps the sketch bounded and mergeable the
# same way a24's KMV state is: the union of two groups' bottom-64 sets
# contains the union's bottom-64.
SQ_K = 64


@register(
    "a29_sample_quantile_sketch",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS hrn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_total
      FROM events
    ),
    sample AS (
      SELECT event_type, value, n_total,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, md5(CAST(value AS VARCHAR)))
               AS vrn,
             COUNT(*) OVER (PARTITION BY event_type) AS k_actual
      FROM ranked WHERE hrn <= {SQ_K}
    )
    SELECT event_type,
           MAX(n_total) AS n_total,
           CAST(MAX(k_actual) AS BIGINT) AS k_actual,
           MAX(CASE WHEN vrn = CAST(ceil(0.5 * k_actual) AS BIGINT)
                    THEN value END) AS sample_median,
           MAX(CASE WHEN vrn = CAST(ceil(0.9 * k_actual) AS BIGINT)
                    THEN value END) AS sample_p90
    FROM sample GROUP BY event_type
    """,
    doc=f"a29 (ext.): sample-quantile sketch — per key, the {SQ_K} rows "
    "with the smallest md5(row-key) form a deterministic uniform sample "
    "(the value-domain analog of a24's KMV distinct sketch, and "
    "mergeable by the same bottom-k law, so per-day partials combine "
    "exactly); the nearest-rank median/p90 of the sample approximate the "
    "group quantiles with a k-row memory bound no exact percentile can "
    "give at 100 TB. Selection is nearest-rank (an ACTUAL sampled value, "
    "no midpoint interpolation), which is also what makes the sketch "
    "engine-exact where approx_percentile never is. Shape: two ranked "
    "windows over k-bounded state + one hash agg",
)
def a29_sample_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")

    # Per-day partial samples (a24's device): bottom-k within (day, type)
    # bounds every window partition by one day's rows; the union of
    # partials contains the global bottom-k because bottom-k-by-hash is
    # mergeable. No group ever sorts more than a day's rows in one place.
    keyed = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        F.md5(F.col("event_id").cast("string")).alias("hx"),
        "event_id",
    )
    wd = W.partitionBy("day", "event_type").orderBy("hx", "event_id")
    partials = (
        keyed.withColumn("hrn", F.row_number().over(wd))
        .filter(F.col("hrn") <= SQ_K)
        .select("event_type", "value", "hx", "event_id")
    )
    # Final merge: bottom-k of the (days x k)-bounded partial union.
    wm = W.partitionBy("event_type").orderBy("hx", "event_id")
    kept = (
        partials.withColumn("hrn", F.row_number().over(wm))
        .filter(F.col("hrn") <= SQ_K)
    )
    # n_total is a plain map-combined hash agg, never a window.
    totals = ev.groupBy("event_type").agg(F.count("*").alias("n_total"))
    sample = kept.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "value",
        "n_total",
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                "value", F.md5(F.col("value").cast("string"))
            )
        )
        .alias("vrn"),
        F.count("*").over(W.partitionBy("event_type")).alias("k_actual"),
    )
    return sample.groupBy("event_type").agg(
        F.max("n_total").alias("n_total"),
        F.max("k_actual").cast("bigint").alias("k_actual"),
        F.max(
            F.when(
                F.col("vrn")
                == F.ceil(0.5 * F.col("k_actual")).cast("bigint"),
                F.col("value"),
            )
        ).alias("sample_median"),
        F.max(
            F.when(
                F.col("vrn")
                == F.ceil(0.9 * F.col("k_actual")).cast("bigint"),
                F.col("value"),
            )
        ).alias("sample_p90"),
    )


# --- a30 (ext.): Pareto / revenue-concentration audit ------------------------

PARETO_PCTS = [1, 5, 10, 25]


@register(
    "a30_pareto_concentration",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             SUM(CAST(value AS DECIMAL(27,6))) AS tot
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, tot,
             ROW_NUMBER() OVER (ORDER BY tot DESC, user_id) AS rk,
             COUNT(*) OVER () AS n_users,
             SUM(tot) OVER () AS grand
      FROM per_user
    ),
    grid AS (SELECT unnest([{", ".join(str(p) for p in PARETO_PCTS)}]) AS pct)
    SELECT g.pct,
           CAST(CEIL(g.pct * r0.n_users / 100.0) AS BIGINT) AS n_top_users,
           CAST(SUM(CASE WHEN r.rk <= CEIL(g.pct * r0.n_users / 100.0)
                         THEN r.tot END) AS DOUBLE)
             / CAST(MAX(r.grand) AS DOUBLE) AS value_share
    FROM grid g
    CROSS JOIN (SELECT MAX(n_users) AS n_users FROM ranked) r0
    JOIN ranked r ON TRUE
    GROUP BY g.pct, r0.n_users
    """,
    doc=f"a30 (ext.): Pareto concentration audit — for the top "
    f"{PARETO_PCTS}% of users by total event value, the share of grand "
    "total they contribute (the skew-discovery table that motivates k01's "
    "salting and capacity planning). Exactness: per-user totals are "
    "exact DECIMAL sums; ranks are integer; each share is one final IEEE "
    "quotient of two exact decimal sums. Scale shape: one user-keyed "
    "map-combined agg, then every window runs over |users| rows (already "
    "reduced), and the percent grid is a constant 4-element explode",
)
def a30_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("tot")
    )
    ranked = per_user.select(
        "tot",
        F.row_number()
        .over(W.orderBy(F.desc("tot"), F.asc("user_id")))
        .alias("rk"),
        F.count("*").over(W.partitionBy()).alias("n_users"),
        F.sum("tot").over(W.partitionBy()).alias("grand"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in PARETO_PCTS])).alias("pct")
    )
    cut = F.ceil(F.col("pct") * F.col("n_users") / 100.0).cast("bigint")
    return (
        grid.crossJoin(ranked)
        .groupBy("pct")
        .agg(
            F.max(cut).alias("n_top_users"),
            (
                F.sum(F.when(F.col("rk") <= cut, F.col("tot"))).cast("double")
                / F.max("grand").cast("double")
            ).alias("value_share"),
        )
    )


# --- a31 (ext.): Theil–Sen robust trend --------------------------------------


@register(
    "a31_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(27,6))) AS sy,
             COUNT(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    xy AS (
      SELECT event_type,
             CAST(d - MIN(d) OVER (PARTITION BY event_type) AS BIGINT) AS x,
             CAST(sy AS DOUBLE) / cnt AS y
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type, a.x AS xi, b.x AS xj,
             (b.y - a.y) / (b.x - a.x) AS slope
      FROM xy a JOIN xy b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    rp AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY slope, xi, xj) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM pairs
    ),
    med AS (
      SELECT event_type, AVG(slope) AS slope, MAX(m) AS n_pairs
      FROM rp WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
      GROUP BY event_type
    ),
    resid AS (
      SELECT xy.event_type, xy.x, xy.y - med.slope * xy.x AS b
      FROM xy JOIN med USING (event_type)
    ),
    rb AS (
      SELECT event_type, b,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b, x) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM resid
    ),
    medb AS (
      SELECT event_type, AVG(b) AS intercept, MAX(m) AS n_days
      FROM rb WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
      GROUP BY event_type
    )
    SELECT m.event_type, CAST(mb.n_days AS BIGINT) AS n_days,
           CAST(m.n_pairs AS BIGINT) AS n_pairs,
           m.slope AS slope_per_day, mb.intercept
    FROM med m JOIN medb mb USING (event_type)
    """,
    doc="a31 (ext.): Theil–Sen robust trend per event_type — median of all "
    "pairwise day-over-day slopes of the daily mean, plus the median-"
    "residual intercept (the outlier-resistant drift estimate a sensor "
    "fleet reports when OLS (m06) is skewed by spike days). Exactness: "
    "daily means are exact-decimal sums cast to DOUBLE once over exact "
    "integer counts; every pairwise slope is one IEEE quotient of "
    "identical doubles; the median picks elements by rank (odd) or "
    "averages the two middle values ((a+b)/2, commutative and identical "
    "in both engines) — nothing is ever rounded. Scale shape: the O(n) "
    "event stream reduces map-side to one row per (type, day) BEFORE "
    "any pairing, so the quadratic pair space is bounded by the time "
    "window length (d(d-1)/2 per type for d days), never by corpus "
    "size; the rank windows then run on that constant-bounded table. "
    "Reference analog: trend slopes over daily aggregates in "
    "src/enhanced_spark_etl.py:500-540",
)
def a31_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round("value", 6).cast("decimal(27,6)")).alias("sy"),
            F.count("*").alias("cnt"),
        )
    )
    xy = daily.select(
        "event_type",
        F.datediff(
            "d", F.min("d").over(W.partitionBy("event_type"))
        )
        .cast("bigint")
        .alias("x"),
        (F.col("sy").cast("double") / F.col("cnt")).alias("y"),
    )
    a = xy.select("event_type", F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = xy.select("event_type", F.col("x").alias("xj"), F.col("y").alias("yj"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("xi") < F.col("xj"))
        .select(
            "event_type",
            "xi",
            "xj",
            ((F.col("yj") - F.col("yi")) / (F.col("xj") - F.col("xi"))).alias(
                "slope"
            ),
        )
    )

    def median_of(df, val, order, out, n_out):
        wp = W.partitionBy("event_type")
        r = df.select(
            "event_type",
            F.col(val),
            F.row_number().over(wp.orderBy(*order)).alias("rn"),
            F.count("*").over(wp).alias("m"),
        )
        lo = F.floor((F.col("m") + 1) / 2)
        hi = F.floor((F.col("m") + 2) / 2)
        return (
            r.filter((F.col("rn") == lo) | (F.col("rn") == hi))
            .groupBy("event_type")
            .agg(F.avg(val).alias(out), F.max("m").cast("bigint").alias(n_out))
        )

    med = median_of(pairs, "slope", ["slope", "xi", "xj"], "slope", "n_pairs")
    resid = xy.join(F.broadcast(med), "event_type").select(
        "event_type",
        "x",
        (F.col("y") - F.col("slope") * F.col("x")).alias("b"),
    )
    medb = median_of(resid, "b", ["b", "x"], "intercept", "n_days")
    return (
        med.join(medb, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.col("slope").alias("slope_per_day"),
            "intercept",
        )
    )


# --- a32 (ext.): Benford first-digit audit -----------------------------------


@register(
    "a32_benford_audit",
    oracle="""
    WITH c AS (
      SELECT CAST(ROUND(l_extendedprice * 1000000, 0) AS BIGINT) AS micros
      FROM lineitem WHERE l_extendedprice > 0
    ),
    d AS (
      SELECT CAST(SUBSTRING(CAST(micros AS VARCHAR), 1, 1) AS INT) AS digit
      FROM c WHERE micros > 0
    ),
    o AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
    n AS (SELECT SUM(n_obs) AS n_total FROM o)
    SELECT o.digit, CAST(o.n_obs AS BIGINT) AS n_obs,
           ROUND(LN(1.0 + 1.0 / o.digit), 6) / ROUND(LN(10), 6)
             AS expected_share,
           CAST(n.n_total AS BIGINT) AS n_total,
           (CAST(o.n_obs AS DOUBLE) / n.n_total)
             / (ROUND(LN(1.0 + 1.0 / o.digit), 6) / ROUND(LN(10), 6))
             AS obs_over_expected
    FROM o CROSS JOIN n
    """,
    doc="a32 (ext.): Benford first-significant-digit audit of "
    "l_extendedprice — observed digit counts vs the Benford expectation "
    "log10(1+1/d) with the observed/expected ratio per digit (the "
    "classic financial-anomaly / synthetic-data-detection screen; a "
    "ratio far from 1 on low digits flags fabricated or truncated "
    "amounts). Exactness: values quantize to exact integer micros "
    "(round-then-cast, never a truncating double->int cast) and the "
    "first digit is taken from the integer's decimal string — no "
    "log10-boundary risk; the expectation is a ratio of two round-6 ln "
    "terms, an IEEE quotient of identical doubles in both engines; "
    "per-digit output avoids any "
    "order-dependent float total. Scale shape: one map-combined "
    "9-bucket agg over the scan — word-count shape at any corpus "
    "size. Reference analog: distribution checks in "
    "src/data_validator.py:240-280",
)
def a32_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    micros = F.round(F.col("l_extendedprice") * 1000000, 0).cast("bigint")
    d = (
        li.filter(F.col("l_extendedprice") > 0)
        .select(micros.alias("micros"))
        .filter(F.col("micros") > 0)
        .select(
            F.substring(F.col("micros").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    o = d.groupBy("digit").agg(F.count("*").alias("n_obs"))
    n = o.agg(F.sum("n_obs").alias("n_total"))

    share = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6
    ) / F.round(F.log(F.lit(10.0)), 6)
    return o.crossJoin(F.broadcast(n)).select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        share.alias("expected_share"),
        F.col("n_total").cast("bigint").alias("n_total"),
        (
            (F.col("n_obs").cast("double") / F.col("n_total"))
            / share
        ).alias("obs_over_expected"),
    )


# --- a33 (ext.): Gini coefficient of the token distribution -------------------


@register(
    "a33_gini_concentration",
    # The inequality statistic behind "is this source a few mega-docs or
    # many small ones" — the full-distribution complement to a30's
    # top-k Pareto share. Closed form on sorted values:
    # G = (2*Σ i*x_(i) - (n+1)*Σx) / (n*Σx), i = ascending rank.
    # Exactness: token counts are integers, so every moment (Σx, Σ i*x)
    # is an exact BIGINT sum; the single quotient is one IEEE division.
    # Ties in x are broken by doc_id — but the Gini formula is invariant
    # to the order WITHIN a tie group (equal x contribute the same
    # Σ i*x for any permutation of consecutive ranks), so the tiebreak
    # only pins engine agreement, it never changes the statistic.
    oracle="""
    WITH tok AS (
      SELECT source, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x
      FROM documents
    ),
    ranked AS (
      SELECT source, x,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY x, doc_id) AS i
      FROM tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(x) AS BIGINT) AS total_tokens,
           ROUND((2.0 * SUM(i * x) - (COUNT(*) + 1.0) * SUM(x))
                 / (CAST(COUNT(*) AS DOUBLE) * SUM(x)), 6) AS gini
    FROM ranked GROUP BY source
    """,
    doc="a33 (ext.): per-source Gini coefficient of doc token counts — "
    "the inequality audit that tells a data-mixing pipeline whether a "
    "source's token mass sits in a few huge docs (cap-sampling them "
    "distorts the mix) or spreads evenly; complements a30's top-k "
    "Pareto share with the full-distribution statistic. Integer-exact "
    "moments off one rank window + one hash agg; the rank sort is "
    "per-source (hash-partitioned), never global",
)
def a33_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("x"),
    )
    ranked = tok.select(
        "source",
        "x",
        F.row_number()
        .over(W.partitionBy("source").orderBy("x", "doc_id"))
        .alias("i"),
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("x").cast("bigint").alias("total_tokens"),
        F.round(
            (
                2.0 * F.sum(F.col("i") * F.col("x"))
                - (F.count("*") + 1.0) * F.sum("x")
            )
            / (F.count("*").cast("double") * F.sum("x")),
            6,
        ).alias("gini"),
    )


# --- a34 (ext.): last-touch conversion attribution ----------------------------

_A34_WINDOW_S = 3600  # attribution lookback: 1 hour


@register(
    "a34_last_touch_attribution",
    # Last-touch = per conversion, the most recent PRIOR non-purchase
    # event by the same user within the lookback — an as-of join (j09's
    # shape) resolved here with ONE user-partitioned sort window over the
    # unioned stream: tag rows, lag() the last non-target event's type
    # and time forward, filter to conversions in-window. Ties at the
    # same timestamp break by event_id (unique), pinning both engines.
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    -- argmax-by-(sec,event_id) as a lexicographic MAX over a zero-padded
    -- string key: fixed-width digits sort identically to the integer
    -- tuple, so MAX carries the LATEST prior touch and its payload
    lastsrc AS (
      SELECT user_id, event_id, event_type, sec,
             MAX(CASE WHEN event_type <> 'purchase'
                      THEN printf('%012d%012d', sec, event_id)
                           || event_type END)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_key
      FROM tagged
    )
    SELECT COALESCE(CASE WHEN sec - CAST(substr(prior_key, 1, 12) AS BIGINT)
                              <= {_A34_WINDOW_S}
                         THEN substr(prior_key, 25) END, '(none)')
             AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM lastsrc WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="a34 (ext.): last-touch conversion attribution — each purchase "
    f"credits the user's most recent non-purchase event within "
    f"{_A34_WINDOW_S}s, unattributed conversions fall to '(none)'; "
    "resolved with ONE user-partitioned running window over the event "
    "stream (the as-of join j09 materializes, done here in-stream: no "
    "second scan, no join). The funnel-credit query a growth dashboard "
    "runs; exact integer counts, shares are single quotients",
)
def a34_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nonp = F.col("event_type") != "purchase"
    key = F.concat(
        F.format_string("%012d%012d", F.col("sec"), F.col("event_id")),
        F.col("event_type"),
    )
    tagged = ev.select(
        "event_type",
        "sec",
        F.max(F.when(nonp, key)).over(w).alias("prior_key"),
    )
    conv = tagged.filter(F.col("event_type") == "purchase").select(
        F.coalesce(
            F.when(
                F.col("sec") - F.substring("prior_key", 1, 12).cast("bigint")
                <= _A34_WINDOW_S,
                F.expr("substr(prior_key, 25)"),
            ),
            F.lit("(none)"),
        ).alias("touch_type")
    )
    agg = conv.groupBy("touch_type").agg(
        F.count("*").cast("bigint").alias("n_conversions")
    )
    return agg.select(
        "touch_type",
        "n_conversions",
        F.round(
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(W.partitionBy()),
            6,
        ).alias("share"),
    )


# --- a35 (ext.): RFM segmentation ----------------------------------------------


@register(
    "a35_rfm_segments",
    # Quintile scoring WITHOUT a global ntile window: exact interpolated
    # quintile thresholds (a07's engine-exact percentile device) computed
    # once over the user pre-agg, broadcast back, and banded with CASE —
    # fully parallel at any user count where ntile would need a global
    # sort. Recency is integer seconds, frequency integer counts,
    # monetary an exact decimal sum cast once to double; all band
    # comparisons run on unrounded identical doubles.
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST((SELECT MAX(FLOOR(epoch(ts))) FROM events)
                  - MAX(FLOOR(epoch(ts))) AS BIGINT) AS rec,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS mon
      FROM events GROUP BY user_id
    ),
    th AS (
      SELECT quantile_cont(CAST(rec AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS tr,
             quantile_cont(CAST(freq AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS tf,
             quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS tm
      FROM u
    ),
    scored AS (
      SELECT
        CASE WHEN rec <= tr[1] THEN 5 WHEN rec <= tr[2] THEN 4
             WHEN rec <= tr[3] THEN 3 WHEN rec <= tr[4] THEN 2
             ELSE 1 END AS r_score,
        CASE WHEN freq <= tf[1] THEN 1 WHEN freq <= tf[2] THEN 2
             WHEN freq <= tf[3] THEN 3 WHEN freq <= tf[4] THEN 4
             ELSE 5 END AS f_score,
        CASE WHEN mon <= tm[1] THEN 1 WHEN mon <= tm[2] THEN 2
             WHEN mon <= tm[3] THEN 3 WHEN mon <= tm[4] THEN 4
             ELSE 5 END AS m_score,
        mon
      FROM u CROSS JOIN th
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(mon AS DECIMAL(27,6))) AS DOUBLE)
             AS total_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    doc="a35 (ext.): RFM (recency/frequency/monetary) segmentation — "
    "per-user moments off one hash agg, quintile thresholds via the "
    "exact interpolated percentile (a07's device) instead of a global "
    "ntile sort, CASE banding broadcast back, segment population + "
    "exact monetary mass per (R,F,M) cell. The lifecycle-marketing "
    "segmentation every customer warehouse ships; here it doubles as "
    "the sensor-fleet activity triage (recently-reporting x chatty x "
    "high-volume). Scale: two passes over the USER pre-agg (threshold "
    "agg + banding scan), zero windows, zero global sorts",
)
def a35_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts"))
    gmax = ev.agg(F.max(sec).alias("gmax"))
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(sec).alias("umax"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("mon"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            (F.col("gmax") - F.col("umax")).cast("bigint").alias("rec"),
            "freq",
            "mon",
        )
    )
    th = u.agg(
        F.percentile(F.col("rec").cast("double"), F.lit([0.2, 0.4, 0.6, 0.8])).alias("tr"),
        F.percentile(F.col("freq").cast("double"), F.lit([0.2, 0.4, 0.6, 0.8])).alias("tf"),
        F.percentile("mon", F.lit([0.2, 0.4, 0.6, 0.8])).alias("tm"),
    )

    def band(c, t, asc: bool):
        scores = [1, 2, 3, 4, 5] if asc else [5, 4, 3, 2, 1]
        expr = F.when(c <= t[0], scores[0])
        for i in range(1, 4):
            expr = expr.when(c <= t[i], scores[i])
        return expr.otherwise(scores[4])

    scored = u.crossJoin(F.broadcast(th)).select(
        band(F.col("rec"), F.col("tr"), False).cast("int").alias("r_score"),
        band(F.col("freq"), F.col("tf"), True).cast("int").alias("f_score"),
        band(F.col("mon"), F.col("tm"), True).cast("int").alias("m_score"),
        "mon",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("mon").cast("decimal(27,6)"))
        .cast("double")
        .alias("total_monetary"),
    )


# --- a36 (ext.): winsorized robust statistics ----------------------------------


@register(
    "a36_winsorized_stats",
    # Winsorize at the exact interpolated [p05, p95] (a07's engine-exact
    # percentile), then aggregate the CLAMPED values in exact decimal.
    # Clamping compares raw doubles against unrounded thresholds —
    # identical IEEE comparisons both engines — so the clamped multiset
    # is identical before any arithmetic happens.
    oracle="""
    WITH th AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    ),
    cl AS (
      SELECT e.event_type,
             CASE WHEN e.value < t.lo THEN t.lo
                  WHEN e.value > t.hi THEN t.hi
                  ELSE e.value END AS w,
             CASE WHEN e.value < t.lo OR e.value > t.hi
                  THEN 1 ELSE 0 END AS clamped
      FROM events e JOIN th t USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(clamped) AS BIGINT) AS n_clamped,
           ROUND(CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(*), 6) AS winsorized_mean,
           ROUND(MIN(w), 6) AS w_min,
           ROUND(MAX(w), 6) AS w_max
    FROM cl GROUP BY event_type
    """,
    doc="a36 (ext.): winsorized statistics per event type — clamp to "
    "the exact interpolated [p05, p95] (a07's percentile device) and "
    "aggregate the clamped values in exact decimal: the robust mean a "
    "billing/telemetry rollup uses so one stuck sensor can't drag a "
    "district average. Scale: one percentile agg + broadcast of the "
    "per-type bounds onto the scan (map-only clamp), one decimal hash "
    "agg; complements a22's MAD (outlier FLAGGING) with outlier-"
    "RESISTANT estimation",
)
def a36_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    w = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    clamped = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    cl = ev.join(F.broadcast(th), "event_type").select(
        "event_type", w.alias("w"), clamped.cast("int").alias("clamped")
    )
    return cl.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        F.round(
            F.sum(F.col("w").cast("decimal(27,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("winsorized_mean"),
        F.round(F.min("w"), 6).alias("w_min"),
        F.round(F.max("w"), 6).alias("w_max"),
    )


# --- a37 (ext.): Spearman rank correlation, ties-aware --------------------------

_A37_COLS = ["l_quantity", "l_discount", "l_tax"]
_A37_PAIRS = [
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_discount", "l_tax"),
]


@register(
    "a37_spearman_corr",
    # Spearman = Pearson over AVERAGE ranks (ties share the mean of the
    # positions they occupy). The scale device: ranks come from the
    # VALUE DOMAIN, not a global row sort — each column pre-aggregates
    # to its distinct values (these three columns are low-cardinality
    # by schema: ~50 quantities, ~11 discounts, ~9 taxes), a prefix-sum
    # window over that tiny table yields avg_rank(v) = cnt_less +
    # (cnt+1)/2, and the rank map BROADCASTS back onto the fact scan.
    # No row ever moves for ranking. Ranks are integers or halves, so
    # decimal-moment sums make every rho engine-exact.
    oracle="""
    WITH f AS (SELECT l_quantity, l_discount, l_tax FROM lineitem),
    rq AS (
      SELECT l_quantity AS v,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY l_quantity
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (COUNT(*) + 1) / 2.0 AS r
      FROM f GROUP BY l_quantity
    ),
    rd AS (
      SELECT l_discount AS v,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY l_discount
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (COUNT(*) + 1) / 2.0 AS r
      FROM f GROUP BY l_discount
    ),
    rt AS (
      SELECT l_tax AS v,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY l_tax
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (COUNT(*) + 1) / 2.0 AS r
      FROM f GROUP BY l_tax
    ),
    ranked AS (
      SELECT CAST(rq.r AS DECIMAL(19,6)) AS xq,
             CAST(rd.r AS DECIMAL(19,6)) AS xd,
             CAST(rt.r AS DECIMAL(19,6)) AS xt
      FROM f
      JOIN rq ON rq.v = f.l_quantity
      JOIN rd ON rd.v = f.l_discount
      JOIN rt ON rt.v = f.l_tax
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(xq) AS DOUBLE) AS sq,
             CAST(SUM(xd) AS DOUBLE) AS sd,
             CAST(SUM(xt) AS DOUBLE) AS st,
             CAST(SUM(xq*xq) AS DOUBLE) AS sqq,
             CAST(SUM(xd*xd) AS DOUBLE) AS sdd,
             CAST(SUM(xt*xt) AS DOUBLE) AS stt,
             CAST(SUM(xq*xd) AS DOUBLE) AS sqd,
             CAST(SUM(xq*xt) AS DOUBLE) AS sqt,
             CAST(SUM(xd*xt) AS DOUBLE) AS sdt
      FROM ranked
    )
    SELECT p.col_x, p.col_y, CAST(mom.n AS BIGINT) AS n,
           -- ROUND(.,9): at 100x SF the scaled moment integers exceed
           -- 2^53, and decimal->double conversion is correctly rounded
           -- in one engine but two-step in the other — the quotient can
           -- differ in the last ulp, so the irrational-valued rho is
           -- emitted at 9 dp
           ROUND(CASE p.col_x || '|' || p.col_y
             WHEN 'l_quantity|l_discount' THEN
               (n*sqd - sq*sd) / (SQRT(n*sqq - sq*sq) * SQRT(n*sdd - sd*sd))
             WHEN 'l_quantity|l_tax' THEN
               (n*sqt - sq*st) / (SQRT(n*sqq - sq*sq) * SQRT(n*stt - st*st))
             ELSE
               (n*sdt - sd*st) / (SQRT(n*sdd - sd*sd) * SQRT(n*stt - st*st))
           END, 9) AS rho
    FROM mom, (VALUES ('l_quantity','l_discount'),
                      ('l_quantity','l_tax'),
                      ('l_discount','l_tax')) AS p(col_x, col_y)
    """,
    doc="a37 (ext.): Spearman rank correlation matrix (ties-aware, "
    "average ranks) over lineitem's bounded-domain measures — the "
    "monotone-association complement to a15's Pearson. Scale: ranks "
    "derive from per-column DISTINCT-VALUE prefix sums (tiny windows "
    "over pre-aggregated domains) broadcast back onto one fact scan; "
    "one decimal-moment aggregate yields all three rhos. No global "
    "row sort anywhere — the classic distributed-Spearman trap "
    "avoided. Exactness: avg ranks are integers/halves (decimal-"
    "exact); every rho is IEEE arithmetic on identical exact moments",
)
def a37_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(*_A37_COLS)
    enriched = li
    for c in _A37_COLS:
        g = li.groupBy(c).count()
        w = W.orderBy(c).rowsBetween(W.unboundedPreceding, -1)
        ranks = g.select(
            F.col(c).alias("v"),
            (
                F.coalesce(F.sum("count").over(w), F.lit(0))
                + (F.col("count") + 1) / 2.0
            )
            .cast("decimal(19,6)")
            .alias(f"r_{c}"),
        )
        enriched = enriched.join(
            F.broadcast(ranks), enriched[c] == ranks["v"]
        ).drop("v")
    xq, xd, xt = [F.col(f"r_{c}") for c in _A37_COLS]
    mom = enriched.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xq).cast("double").alias("sq"),
        F.sum(xd).cast("double").alias("sd"),
        F.sum(xt).cast("double").alias("st"),
        F.sum(xq * xq).cast("double").alias("sqq"),
        F.sum(xd * xd).cast("double").alias("sdd"),
        F.sum(xt * xt).cast("double").alias("stt"),
        F.sum(xq * xd).cast("double").alias("sqd"),
        F.sum(xq * xt).cast("double").alias("sqt"),
        F.sum(xd * xt).cast("double").alias("sdt"),
    )
    n, sq, sd, st = F.col("n"), F.col("sq"), F.col("sd"), F.col("st")
    sqq, sdd, stt = F.col("sqq"), F.col("sdd"), F.col("stt")
    sqd, sqt, sdt = F.col("sqd"), F.col("sqt"), F.col("sdt")

    def rho(sxy, sx, sy, sxx, syy):
        return (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )

    rhos = {
        ("l_quantity", "l_discount"): rho(sqd, sq, sd, sqq, sdd),
        ("l_quantity", "l_tax"): rho(sqt, sq, st, sqq, stt),
        ("l_discount", "l_tax"): rho(sdt, sd, st, sdd, stt),
    }
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(x).alias("col_x"),
                    F.lit(y).alias("col_y"),
                    F.round(r, 9).alias("rho"),
                )
                for (x, y), r in rhos.items()
            ]
        )
    ).alias("p")
    return mom.select(pairs, n.cast("bigint").alias("n")).select(
        "p.col_x", "p.col_y", "n", "p.rho"
    )


# --- a38 (ext.): chi-square independence test + Cramér's V ----------------------


@register(
    "a38_chisq_independence",
    # Independence of o_orderpriority x o_orderstatus. Per-cell terms
    # are identical IEEE arithmetic on exact integer counts; the final
    # reduction over the r x c cells is the m15 FOLD device (sum the
    # cells in (priority, status) order via the identical left fold in
    # both engines), so chi2 needs no rounding despite being a float
    # sum — cell order is pinned, not shuffle-dependent.
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(o) AS DOUBLE) AS nn,
             CAST(COUNT(DISTINCT pri) AS DOUBLE) AS nr,
             CAST(COUNT(DISTINCT st) AS DOUBLE) AS nc
      FROM cells
    ),
    m AS (
      SELECT c.pri, c.st, c.o,
             SUM(c.o) OVER (PARTITION BY c.pri) AS rt,
             SUM(c.o) OVER (PARTITION BY c.st) AS ct
      FROM cells c
    ),
    terms AS (
      SELECT pri, st,
             (o - rt * ct / t.nn) * (o - rt * ct / t.nn)
               / (rt * ct / t.nn) AS term
      FROM m, tot t
    ),
    folded AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(term ORDER BY pri, st)),
               (a, b) -> a + b) AS chi2,
             COUNT(*) AS n_cells
      FROM terms
    )
    SELECT CAST(t.nn AS BIGINT) AS n,
           CAST(f.n_cells AS BIGINT) AS n_cells,
           CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
           f.chi2 AS chi2,
           SQRT(f.chi2 / (t.nn * LEAST(t.nr - 1, t.nc - 1))) AS cramers_v
    FROM folded f, tot t
    """,
    doc="a38 (ext.): chi-square test of independence + Cramér's V over "
    "the o_orderpriority x o_orderstatus contingency table — the "
    "categorical-association screen (a15/a37 cover numeric columns). "
    "Scale: ONE map-combined cell aggregate collapses the fact table "
    "to r x c rows; marginals are windows over that bounded cell "
    "table; the chi2 reduction folds the cells in pinned order "
    "(engine-exact float sum, the m15 device). Exactness: counts are "
    "integers, every per-cell term is identical IEEE arithmetic",
)
def a38_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count("*").cast("double").alias("o"))
    m = cells.select(
        "pri",
        "st",
        "o",
        F.sum("o").over(W.partitionBy("pri")).alias("rt"),
        F.sum("o").over(W.partitionBy("st")).alias("ct"),
    )
    tot = cells.agg(
        F.sum("o").alias("nn"),
        F.countDistinct("pri").cast("double").alias("nr"),
        F.countDistinct("st").cast("double").alias("nc"),
    )
    e = F.col("rt") * F.col("ct") / F.col("nn")
    terms = m.crossJoin(F.broadcast(tot)).select(
        "pri",
        "st",
        "nn",
        "nr",
        "nc",
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("term"),
    )
    folded = terms.groupBy("nn", "nr", "nc").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pri", "st", "term"))
                ),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("chi2"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    return folded.select(
        F.col("nn").cast("bigint").alias("n"),
        "n_cells",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (F.col("nn") * F.least(F.col("nr") - 1, F.col("nc") - 1))
        ).alias("cramers_v"),
    )


# --- a39 (ext.): conversion latency ---------------------------------------------

_A39_PAIRS = [("signup", "purchase"), ("view", "click"), ("view", "purchase")]


@register(
    "a39_conversion_latency",
    # Per funnel edge (A -> B): among users whose first A precedes
    # their first B, the latency distribution (exact interpolated
    # median / p90 over integer epoch-second deltas) plus the
    # conversion rate. Completes a20's funnel counts with the TIME
    # dimension ("how long does conversion take", not just "how many").
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, event_type,
             MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS first_s
      FROM events
      GROUP BY user_id, event_type
    ),
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT '{a}' AS step_a, '{b}' AS step_b,
             a.user_id,
             b.first_s - a.first_s AS delta_s
      FROM (SELECT user_id, first_s FROM firsts
            WHERE event_type = '{a}') a
      LEFT JOIN (SELECT user_id, first_s FROM firsts
            WHERE event_type = '{b}') b ON b.user_id = a.user_id'''
        for a, b in _A39_PAIRS)}
    )
    SELECT step_a, step_b,
           CAST(COUNT(*) AS BIGINT) AS n_users_a,
           CAST(COUNT(CASE WHEN delta_s > 0 THEN 1 END) AS BIGINT)
             AS n_converted,
           CAST(COUNT(CASE WHEN delta_s > 0 THEN 1 END) AS DOUBLE)
             / COUNT(*) AS conversion_rate,
           quantile_cont(CASE WHEN delta_s > 0 THEN CAST(delta_s AS DOUBLE)
                         END, 0.5) AS median_latency_s,
           quantile_cont(CASE WHEN delta_s > 0 THEN CAST(delta_s AS DOUBLE)
                         END, 0.9) AS p90_latency_s
    FROM pairs GROUP BY step_a, step_b
    """,
    doc="a39 (ext.): conversion latency — for each funnel edge, among "
    "users whose first step-A precedes their first step-B: the "
    "conversion rate and the exact median / p90 time-to-convert. "
    "The time dimension a20's funnel counts lack (latency "
    "regressions show up before rate regressions). Scale: ONE "
    "(user, type) first-touch aggregate feeds every edge; each edge "
    "is a co-partitioned self-join on user_id and a grouped exact "
    "percentile. Exactness: integer epoch deltas; F.percentile ≙ "
    "quantile_cont interpolate identically",
)
def a39_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_timestamp("ts")).cast("bigint").alias("first_s")
    )
    out = None
    for a, b in _A39_PAIRS:
        fa = firsts.filter(F.col("event_type") == a).select(
            "user_id", F.col("first_s").alias("s_a")
        )
        fb = firsts.filter(F.col("event_type") == b).select(
            "user_id", F.col("first_s").alias("s_b")
        )
        delta = (F.col("s_b") - F.col("s_a")).alias("delta_s")
        pairs = fa.join(fb, "user_id", "left").select(delta)
        conv = F.when(F.col("delta_s") > 0, F.col("delta_s").cast("double"))
        row = pairs.agg(
            F.lit(a).alias("step_a"),
            F.lit(b).alias("step_b"),
            F.count("*").cast("bigint").alias("n_users_a"),
            F.count(conv).cast("bigint").alias("n_converted"),
            (F.count(conv).cast("double") / F.count("*")).alias(
                "conversion_rate"
            ),
            F.percentile(conv, 0.5).alias("median_latency_s"),
            F.percentile(conv, 0.9).alias("p90_latency_s"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- a41 (ext.): event-type co-occurrence pairs (market-basket lite) -------------


@register(
    "a41_cooccurrence_pairs",
    # Baskets = (user, day); items = distinct event types in the
    # basket; output = every type pair's support and LIFT
    # (P(a,b)/(P(a)P(b))) — the association-rule primitive (which
    # behaviors travel together) from two word-count-shaped aggregates
    # and an in-basket pair fanout that is combinatorially bounded by
    # the 5-type domain.
    oracle="""
    WITH basket AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 86400.0) AS BIGINT) AS day,
             event_type
      FROM events
    ),
    nb AS (
      SELECT COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|'
                             || CAST(day AS VARCHAR))) AS n_baskets
      FROM basket
    ),
    item AS (
      SELECT event_type, COUNT(*) AS c FROM basket GROUP BY event_type
    ),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS c_ab
      FROM basket a
      JOIN basket b ON b.user_id = a.user_id AND b.day = a.day
                   AND b.event_type > a.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.c_ab AS BIGINT) AS n_cobaskets,
           CAST(ia.c AS BIGINT) AS n_a,
           CAST(ib.c AS BIGINT) AS n_b,
           CAST(p.c_ab AS DOUBLE) / t.n_baskets AS support,
           (CAST(p.c_ab AS DOUBLE) / t.n_baskets)
             / ((CAST(ia.c AS DOUBLE) / t.n_baskets)
                * (CAST(ib.c AS DOUBLE) / t.n_baskets)) AS lift
    FROM pair p
    JOIN item ia ON ia.event_type = p.type_a
    JOIN item ib ON ib.event_type = p.type_b, nb t
    """,
    doc="a41 (ext.): event-type co-occurrence — support and lift of "
    "every type pair over (user, day) baskets, the association-rule "
    "primitive (lift >> 1 = behaviors travel together; << 1 = "
    "substitutes). Scale: baskets pre-aggregate to distinct (user, "
    "day, type) rows; the pair join is within-basket on the "
    "co-partitioned basket key with a 5-type combinatorial bound per "
    "basket — never a cross-basket product. Exactness: integer "
    "counts, quotients of identical doubles emitted unrounded",
)
def a41_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(
        (F.unix_timestamp("ts") - F.lit(1704067200)) / F.lit(86400.0)
    ).cast("bigint")
    basket = ev.select(
        "user_id", day.alias("day"), "event_type"
    ).distinct()
    nb = basket.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    item = basket.groupBy("event_type").agg(F.count("*").alias("c"))
    a = basket.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = basket.select("user_id", "day", F.col("event_type").alias("type_b"))
    pair = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    ia = item.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("n_a")
    )
    ib = item.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("n_b")
    )
    j = (
        pair.join(F.broadcast(ia), "type_a")
        .join(F.broadcast(ib), "type_b")
        .crossJoin(F.broadcast(nb))
    )
    sup = F.col("c_ab").cast("double") / F.col("n_baskets")
    pa = F.col("n_a").cast("double") / F.col("n_baskets")
    pb = F.col("n_b").cast("double") / F.col("n_baskets")
    return j.select(
        "type_a",
        "type_b",
        F.col("c_ab").cast("bigint").alias("n_cobaskets"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        sup.alias("support"),
        (sup / (pa * pb)).alias("lift"),
    )


# --- a42 (ext.): Kendall tau-b via bounded value-domain cells --------------------


@register(
    "a42_kendall_tau",
    # Kendall's tau-b between l_quantity (50-value domain) and the
    # discount percent (11-value domain) WITHOUT any pairwise row
    # compare: aggregate the fact table once into the 50 x 11 cell
    # grid, then count concordant/discordant PAIRS OF CELLS (a bounded
    # 550^2 self-join) weighted by cell-count products. All pair
    # counts are integers held in DECIMAL(38,0) (n^2-scale: int64
    # overflows near petabyte row counts); tau's final sqrt/divide
    # runs on doubles converted from identical integers on both
    # engines, 9-dp rounded (a37's lesson).
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS qx,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS dy,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS n FROM cells
    ),
    conc AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN b.qx > a.qx AND b.dy > a.dy
                               THEN a.c * b.c END), 0)
             AS DECIMAL(38,0)) AS cc,
        CAST(COALESCE(SUM(CASE WHEN b.qx > a.qx AND b.dy < a.dy
                               THEN a.c * b.c END), 0)
             AS DECIMAL(38,0)) AS dd
      FROM cells a JOIN cells b
        ON b.qx > a.qx AND b.dy <> a.dy
    ),
    ties AS (
      SELECT
        CAST(SUM(tc * (tc - 1) / 2) AS DECIMAL(38,0)) AS tx
      FROM (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS tc
            FROM cells GROUP BY qx)
    ),
    tiesy AS (
      SELECT
        CAST(SUM(tc * (tc - 1) / 2) AS DECIMAL(38,0)) AS ty
      FROM (SELECT CAST(SUM(c) AS DECIMAL(38,0)) AS tc
            FROM cells GROUP BY dy)
    )
    SELECT CAST(t.n AS BIGINT) AS n_rows,
           CAST(c.cc AS BIGINT) AS concordant,
           CAST(c.dd AS BIGINT) AS discordant,
           ROUND(
             (CAST(c.cc AS DOUBLE) - CAST(c.dd AS DOUBLE))
             / SQRT((CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1) / 2
                     - CAST(s.tx AS DOUBLE))
                    * (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1) / 2
                       - CAST(y.ty AS DOUBLE))),
             9) AS tau_b
    FROM conc c, tot t, ties s, tiesy y
    """,
    doc="a42 (ext.): Kendall tau-b rank correlation between quantity "
    "and discount — the pairwise-concordance statistic computed with "
    "ZERO pairwise row comparisons: one fact-table aggregate to the "
    "bounded 50x11 value-domain cell grid (the a37 device), then "
    "concordant/discordant pair MASS from a 550-cell self-join "
    "weighted by count products, ties from the marginals. Scale: the "
    "only shuffle is the cell aggregate (map-side combined); the "
    "cell self-join is broadcast-trivial and INDEPENDENT of row "
    "count, so the plan is identical at 100 TB. Exactness: integer "
    "pair masses in DECIMAL(38,0) (int64 dies at ~n=4e9 rows), one "
    "9-dp-rounded double at the very end. "
    "No reference analog — extension per brief; extends the "
    "Pearson surface (M6, src/enhanced_spark_etl.py:628) with "
    "tie-aware rank association",
)
def a42_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qx"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("dy"),
    )
    cells = pin_derived(
        spark, sf_dir, "a42_cells",
        lambda: li.groupBy("qx", "dy").agg(
            F.count("*").cast("decimal(38,0)").alias("c")
        ),
    )
    a = cells.select(
        F.col("qx").alias("ax"), F.col("dy").alias("ay"),
        F.col("c").alias("ac"),
    )
    b = cells.select(
        F.col("qx").alias("bx"), F.col("dy").alias("by"),
        F.col("c").alias("bc"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("bx") > F.col("ax")) & (F.col("by") != F.col("ay")),
    )
    conc = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("by") > F.col("ay"),
                    F.col("ac") * F.col("bc"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("cc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("by") < F.col("ay"),
                    F.col("ac") * F.col("bc"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("dd"),
    )
    tot = cells.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
    tx = (
        cells.groupBy("qx")
        .agg(F.sum("c").cast("decimal(38,0)").alias("tc"))
        .agg(
            F.sum(F.col("tc") * (F.col("tc") - 1) / 2)
            .cast("decimal(38,0)")
            .alias("tx")
        )
    )
    ty = (
        cells.groupBy("dy")
        .agg(F.sum("c").cast("decimal(38,0)").alias("tc"))
        .agg(
            F.sum(F.col("tc") * (F.col("tc") - 1) / 2)
            .cast("decimal(38,0)")
            .alias("ty")
        )
    )
    nd = F.col("n").cast("double")
    half = nd * (nd - 1) / 2
    return (
        conc.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("cc").cast("bigint").alias("concordant"),
            F.col("dd").cast("bigint").alias("discordant"),
            F.round(
                (F.col("cc").cast("double") - F.col("dd").cast("double"))
                / F.sqrt(
                    (half - F.col("tx").cast("double"))
                    * (half - F.col("ty").cast("double"))
                ),
                9,
            ).alias("tau_b"),
        )
    )


# --- a43 (ext.): Wilson score intervals for rare-event rates -----------------------

_A43_Z = 1.96


@register(
    "a43_wilson_intervals",
    # Small-sample-honest confidence intervals for a rare-event rate
    # (critical readings, value > 400) per event type: the Wilson
    # score interval never leaves [0,1] and stays calibrated at small
    # n where the normal approximation fails. Every term is a single
    # IEEE expression over exact integer counts, written in the SAME
    # operation order on both engines — nothing to round.
    # NOTE: z and z*z are computed ONCE in Python and injected as
    # STRING casts — DuckDB parses bare numeric literals through
    # DECIMAL, and both `1.96 * 1.96` (exact decimal 3.8416) and the
    # decimal->double conversion of a 17-digit literal land one ulp
    # off the correctly-parsed double; CAST('<repr>' AS DOUBLE) uses
    # the correctly-rounded string parser.
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 400.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY event_type
    )
    , raw AS (
    SELECT event_type, n, k,
           CAST(k AS DOUBLE) / n AS rate,
           ((CAST(k AS DOUBLE) / n
             + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / (2.0 * n))
            - CAST('{_A43_Z!r}' AS DOUBLE) * SQRT((CAST(k AS DOUBLE) / n)
                * (1.0 - CAST(k AS DOUBLE) / n) / n
                + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / (4.0 * n * n)))
             / (1.0 + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / n) AS lo,
           ((CAST(k AS DOUBLE) / n
             + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / (2.0 * n))
            + CAST('{_A43_Z!r}' AS DOUBLE) * SQRT((CAST(k AS DOUBLE) / n)
                * (1.0 - CAST(k AS DOUBLE) / n) / n
                + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / (4.0 * n * n)))
             / (1.0 + CAST('{_A43_Z * _A43_Z!r}' AS DOUBLE) / n) AS hi
    FROM c
    )
    SELECT event_type, n, k, rate,
           LEAST(rate, GREATEST(CAST(0 AS DOUBLE), lo)) AS wilson_lo,
           GREATEST(rate, LEAST(CAST(1 AS DOUBLE), hi)) AS wilson_hi
    FROM raw
    """,
    doc=f"a43 (ext.): Wilson score intervals (z={_A43_Z}) for the "
    "critical-reading rate per event type — the small-sample-honest "
    "CI for rare-event rates (the naive normal interval goes "
    "negative and mis-covers exactly where alerts matter; Wilson "
    "stays in [0,1] and is what monitoring dashboards should show "
    "next to every rate). Complements m18's two-sample z-test with "
    "the one-sample interval. Scale: one map-combined conditional "
    "aggregate, 5 output rows. Exactness: integer counts; the "
    "interval is one identically-ordered IEEE expression per bound",
)
def a43_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 400.0, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    z = _A43_Z
    n = F.col("n")
    p = F.col("k").cast("double") / n
    center = p + z * z / (2.0 * n)
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / n + z * z / (4.0 * n * n)
    )
    denom = F.lit(1.0) + z * z / n
    return c.select(
        "event_type",
        "n",
        "k",
        p.alias("rate"),
        # clamp twice: the interval is defined within [0,1] AND always
        # brackets the point estimate — at k=0 the exact lower bound is
        # 0 but float rounding lands at +-1e-18 on either side
        F.least(p, F.greatest(F.lit(0.0), (center - half) / denom)).alias(
            "wilson_lo"
        ),
        F.greatest(p, F.least(F.lit(1.0), (center + half) / denom)).alias(
            "wilson_hi"
        ),
    )


# --- a44 (ext.): Kruskal-Wallis H test by value-domain ranks -------------------------


@register(
    "a44_kruskal_wallis",
    # Rank-based k-sample location test over the BOUNDED value domain
    # (l_quantity: 50 integers), a37's device: average ranks come from
    # cumulative value counts, never a data sort. DOUBLED rank sums
    # (r2 = 2*cum_less + cnt + 1 per value) keep every intermediate an
    # exact BIGINT; the three per-group terms fold in the fixed A,N,R
    # order (a38's sorted-cell device) and H uses the cancellation-free
    # deviation form 3*sum(n_g*d2^2)/(N(N+1)) with d2 = R2/n_g - (N+1).
    # Tie mass accumulates in DECIMAL(38,0) (a42's device); the two
    # final statistics are ROUND(,9) on both engines (a37's device).
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    vals AS (
      SELECT v, SUM(c) AS cv FROM cells GROUP BY v
    ),
    ranked AS (
      SELECT v, cv,
             COALESCE(SUM(cv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_less
      FROM vals
    ),
    r2 AS (
      SELECT v, 2 * cum_less + cv + 1 AS r2v FROM ranked
    ),
    grp AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
             CAST(SUM(c * r2v) AS BIGINT) AS r2_sum
      FROM cells JOIN r2 USING (v) GROUP BY g
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 'A' THEN n_g END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN g = 'N' THEN n_g END) AS BIGINT) AS n_n,
             CAST(SUM(CASE WHEN g = 'R' THEN n_g END) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN g = 'A' THEN r2_sum END) AS BIGINT) AS r2_a,
             CAST(SUM(CASE WHEN g = 'N' THEN r2_sum END) AS BIGINT) AS r2_n,
             CAST(SUM(CASE WHEN g = 'R' THEN r2_sum END) AS BIGINT) AS r2_r
      FROM grp
    ),
    ties AS (
      SELECT CAST(SUM(CAST(cv AS DECIMAL(38,0)) * cv * cv - cv)
                  AS DECIMAL(38,0)) AS tie_mass
      FROM vals
    )
    SELECT n, n_a, n_n, n_r, r2_a, r2_n, r2_r,
           ROUND((3.0 * (
             (CAST(n_a AS DOUBLE)
               * ((CAST(r2_a AS DOUBLE) / n_a - (n + 1.0))
                  * (CAST(r2_a AS DOUBLE) / n_a - (n + 1.0)))
              + CAST(n_n AS DOUBLE)
               * ((CAST(r2_n AS DOUBLE) / n_n - (n + 1.0))
                  * (CAST(r2_n AS DOUBLE) / n_n - (n + 1.0))))
              + CAST(n_r AS DOUBLE)
               * ((CAST(r2_r AS DOUBLE) / n_r - (n + 1.0))
                  * (CAST(r2_r AS DOUBLE) / n_r - (n + 1.0)))))
             / (CAST(n AS DOUBLE) * (n + 1.0)), 9) AS h_stat,
           ROUND(1.0 - CAST(tie_mass AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)), 9) AS tie_correction
    FROM tot, ties
    """,
    doc="a44 (ext.): Kruskal-Wallis H test — do the three return-flag "
    "classes draw quantities from the same distribution? Ranks come "
    "from the bounded 50-value domain (cumulative counts -> doubled "
    "average ranks, all BIGINT; a37's sort-free device), per-group "
    "terms fold in fixed A/N/R order (a38), tie mass in DECIMAL(38,0) "
    "(a42), H in the cancellation-free deviation form, outputs "
    "ROUND(,9) (a37). Scale: one 150-cell aggregate is the only "
    "shuffle; the rank window runs over the 50-row value grid. "
    "Ref parity: the reference's distribution-comparison report "
    "(src/app.py:115-130); completes the rank-statistics family "
    "a37 (Spearman) / a42 (Kendall) with the k-sample test",
)
def a44_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("v", "g")
        .agg(F.count("*").alias("c"))
    )
    vals = cells.groupBy("v").agg(F.sum("c").alias("cv"))
    ranked = vals.withColumn(
        "cum_less",
        F.coalesce(
            F.sum("cv").over(
                W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    r2 = ranked.select(
        "v", (2 * F.col("cum_less") + F.col("cv") + 1).alias("r2v")
    )
    grp = (
        cells.join(F.broadcast(r2), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("r2v")).cast("bigint").alias("r2_sum"),
        )
    )
    tie = vals.agg(
        F.sum(
            F.col("cv").cast("decimal(38,0)") * F.col("cv") * F.col("cv")
            - F.col("cv")
        )
        .cast("decimal(38,0)")
        .alias("tie_mass")
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.when(F.col("g") == "A", F.col("n_g"))).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("g") == "N", F.col("n_g"))).cast("bigint").alias("n_n"),
        F.sum(F.when(F.col("g") == "R", F.col("n_g"))).cast("bigint").alias("n_r"),
        F.sum(F.when(F.col("g") == "A", F.col("r2_sum"))).cast("bigint").alias("r2_a"),
        F.sum(F.when(F.col("g") == "N", F.col("r2_sum"))).cast("bigint").alias("r2_n"),
        F.sum(F.when(F.col("g") == "R", F.col("r2_sum"))).cast("bigint").alias("r2_r"),
    )

    def dev(r2c: str, nc: str, n: F.Column) -> F.Column:
        d = F.col(r2c).cast("double") / F.col(nc) - (n + F.lit(1.0))
        return F.col(nc).cast("double") * (d * d)

    out = tot.crossJoin(F.broadcast(tie))
    n = F.col("n")
    s = (dev("r2_a", "n_a", n) + dev("r2_n", "n_n", n)) + dev("r2_r", "n_r", n)
    return out.select(
        "n", "n_a", "n_n", "n_r", "r2_a", "r2_n", "r2_r",
        F.round((F.lit(3.0) * s) / (n.cast("double") * (n + F.lit(1.0))), 9).alias(
            "h_stat"
        ),
        F.round(
            F.lit(1.0)
            - F.col("tie_mass").cast("double")
            / (
                n.cast("double") * n.cast("double") * n.cast("double")
                - n.cast("double")
            ),
            9,
        ).alias("tie_correction"),
    )


# --- a45 (ext.): Friedman test (within-block ranks across event types) ----------------

_A45_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "a45_friedman_test",
    # Friedman's repeated-measures rank test: within every COMPLETE
    # hour-block (all 5 event types present), rank the types' hourly
    # demand; sum ranks per type across blocks; chi2_F from the
    # deviation form. DOUBLED ranks keep ties exact integers
    # (r2 = 2*(rank-1) + tie_count + 1 = twice the average rank), the
    # per-type fold runs in the fixed click/error/purchase/signup/view
    # order (a38's device), and chi2 uses 3*sum(d2^2)/(n*k*(k+1)) with
    # d2 = R2_j - n*(k+1) — cancellation-free, ROUND(,9) at the end.
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS hv
      FROM events GROUP BY 1, 2
    ),
    blocks AS (
      SELECT event_type, h, hv,
             COUNT(*) OVER (PARTITION BY h) AS n_types,
             RANK() OVER (PARTITION BY h ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY h, hv) AS eq
      FROM hourly
    ),
    ranked AS (
      SELECT event_type, h, 2 * (rk - 1) + eq + 1 AS r2
      FROM blocks WHERE n_types = 5
    ),
    sums AS (
      SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'click' THEN r2 END) AS BIGINT) AS r2_click,
             CAST(SUM(CASE WHEN event_type = 'error' THEN r2 END) AS BIGINT) AS r2_error,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN r2 END) AS BIGINT) AS r2_purchase,
             CAST(SUM(CASE WHEN event_type = 'signup' THEN r2 END) AS BIGINT) AS r2_signup,
             CAST(SUM(CASE WHEN event_type = 'view' THEN r2 END) AS BIGINT) AS r2_view
      FROM ranked
    )
    SELECT n, r2_click, r2_error, r2_purchase, r2_signup, r2_view,
           ROUND((3.0 * (
             ((((CAST(r2_click AS DOUBLE) - (n * 6.0))
                 * (CAST(r2_click AS DOUBLE) - (n * 6.0))
               + (CAST(r2_error AS DOUBLE) - (n * 6.0))
                 * (CAST(r2_error AS DOUBLE) - (n * 6.0)))
               + (CAST(r2_purchase AS DOUBLE) - (n * 6.0))
                 * (CAST(r2_purchase AS DOUBLE) - (n * 6.0)))
               + (CAST(r2_signup AS DOUBLE) - (n * 6.0))
                 * (CAST(r2_signup AS DOUBLE) - (n * 6.0)))
               + (CAST(r2_view AS DOUBLE) - (n * 6.0))
                 * (CAST(r2_view AS DOUBLE) - (n * 6.0))))
             / (CAST(n AS DOUBLE) * 30.0), 9) AS chi2_f
    FROM sums
    """,
    doc="a45 (ext.): Friedman test — do the five event types keep the "
    "same demand ordering hour after hour, or does some type "
    "systematically rank higher? Within-block (per-hour) ranks across "
    "types, summed per type over all complete blocks; chi2_F from the "
    "deviation form with doubled ranks (ties stay integer), fixed "
    "type-order fold, ROUND(,9). The repeated-measures companion to "
    "a44's independent-samples Kruskal-Wallis (k+1=6 -> n*(k+1) = 6n "
    "and n*k*(k+1) = 30n are inlined for the k=5 type set). Scale: "
    "the hourly pre-agg bounds everything; block windows partition by "
    "hour (unbounded NDV). Ref parity: the reference's type-ranking "
    "dashboard (src/app.py:115-130)",
)
def a45_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..ml.analytics import _hourly_series

    hourly = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("hv")
    )
    blocks = hourly.select(
        "event_type",
        "h",
        "hv",
        F.count("*").over(W.partitionBy("h")).alias("n_types"),
        F.rank().over(W.partitionBy("h").orderBy("hv")).alias("rk"),
        F.count("*").over(W.partitionBy("h", "hv")).alias("eq"),
    )
    ranked = blocks.filter(F.col("n_types") == 5).select(
        "event_type", "h", (2 * (F.col("rk") - 1) + F.col("eq") + 1).alias("r2")
    )
    sums = ranked.agg(
        F.countDistinct("h").cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("r2")))
            .cast("bigint")
            .alias(f"r2_{t}")
            for t in _A45_TYPES
        ],
    )
    n = F.col("n")

    def dev(t: str) -> F.Column:
        d = F.col(f"r2_{t}").cast("double") - (n * F.lit(6.0))
        return d * d

    s = ((((dev("click") + dev("error")) + dev("purchase")) + dev("signup"))
         + dev("view"))
    return sums.select(
        "n",
        *[f"r2_{t}" for t in _A45_TYPES],
        F.round((F.lit(3.0) * s) / (n.cast("double") * F.lit(30.0)), 9).alias(
            "chi2_f"
        ),
    )


# --- a46 (ext.): Brown-Forsythe variance-homogeneity test ---------------------------


@register(
    "a46_brown_forsythe",
    # Levene's test with median centers (Brown-Forsythe): do the three
    # return-flag classes have equal quantity SPREAD? (a44 tests
    # location; this completes the k-sample pair.) Group medians come
    # from the bounded 50-value domain via cumulative cell counts —
    # never a data sort — and are kept DOUBLED (m2 = lower + upper
    # middle value) so every intermediate stays an exact BIGINT:
    # z2 = |2v - m2| per cell, S2 = sum(c*z2), Q4 = sum(c*z2^2). The
    # F statistic folds the three per-group terms in the fixed A/N/R
    # order (a38's device) with one double expression per term written
    # identically on both engines; ROUND(,9) at the end (a37's device).
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    grp AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY g
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v) AS cumc
      FROM cells
    ),
    med AS (
      SELECT cum.g,
             CAST(MIN(CASE WHEN cumc >= (n_g + 1) // 2 THEN v END)
                + MIN(CASE WHEN cumc >= n_g // 2 + 1 THEN v END)
                  AS BIGINT) AS m2
      FROM cum JOIN grp USING (g) GROUP BY cum.g
    ),
    dev AS (
      SELECT cells.g,
             CAST(SUM(c * ABS(2 * v - m2)) AS BIGINT) AS s2,
             CAST(SUM(c * ABS(2 * v - m2) * ABS(2 * v - m2)) AS BIGINT)
               AS q4
      FROM cells JOIN med USING (g) GROUP BY cells.g
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 'A' THEN n_g END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN g = 'N' THEN n_g END) AS BIGINT) AS n_n,
             CAST(SUM(CASE WHEN g = 'R' THEN n_g END) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN g = 'A' THEN m2 END) AS BIGINT) AS m2_a,
             CAST(SUM(CASE WHEN g = 'N' THEN m2 END) AS BIGINT) AS m2_n,
             CAST(SUM(CASE WHEN g = 'R' THEN m2 END) AS BIGINT) AS m2_r,
             CAST(SUM(CASE WHEN g = 'A' THEN s2 END) AS BIGINT) AS s2_a,
             CAST(SUM(CASE WHEN g = 'N' THEN s2 END) AS BIGINT) AS s2_n,
             CAST(SUM(CASE WHEN g = 'R' THEN s2 END) AS BIGINT) AS s2_r,
             CAST(SUM(CASE WHEN g = 'A' THEN q4 END) AS BIGINT) AS q4_a,
             CAST(SUM(CASE WHEN g = 'N' THEN q4 END) AS BIGINT) AS q4_n,
             CAST(SUM(CASE WHEN g = 'R' THEN q4 END) AS BIGINT) AS q4_r
      FROM dev JOIN grp USING (g) JOIN med USING (g)
    )
    SELECT n, n_a, n_n, n_r, m2_a, m2_n, m2_r, s2_a, s2_n, s2_r,
           ROUND(((CAST(n AS DOUBLE) - 3.0) / 2.0)
             * ((((CAST(s2_a AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_a)
                  * (CAST(s2_a AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_a)
                  / (CAST(n_a AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                + ((CAST(s2_n AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_n)
                  * (CAST(s2_n AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_n)
                  / (CAST(n_n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                + ((CAST(s2_r AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_r)
                  * (CAST(s2_r AS DOUBLE) * n - CAST(s2_a + s2_n + s2_r AS DOUBLE) * n_r)
                  / (CAST(n_r AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (((CAST(q4_a AS DOUBLE) - CAST(s2_a AS DOUBLE) * CAST(s2_a AS DOUBLE) / n_a)
                + (CAST(q4_n AS DOUBLE) - CAST(s2_n AS DOUBLE) * CAST(s2_n AS DOUBLE) / n_n))
                + (CAST(q4_r AS DOUBLE) - CAST(s2_r AS DOUBLE) * CAST(s2_r AS DOUBLE) / n_r)),
           9) AS bf_stat
    FROM tot
    """,
    doc="a46 (ext.): Brown-Forsythe (median-centered Levene) test — do "
    "the three return-flag classes have equal quantity spread? "
    "Completes the k-sample family: a44 (Kruskal-Wallis) tests "
    "location, a46 tests scale. Group medians are found on the "
    "bounded 50-value domain via cumulative cell counts (a37's "
    "sort-free device) and kept DOUBLED so the absolute deviations, "
    "their sums S2 and squared sums Q4 are exact BIGINTs; the F "
    "statistic folds per-group terms in fixed A/N/R order with "
    "cancellation kept in exactly-representable integer-valued "
    "doubles, ROUND(,9). Scale: one 150-cell aggregate is the only "
    "data shuffle; medians + the fold run on the 150-row grid. "
    "Ref parity: the reference's distribution-comparison report "
    "(src/app.py:115-130)",
)
def a46_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("v", "g")
        .agg(F.count("*").alias("c"))
    )
    grp = cells.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_g"))
    cum = cells.withColumn(
        "cumc",
        F.sum("c").over(
            W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    med = (
        cum.join(F.broadcast(grp), "g")
        .groupBy("g")
        .agg(
            (
                F.min(F.when(F.expr("cumc >= (n_g + 1) DIV 2"), F.col("v")))
                + F.min(F.when(F.expr("cumc >= n_g DIV 2 + 1"), F.col("v")))
            )
            .cast("bigint")
            .alias("m2")
        )
    )
    z2 = F.abs(2 * F.col("v") - F.col("m2"))
    dev = (
        cells.join(F.broadcast(med), "g")
        .groupBy("g")
        .agg(
            F.sum(F.col("c") * z2).cast("bigint").alias("s2"),
            F.sum(F.col("c") * z2 * z2).cast("bigint").alias("q4"),
        )
    )
    tot = (
        dev.join(grp, "g")
        .join(med, "g")
        .agg(
            F.sum("n_g").cast("bigint").alias("n"),
            *[
                F.sum(F.when(F.col("g") == gg, F.col(col)))
                .cast("bigint")
                .alias(f"{col}_{gg.lower()}")
                for col in ("n_g", "m2", "s2", "q4")
                for gg in ("A", "N", "R")
            ],
        )
        .withColumnsRenamed(
            {"n_g_a": "n_a", "n_g_n": "n_n", "n_g_r": "n_r"}
        )
    )
    n = F.col("n").cast("double")
    t2 = (F.col("s2_a") + F.col("s2_n") + F.col("s2_r")).cast("double")

    def num(gg: str) -> F.Column:
        d = F.col(f"s2_{gg}").cast("double") * F.col("n") - t2 * F.col(f"n_{gg}")
        return d * d / (F.col(f"n_{gg}").cast("double") * n * n)

    def den(gg: str) -> F.Column:
        s2d = F.col(f"s2_{gg}").cast("double")
        return F.col(f"q4_{gg}").cast("double") - s2d * s2d / F.col(f"n_{gg}")

    return tot.select(
        "n", "n_a", "n_n", "n_r",
        "m2_a", "m2_n", "m2_r", "s2_a", "s2_n", "s2_r",
        F.round(
            ((n - F.lit(3.0)) / F.lit(2.0))
            * ((num("a") + num("n")) + num("r"))
            / ((den("a") + den("n")) + den("r")),
            9,
        ).alias("bf_stat"),
    )


# --- a47 (ext.): Cochran-Armitage trend-in-proportions test ---------------------------


@register(
    "a47_cochran_armitage",
    # Is the URGENT share of orders trending across order years? The
    # Cochran-Armitage statistic on the year-scored 2xk table. All
    # sufficient statistics are exact BIGINTs (year scores t = y-1995,
    # s1 = sum t*r, s2 = sum t*n, s3 = sum t^2*n); the numerator is
    # kept N-SCALED (t_n = N*s1 - R*s2, exact integer — no p-bar
    # division) and the variance enters once, inside one shared double
    # expression, ROUND(,9). a38's chi-square ignores category order;
    # a47 is the ORDERED alternative with k-1 more power for trends.
    oracle="""
    WITH yr AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) - 1995 AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS r_i
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(r_i) AS BIGINT) AS r,
             CAST(SUM(t * r_i) AS BIGINT) AS s1,
             CAST(SUM(t * n_i) AS BIGINT) AS s2,
             CAST(SUM(t * t * n_i) AS BIGINT) AS s3
      FROM yr
    )
    SELECT n, r, s1, s2, s3,
           CAST(n * s1 - r * s2 AS BIGINT) AS t_n,
           ROUND(CAST(n * s1 - r * s2 AS DOUBLE)
                 / (n * SQRT((CAST(r AS DOUBLE) / n)
                             * (1 - CAST(r AS DOUBLE) / n)
                             * (s3 - CAST(s2 AS DOUBLE) * s2 / n))),
                 9) AS z_stat
    FROM s
    """,
    doc="a47 (ext.): Cochran-Armitage trend test — is the URGENT order "
    "share rising or falling across order years? The ordered-category "
    "complement to a38's chi-square (which ignores order): year "
    "scores t weight the 2xk proportions, the N-scaled numerator "
    "N*s1 - R*s2 stays an exact integer, and the single variance "
    "expression is shared verbatim between engines, ROUND(,9). "
    "Scale: one 7-cell map-combined aggregate; the fold is a scalar "
    "row. Ref parity: priority-mix trend report (src/app.py:115-130)",
)
def a47_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    yr = (
        o.select(
            (F.year("o_orderdate") - 1995).cast("bigint").alias("t"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("u"),
        )
        .groupBy("t")
        .agg(
            F.count("*").cast("bigint").alias("n_i"),
            F.sum("u").cast("bigint").alias("r_i"),
        )
    )
    s = yr.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("t") * F.col("r_i")).cast("bigint").alias("s1"),
        F.sum(F.col("t") * F.col("n_i")).cast("bigint").alias("s2"),
        F.sum(F.col("t") * F.col("t") * F.col("n_i")).cast("bigint").alias("s3"),
    )
    return s.select(
        "n", "r", "s1", "s2", "s3",
        F.expr("CAST(n * s1 - r * s2 AS BIGINT)").alias("t_n"),
        F.expr(
            "ROUND(CAST(n * s1 - r * s2 AS DOUBLE)"
            " / (n * SQRT((CAST(r AS DOUBLE) / n)"
            " * (1 - CAST(r AS DOUBLE) / n)"
            " * (s3 - CAST(s2 AS DOUBLE) * s2 / n))), 9)"
        ).alias("z_stat"),
    )


# --- a48 (ext.): Mann-Whitney U rank-sum test (value-domain grid device) ---------------

# One formula string shared verbatim between F.expr and the SQL oracle:
# z from the exact integer pieces (num2 = 2U - n_o*n_f, tie-corrected
# normal variance), all float ops in one fixed order.
_A48_Z = (
    "ROUND((CAST(num2 AS DOUBLE) / 2)"
    " / SQRT(CAST(no AS DOUBLE) * CAST(nf AS DOUBLE) / 12"
    "        * (CAST(no + nf AS DOUBLE) + 1"
    "           - CAST(ties AS DOUBLE)"
    "             / (CAST(no + nf AS DOUBLE)"
    "                * (CAST(no + nf AS DOUBLE) - 1)))), 9)"
)


@register(
    "a48_mann_whitney",
    # Two-sample rank-sum with ZERO row-pair comparisons: l_quantity has
    # a bounded value domain (~50 integers), so the doubled U statistic
    # is an exact integer fold over the 50-cell grid —
    # 2U_O = sum_v c_O(v) * (2 * cumF(<v) + c_F(v)) — and the tie
    # correction is the grid's cube sums. Completes the nonparametric
    # family: a44 Kruskal-Wallis is the k-sample rank test, a48 is the
    # 2-sample U with the exact tie-corrected normal approximation.
    # Scale: ONE map-combined aggregate to the value grid; the ordered
    # cumulative runs over 50 rows regardless of corpus size. Exactness:
    # DECIMAL(14,0) cell counts; the binding bound is the tie term,
    # which CUBES t = c_o + c_f, so t^3 < 1e38 requires t <= ~4.6e12
    # rows per grid cell (ADVICE r10 comment fix — still ~8x beyond the
    # ~6e11-row 100 TB scale even if ALL rows landed in one cell); one
    # shared 9-dp-rounded double at the very end (_A48_Z).
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_o,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_f
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    ),
    c AS (
      SELECT v, c_o, c_f,
             CAST(COALESCE(SUM(c_f) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(16,0)) AS cum_f
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(c_o) AS DECIMAL(18,0)) AS no,
             CAST(SUM(c_f) AS DECIMAL(18,0)) AS nf,
             CAST(SUM(c_o * (2 * cum_f + c_f)) AS DECIMAL(38,0)) AS u2,
             CAST(SUM((c_o + c_f) * (c_o + c_f) * (c_o + c_f)
                      - (c_o + c_f)) AS DECIMAL(38,0)) AS ties
      FROM c
    ),
    p AS (
      SELECT no, nf, u2, ties,
             CAST(u2 - no * nf AS DECIMAL(38,0)) AS num2
      FROM s
    )
    SELECT CAST(no AS BIGINT) AS n_o,
           CAST(nf AS BIGINT) AS n_f,
           CAST(u2 AS BIGINT) AS u2_o,
           CAST(ties AS BIGINT) AS tie_term,
           {_A48_Z} AS z_stat
    FROM p
    """,
    doc="a48 (ext.): Mann-Whitney U — do open ('O') and finished ('F') "
    "line items draw quantities from the same distribution? The "
    "pairwise rank statistic computed with NO pairwise work: one "
    "fact-table aggregate to the ~50-cell quantity grid, a 50-row "
    "ordered cumulative, and the doubled-U integer fold (a44's "
    "value-domain device specialized to the exact 2-sample U with "
    "tie-corrected variance). The plan is one map-combined shuffle to "
    "50 keys — identical at 100 TB. Exactness: integer pieces in "
    "bounded decimals; ONE shared 9-dp double formula (_A48_Z) on "
    "both engines. No reference analog — extension per brief; "
    "completes the a37/a38/a42/a44-a47 nonparametric family",
)
def a48_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            "l_linestatus",
        )
    )
    g = li.groupBy("v").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_f"),
    )
    return mann_whitney_from_grid(g)


def mann_whitney_from_grid(grid: DataFrame) -> DataFrame:
    """a48's finalize from the (v, c_o, c_f) quantity grid — shared with
    t35's streaming state maintainer so the monitor equals the batch
    bit-for-bit (grid cell counts are mergeable sufficient statistics:
    partial counts add across micro-batches)."""
    from pyspark.sql import Window as W

    g = grid
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    c = g.select(
        "v", "c_o", "c_f",
        F.coalesce(F.sum("c_f").over(w), F.lit(0))
        .cast("decimal(16,0)")
        .alias("cum_f"),
    )
    s = c.agg(
        F.sum("c_o").cast("decimal(18,0)").alias("no"),
        F.sum("c_f").cast("decimal(18,0)").alias("nf"),
        F.sum(F.col("c_o") * (F.lit(2) * F.col("cum_f") + F.col("c_f")))
        .cast("decimal(38,0)")
        .alias("u2"),
        F.sum(
            (F.col("c_o") + F.col("c_f"))
            * (F.col("c_o") + F.col("c_f"))
            * (F.col("c_o") + F.col("c_f"))
            - (F.col("c_o") + F.col("c_f"))
        )
        .cast("decimal(38,0)")
        .alias("ties"),
    )
    p = s.withColumn(
        "num2", (F.col("u2") - F.col("no") * F.col("nf")).cast("decimal(38,0)")
    )
    return p.select(
        F.col("no").cast("bigint").alias("n_o"),
        F.col("nf").cast("bigint").alias("n_f"),
        F.col("u2").cast("bigint").alias("u2_o"),
        F.col("ties").cast("bigint").alias("tie_term"),
        F.expr(_A48_Z).alias("z_stat"),
    )


# --- a49 (ext.): Jonckheere-Terpstra ordered-trend test (grid-pair device) -------------

# Shared z formula: doubled statistic j2 and its integer null mean, the
# tie-corrected variance composed from integer marginal folds (Hollander
# & Wolfe); every float op in one fixed order on both engines.
_A49_Z = (
    "ROUND((CAST(j2 - meanj2 AS DOUBLE) / 2)"
    " / SQRT(CAST(va AS DOUBLE) / 72"
    "        + CAST(sb1 AS DOUBLE) * CAST(sb2 AS DOUBLE)"
    "          / (36 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1)"
    "             * (CAST(nn AS DOUBLE) - 2))"
    "        + CAST(sc1 AS DOUBLE) * CAST(sc2 AS DOUBLE)"
    "          / (8 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1))), 9)"
)


@register(
    "a49_jonckheere_terpstra",
    # Is quantity stochastically INCREASING across ship years? The
    # ordered-alternative k-sample test (more powerful than a44's
    # omnibus Kruskal-Wallis when the alternative is monotone): J is the
    # sum of pairwise Mann-Whitney counts over ordered group pairs.
    # ZERO pairwise row work — the fact table collapses to the
    # (year x quantity) grid (~7 x 50 cells), the doubled statistic is
    # a broadcast grid self-join over ordered year pairs (<= 350^2
    # combos, corpus-independent), and the tie-corrected variance is
    # integer folds of the two marginals. Completes the trend family:
    # a47 tests trend in proportions, a49 trend in distributions.
    # Exactness: every piece is an exact integer in bounded decimals
    # (j2's cell products stay under DECIMAL(38,0) for cells <= 1e14
    # rows; the variance folds use (25,0)x(13,0) = DECIMAL(38,0)
    # products, binding at n(n-1) < 1e25 i.e. ~3e12 total rows — clear
    # of the ~6e11-row 100 TB scale with 5x headroom; ADVICE r10 fix
    # for the former (12,0) linear term that bound at ~5e11); ONE
    # shared 9-dp double formula (_A49_Z). The N^6-magnitude variance
    # cross-terms are composed in DOUBLE inside that shared string from
    # exact N^3-scale integer factors (sb1*sb2, sc1*sc2), so both
    # engines run the identical IEEE expression.
    oracle=f"""
    WITH g AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
             CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS DECIMAL(14,0)) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    j AS (
      SELECT CAST(SUM(a.c * b.c * (CASE WHEN a.v < b.v THEN 2
                                        WHEN a.v = b.v THEN 1
                                        ELSE 0 END)) AS DECIMAL(38,0))
               AS j2
      FROM g a JOIN g b ON a.yr < b.yr
    ),
    ng AS (
      SELECT CAST(SUM(n) AS DECIMAL(18,0)) AS nn,
             CAST(SUM(n * n) AS DECIMAL(38,0)) AS sn2,
             -- stepwise-width casts: DuckDB's chained decimal multiply
             -- bound an int64 path that overflows at 30x replication
             CAST(SUM(CAST(n * (n - 1) AS DECIMAL(25,0))
                      * CAST(2 * n + 5 AS DECIMAL(13,0)))
                  AS DECIMAL(38,0)) AS sa_g,
             CAST(SUM(CAST(n * (n - 1) AS DECIMAL(25,0))
                      * CAST(n - 2 AS DECIMAL(13,0)))
                  AS DECIMAL(38,0)) AS sb1,
             CAST(SUM(n * (n - 1)) AS DECIMAL(38,0)) AS sc1,
             CAST(COUNT(*) AS BIGINT) AS k_groups
      FROM (SELECT yr, CAST(SUM(c) AS DECIMAL(13,0)) AS n
            FROM g GROUP BY yr)
    ),
    tv AS (
      SELECT CAST(SUM(CAST(t * (t - 1) AS DECIMAL(25,0))
                      * CAST(2 * t + 5 AS DECIMAL(13,0)))
                  AS DECIMAL(38,0)) AS sa_t,
             CAST(SUM(CAST(t * (t - 1) AS DECIMAL(25,0))
                      * CAST(t - 2 AS DECIMAL(13,0)))
                  AS DECIMAL(38,0)) AS sb2,
             CAST(SUM(t * (t - 1)) AS DECIMAL(38,0)) AS sc2
      FROM (SELECT v, CAST(SUM(c) AS DECIMAL(13,0)) AS t
            FROM g GROUP BY v)
    ),
    s AS (
      SELECT j.j2, ng.nn, ng.k_groups,
             CAST((ng.nn * ng.nn - ng.sn2) / 2 AS DECIMAL(38,0)) AS meanj2,
             CAST(CAST(ng.nn * (ng.nn - 1) AS DECIMAL(25,0))
                  * CAST(2 * ng.nn + 5 AS DECIMAL(13,0))
                  - ng.sa_g - tv.sa_t AS DECIMAL(38,0)) AS va,
             ng.sb1, tv.sb2, ng.sc1, tv.sc2
      FROM j, ng, tv
    )
    SELECT CAST(nn AS BIGINT) AS n_rows,
           k_groups AS n_groups,
           CAST(j2 AS BIGINT) AS j2,
           CAST(meanj2 AS BIGINT) AS meanj2,
           {_A49_Z} AS z_stat
    FROM s
    """,
    doc="a49 (ext.): Jonckheere-Terpstra ordered-trend test — is the "
    "quantity distribution monotonically shifting across ship years? "
    "J sums the pairwise Mann-Whitney counts over ordered year pairs, "
    "computed entirely on the ~350-cell (year x quantity) grid: one "
    "map-combined fact aggregate, a broadcast grid self-join for the "
    "doubled statistic, and integer marginal folds for the "
    "tie-corrected normal variance (Hollander-Wolfe). The plan is "
    "corpus-size-independent after the 350-key shuffle — identical at "
    "100 TB. a44's omnibus KW asks 'any difference?'; a49 asks "
    "'monotone trend?' — the a47-for-distributions. No reference "
    "analog — extension per brief; exact integer pieces + one shared "
    "9-dp double (_A49_Z)",
)
def a49_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    g = li.groupBy("yr", "v").agg(
        F.count("*").cast("decimal(14,0)").alias("c")
    )
    a = g.select(
        F.col("yr").alias("ayr"), F.col("v").alias("av"),
        F.col("c").alias("ac"),
    )
    b = g.select(
        F.col("yr").alias("byr"), F.col("v").alias("bv"),
        F.col("c").alias("bc"),
    )
    j = (
        a.join(F.broadcast(b), F.col("ayr") < F.col("byr"))
        .agg(
            F.sum(
                F.col("ac")
                * F.col("bc")
                * F.when(F.col("av") < F.col("bv"), 2)
                .when(F.col("av") == F.col("bv"), 1)
                .otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("j2")
        )
    )
    n_g = g.groupBy("yr").agg(F.sum("c").cast("decimal(13,0)").alias("n"))
    ng = n_g.agg(
        F.sum("n").cast("decimal(18,0)").alias("nn"),
        F.sum(F.col("n") * F.col("n")).cast("decimal(38,0)").alias("sn2"),
        # stepwise-width casts mirror the oracle (30x-parity fix: a
        # chained decimal multiply bound too narrow in DuckDB)
        F.sum(
            (F.col("n") * (F.col("n") - 1)).cast("decimal(25,0)")
            * (2 * F.col("n") + 5).cast("decimal(13,0)")
        )
        .cast("decimal(38,0)")
        .alias("sa_g"),
        F.sum(
            (F.col("n") * (F.col("n") - 1)).cast("decimal(25,0)")
            * (F.col("n") - 2).cast("decimal(13,0)")
        )
        .cast("decimal(38,0)")
        .alias("sb1"),
        F.sum(F.col("n") * (F.col("n") - 1))
        .cast("decimal(38,0)")
        .alias("sc1"),
        F.count("*").cast("bigint").alias("k_groups"),
    )
    t_v = g.groupBy("v").agg(F.sum("c").cast("decimal(13,0)").alias("t"))
    tv = t_v.agg(
        F.sum(
            (F.col("t") * (F.col("t") - 1)).cast("decimal(25,0)")
            * (2 * F.col("t") + 5).cast("decimal(13,0)")
        )
        .cast("decimal(38,0)")
        .alias("sa_t"),
        F.sum(
            (F.col("t") * (F.col("t") - 1)).cast("decimal(25,0)")
            * (F.col("t") - 2).cast("decimal(13,0)")
        )
        .cast("decimal(38,0)")
        .alias("sb2"),
        F.sum(F.col("t") * (F.col("t") - 1))
        .cast("decimal(38,0)")
        .alias("sc2"),
    )
    s = (
        j.crossJoin(F.broadcast(ng))
        .crossJoin(F.broadcast(tv))
        .select(
            "j2", "nn", "k_groups",
            ((F.col("nn") * F.col("nn") - F.col("sn2")) / 2)
            .cast("decimal(38,0)")
            .alias("meanj2"),
            (
                (F.col("nn") * (F.col("nn") - 1)).cast("decimal(25,0)")
                * (2 * F.col("nn") + 5).cast("decimal(13,0)")
                - F.col("sa_g")
                - F.col("sa_t")
            )
            .cast("decimal(38,0)")
            .alias("va"),
            "sb1", "sb2", "sc1", "sc2",
        )
    )
    return s.select(
        F.col("nn").cast("bigint").alias("n_rows"),
        F.col("k_groups").alias("n_groups"),
        F.col("j2").cast("bigint").alias("j2"),
        F.col("meanj2").cast("bigint").alias("meanj2"),
        F.expr(_A49_Z).alias("z_stat"),
    )


# --- a50 (ext.): Cliff's delta ordinal effect size (value-domain grid device) ----------

# Shared verbatim between F.expr and the SQL oracle: the raw IEEE
# quotient of exact integer pair counts (NO rounding — a ratio of exact
# integers is computed identically by both engines' correctly-rounded
# double division, and skipping ROUND sidesteps the 6-dp-midpoint trap
# x153 hit), plus the Romano et al. (2006) magnitude bands on that
# identical double.
_A50_DELTA = (
    "CAST(gt_pairs - lt_pairs AS DOUBLE)"
    " / (CAST(n_o AS DOUBLE) * CAST(n_f AS DOUBLE))"
)
_A50_MAG = (
    "CASE WHEN ABS(cliffs_delta) < 0.147 THEN 'negligible'"
    " WHEN ABS(cliffs_delta) < 0.33 THEN 'small'"
    " WHEN ABS(cliffs_delta) < 0.474 THEN 'medium'"
    " ELSE 'large' END"
)


@register(
    "a50_cliffs_delta",
    # The EFFECT SIZE companion to a48's significance test: delta =
    # (#{o > f} - #{o < f}) / (n_o * n_f), the probability a random
    # open-order quantity exceeds a random finished one minus the
    # reverse. Same zero-pairwise-work device: the ~50-cell quantity
    # grid gives gt = sum_v c_o(v) * cumF(< v) from one 50-row ordered
    # cumulative, tied = sum c_o * c_f, lt = n_o*n_f - gt - tied.
    # Exactness: all-integer pair counts in bounded decimals; delta is
    # the RAW IEEE quotient (shared string _A50_DELTA, no rounding) and
    # the magnitude label a CASE on that identical double (_A50_MAG).
    # Pair counts are inherently quadratic: BIGINT output columns bound
    # each sample at ~3e9 rows (gt <= n_o*n_f < 2^63); delta itself is
    # scale-free. Beyond that, keep the decimals and drop the BIGINT
    # casts — stated per the a49 overflow-claim lesson (ADVICE r10).
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_o,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_f
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    ),
    c AS (
      SELECT v, c_o, c_f,
             CAST(COALESCE(SUM(c_f) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(16,0)) AS cum_f
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(c_o) AS DECIMAL(18,0)) AS no,
             CAST(SUM(c_f) AS DECIMAL(18,0)) AS nf,
             CAST(SUM(c_o * cum_f) AS DECIMAL(38,0)) AS gt,
             CAST(SUM(c_o * c_f) AS DECIMAL(38,0)) AS tied
      FROM c
    ),
    p AS (
      SELECT CAST(no AS BIGINT) AS n_o,
             CAST(nf AS BIGINT) AS n_f,
             CAST(gt AS BIGINT) AS gt_pairs,
             CAST(no * nf - gt - tied AS BIGINT) AS lt_pairs,
             CAST(tied AS BIGINT) AS tied_pairs
      FROM s
    ),
    d AS (
      SELECT n_o, n_f, gt_pairs, lt_pairs, tied_pairs,
             {_A50_DELTA} AS cliffs_delta
      FROM p
    )
    SELECT n_o, n_f, gt_pairs, lt_pairs, tied_pairs, cliffs_delta,
           {_A50_MAG} AS magnitude
    FROM d
    """,
    doc="a50 (ext.): Cliff's delta — the ordinal effect size for a48's "
    "open-vs-finished quantity comparison (a z-stat says 'different'; "
    "delta says HOW different on a scale-free [-1, 1] with the "
    "standard negligible/small/medium/large bands). Computed entirely "
    "on the ~50-cell value-domain grid: one map-combined aggregate, "
    "one 50-row cumulative, zero pairwise work — identical plan at "
    "100 TB. Shares the grid with a48/t35, so the streaming twin t37 "
    "gets the effect size from the same incrementally-maintained "
    "state. No reference analog — extension per brief; completes the "
    "two-sample family: a48 significance + a50 magnitude",
)
def a50_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            "l_linestatus",
        )
    )
    g = li.groupBy("v").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_f"),
    )
    return cliffs_delta_from_grid(g)


def cliffs_delta_from_grid(grid: DataFrame) -> DataFrame:
    """a50's finalize from the (v, c_o, c_f) quantity grid — shared with
    t37's streaming twin (same mergeable-grid argument as a48/t35)."""
    from pyspark.sql import Window as W

    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    c = grid.select(
        "v", "c_o", "c_f",
        F.coalesce(F.sum("c_f").over(w), F.lit(0))
        .cast("decimal(16,0)")
        .alias("cum_f"),
    )
    s = c.agg(
        F.sum("c_o").cast("decimal(18,0)").alias("no"),
        F.sum("c_f").cast("decimal(18,0)").alias("nf"),
        F.sum(F.col("c_o") * F.col("cum_f"))
        .cast("decimal(38,0)")
        .alias("gt"),
        F.sum(F.col("c_o") * F.col("c_f"))
        .cast("decimal(38,0)")
        .alias("tied"),
    )
    p = s.select(
        F.col("no").cast("bigint").alias("n_o"),
        F.col("nf").cast("bigint").alias("n_f"),
        F.col("gt").cast("bigint").alias("gt_pairs"),
        (F.col("no") * F.col("nf") - F.col("gt") - F.col("tied"))
        .cast("bigint")
        .alias("lt_pairs"),
        F.col("tied").cast("bigint").alias("tied_pairs"),
    )
    d = p.withColumn("cliffs_delta", F.expr(_A50_DELTA))
    return d.withColumn("magnitude", F.expr(_A50_MAG))


# --- a51 (ext.): Goodman-Kruskal gamma / Somers' D / tau-c (contingency grid) ----------

# Shared verbatim between F.expr and the SQL oracle (a47's one-formula
# device): each association measure is a ratio of exact integer pair
# counts, all float ops in one fixed order, ROUND(,9).
_A51_GAMMA = (
    "ROUND(CAST(c_pairs - d_pairs AS DOUBLE)"
    " / (CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE)), 9)"
)
_A51_SOMERS = (
    "ROUND(CAST(c_pairs - d_pairs AS DOUBLE)"
    " / (CAST(c_pairs AS DOUBLE) + CAST(d_pairs AS DOUBLE)"
    "    + CAST(tied_v_only2 AS DOUBLE) / 2), 9)"
)
_A51_TAUC = (
    "ROUND(2.0 * m_min * CAST(c_pairs - d_pairs AS DOUBLE)"
    " / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)"
    "    * (m_min - 1.0)), 9)"
)


@register(
    "a51_gamma_somers_tauc",
    # HOW ORDERED is the (ship year, quantity) association? a42's
    # Kendall tau-b normalizes by both tie margins; the three classic
    # ordinal companions differ only in how ties enter the denominator
    # (gamma drops all ties, Somers' D charges ties on the dependent
    # side only, tau-c corrects for the rectangular table). All three
    # come from the SAME exact integer pieces, so one operator emits
    # the family. ZERO pairwise row work — a49's grid device: the fact
    # table collapses to the ~350-cell (year x quantity) grid, C/D are
    # one broadcast grid self-join over ordered year pairs, and the tie
    # margins are integer folds of the marginals. Exactness: cell
    # products DECIMAL(14,0)x(14,0) inside DECIMAL(38,0) sums (exact
    # for cells <= 1e14 rows); pair counts surface as BIGINT, binding
    # at ~4e9 total rows (C <= N^2/2 < 2^63) — beyond that keep the
    # internal decimals and drop the output casts (a50's stated
    # trade-off); the three ratios are shared-string doubles.
    oracle=f"""
    WITH g AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
             CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS DECIMAL(14,0)) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    cd AS (
      SELECT CAST(SUM(a.c * b.c * (CASE WHEN a.v < b.v THEN 1 ELSE 0 END))
                  AS DECIMAL(38,0)) AS cp,
             CAST(SUM(a.c * b.c * (CASE WHEN a.v > b.v THEN 1 ELSE 0 END))
                  AS DECIMAL(38,0)) AS dp
      FROM g a JOIN g b ON a.yr < b.yr
    ),
    mv AS (
      SELECT CAST(SUM(t) AS DECIMAL(18,0)) AS nn,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(t * (t - 1)) AS DECIMAL(38,0)) AS tv2
      FROM (SELECT v, CAST(SUM(c) AS DECIMAL(14,0)) AS t FROM g GROUP BY v)
    ),
    my AS (
      SELECT CAST(COUNT(DISTINCT yr) AS BIGINT) AS n_years FROM g
    ),
    mb AS (
      SELECT CAST(SUM(c * (c - 1)) AS DECIMAL(38,0)) AS tb2 FROM g
    ),
    s AS (
      SELECT CAST(nn AS BIGINT) AS n_rows, n_years, n_values,
             CAST(cp AS BIGINT) AS c_pairs,
             CAST(dp AS BIGINT) AS d_pairs,
             CAST(tv2 - tb2 AS BIGINT) AS tied_v_only2,
             CAST(LEAST(n_years, n_values) AS BIGINT) AS m_min
      FROM cd, mv, my, mb
    )
    SELECT n_rows, n_years, n_values, c_pairs, d_pairs, tied_v_only2,
           m_min,
           {_A51_GAMMA} AS gamma,
           {_A51_SOMERS} AS somers_d,
           {_A51_TAUC} AS tau_c
    FROM s
    """,
    doc="a51 (ext.): Goodman-Kruskal gamma, Somers' D(quantity|year), "
    "and Stuart-Kendall tau-c — the three classic ordinal-association "
    "companions to a42's tau-b, differing only in tie handling, all "
    "emitted from ONE set of exact integer pair counts on the "
    "~350-cell (year x quantity) grid: a49's broadcast grid self-join "
    "for concordant/discordant, marginal integer folds for the tie "
    "terms. Corpus-size-independent after the 350-key shuffle — "
    "identical plan at 100 TB. No reference analog — extension per "
    "brief; exact integer pieces + three shared-string doubles",
)
def a51_gamma_somers_tauc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    g = li.groupBy("yr", "v").agg(
        F.count("*").cast("decimal(14,0)").alias("c")
    )
    return gamma_somers_tauc_from_grid(g)


def gamma_somers_tauc_from_grid(g: DataFrame) -> DataFrame:
    """a51's finalize from the (yr, v, c) contingency grid — shared with
    t39's streaming twin (cell counts are sums, so the grid merges under
    any slicing; same argument as a48/a50/a53's quantity grid)."""
    a = g.select(
        F.col("yr").alias("ayr"), F.col("v").alias("av"),
        F.col("c").alias("ac"),
    )
    b = g.select(
        F.col("yr").alias("byr"), F.col("v").alias("bv"),
        F.col("c").alias("bc"),
    )
    cd = a.join(F.broadcast(b), F.col("ayr") < F.col("byr")).agg(
        F.sum(
            F.col("ac") * F.col("bc")
            * F.when(F.col("av") < F.col("bv"), 1).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("cp"),
        F.sum(
            F.col("ac") * F.col("bc")
            * F.when(F.col("av") > F.col("bv"), 1).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("dp"),
    )
    mv = (
        g.groupBy("v")
        .agg(F.sum("c").cast("decimal(14,0)").alias("t"))
        .agg(
            F.sum("t").cast("decimal(18,0)").alias("nn"),
            F.count("*").cast("bigint").alias("n_values"),
            F.sum(F.col("t") * (F.col("t") - 1))
            .cast("decimal(38,0)")
            .alias("tv2"),
        )
    )
    my = g.agg(F.countDistinct("yr").cast("bigint").alias("n_years"))
    mb = g.agg(
        F.sum(F.col("c") * (F.col("c") - 1))
        .cast("decimal(38,0)")
        .alias("tb2")
    )
    s = (
        cd.crossJoin(F.broadcast(mv))
        .crossJoin(F.broadcast(my))
        .crossJoin(F.broadcast(mb))
        .select(
            F.col("nn").cast("bigint").alias("n_rows"),
            "n_years", "n_values",
            F.col("cp").cast("bigint").alias("c_pairs"),
            F.col("dp").cast("bigint").alias("d_pairs"),
            (F.col("tv2") - F.col("tb2"))
            .cast("bigint")
            .alias("tied_v_only2"),
            F.least("n_years", "n_values").cast("bigint").alias("m_min"),
        )
    )
    return s.select(
        "n_rows", "n_years", "n_values", "c_pairs", "d_pairs",
        "tied_v_only2", "m_min",
        F.expr(_A51_GAMMA).alias("gamma"),
        F.expr(_A51_SOMERS).alias("somers_d"),
        F.expr(_A51_TAUC).alias("tau_c"),
    )


# --- a52 (ext.): Mood's median test (bounded value-domain grid) ------------------------

# One shared chi-square string (a47's device): exact BIGINT pieces,
# per-group rational terms folded in fixed A/N/R order (a44's device),
# ROUND(,9).
_A52_CHI2 = (
    "ROUND(CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE)"
    " * ((CAST(a_a AS DOUBLE) * CAST(a_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    "     + CAST(a_n AS DOUBLE) * CAST(a_n AS DOUBLE) / CAST(n_n AS DOUBLE))"
    "    + CAST(a_r AS DOUBLE) * CAST(a_r AS DOUBLE) / CAST(n_r AS DOUBLE))"
    " - CAST(above_total AS DOUBLE) * CAST(above_total AS DOUBLE))"
    " / (CAST(above_total AS DOUBLE)"
    "    * (CAST(n_rows AS DOUBLE) - CAST(above_total AS DOUBLE))), 9)"
)


@register(
    "a52_mood_median_test",
    # Do the three return-flag classes share a common MEDIAN quantity?
    # Mood's test dichotomizes at the grand median and runs the 2xk
    # chi-square — less powerful than a44's Kruskal-Wallis but robust
    # to any shape difference except location, the classic quick
    # screen. Sort-free: the grand lower median is MIN(v) with
    # 2*cum(<=v) >= N on the 50-row value grid, the above-median
    # counts are one conditional fold of the same 150-cell grid, and
    # the chi-square is a47's N-scaled exact-integer form (every count
    # BIGINT; per-group terms fold in fixed A/N/R order inside ONE
    # shared double string). Scale: one map-combined 150-cell
    # aggregate is the only shuffle — identical at 100 TB.
    oracle=f"""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    vals AS (SELECT v, SUM(c) AS cv FROM cells GROUP BY v),
    tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM vals),
    cum AS (
      SELECT v, SUM(cv) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
      FROM vals
    ),
    med AS (
      SELECT CAST(MIN(v) AS BIGINT) AS median_v
      FROM cum, tot WHERE 2 * cle >= n
    ),
    grp AS (
      SELECT median_v,
        CAST(SUM(CASE WHEN g = 'A' THEN c ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN g = 'N' THEN c ELSE 0 END) AS BIGINT) AS n_n,
        CAST(SUM(CASE WHEN g = 'R' THEN c ELSE 0 END) AS BIGINT) AS n_r,
        CAST(SUM(CASE WHEN g = 'A' AND v > median_v THEN c ELSE 0 END)
             AS BIGINT) AS a_a,
        CAST(SUM(CASE WHEN g = 'N' AND v > median_v THEN c ELSE 0 END)
             AS BIGINT) AS a_n,
        CAST(SUM(CASE WHEN g = 'R' AND v > median_v THEN c ELSE 0 END)
             AS BIGINT) AS a_r
      FROM cells, med GROUP BY median_v
    ),
    s AS (
      SELECT median_v, n_a, n_n, n_r, a_a, a_n, a_r,
             n_a + n_n + n_r AS n_rows,
             a_a + a_n + a_r AS above_total
      FROM grp
    )
    SELECT n_rows, median_v, n_a, n_n, n_r, a_a, a_n, a_r, above_total,
           {_A52_CHI2} AS chi2_stat
    FROM s
    """,
    doc="a52 (ext.): Mood's median test — do return-flag classes share "
    "a common median quantity? Dichotomize at the grand median "
    "(sort-free: MIN(v) with 2*cum <= N on the 50-row value grid) and "
    "chi-square the 2x3 above/below table with a47's N-scaled "
    "exact-integer device, per-group terms folded in fixed A/N/R "
    "order (a44). The robust-but-blunt companion to a44's "
    "Kruskal-Wallis: KW ranks everything, Mood's only asks which side "
    "of the median each row falls on. One 150-cell aggregate is the "
    "only shuffle — identical plan at 100 TB. No reference analog — "
    "extension per brief",
)
def a52_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("v", "g")
        .agg(F.count("*").alias("c"))
    )
    vals = cells.groupBy("v").agg(F.sum("c").alias("cv"))
    tot = vals.agg(F.sum("cv").cast("bigint").alias("n"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = vals.select("v", F.sum("cv").over(w).alias("cle"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cle") >= F.col("n"))
        .agg(F.min("v").cast("bigint").alias("median_v"))
    )

    def _cnt(flag, above):
        cond = F.col("g") == flag
        if above:
            cond = cond & (F.col("v") > F.col("median_v"))
        return F.sum(F.when(cond, F.col("c")).otherwise(0)).cast("bigint")

    grp = (
        cells.crossJoin(F.broadcast(med))
        .groupBy("median_v")
        .agg(
            _cnt("A", False).alias("n_a"),
            _cnt("N", False).alias("n_n"),
            _cnt("R", False).alias("n_r"),
            _cnt("A", True).alias("a_a"),
            _cnt("N", True).alias("a_n"),
            _cnt("R", True).alias("a_r"),
        )
    )
    s = grp.select(
        "median_v", "n_a", "n_n", "n_r", "a_a", "a_n", "a_r",
        (F.col("n_a") + F.col("n_n") + F.col("n_r")).alias("n_rows"),
        (F.col("a_a") + F.col("a_n") + F.col("a_r")).alias("above_total"),
    )
    return s.select(
        "n_rows", "median_v", "n_a", "n_n", "n_r", "a_a", "a_n", "a_r",
        "above_total",
        F.expr(_A52_CHI2).alias("chi2_stat"),
    )


# --- a53 (ext.): Ansari-Bradley dispersion test (value-domain grid device) -------------

# One shared z string (a47's device): exact integer pieces (num is the
# N-scaled centered statistic, st/st2 the score marginals), the
# N^4-magnitude variance composed in DOUBLE inside this string from
# exact N^3-scale integers (a49's device), ROUND(,9).
_A53_Z = (
    "ROUND(CAST(num AS DOUBLE)"
    " / (CAST(n_rows AS DOUBLE)"
    "    * SQRT(CAST(n_o AS DOUBLE) * CAST(n_f AS DOUBLE)"
    "           * (CAST(n_rows AS DOUBLE) * CAST(st2 AS DOUBLE)"
    "              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
    "           / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)"
    "              * (CAST(n_rows AS DOUBLE) - 1)))), 9)"
)


@register(
    "a53_ansari_bradley",
    # Do open vs finished line items differ in quantity DISPERSION?
    # a48's U test detects location shift; Ansari-Bradley is its
    # scale-alternative sibling: score each observation by closeness
    # to the extremes, min(rank, N+1-rank), and compare score sums.
    # Zero pairwise work — a48's value-domain grid device: doubled
    # midranks dr = 2*cum(<v) + t + 1 and doubled scores
    # ds = min(dr, 2(N+1)-dr) are exact integers per 50-row grid cell;
    # AB2 = sum c_o*ds, and the tie-conditional normal z uses the
    # score marginals st = sum t*ds, st2 = sum t*ds^2 (Hollander-Wolfe
    # conditional form, valid for ANY tie pattern). Exactness: st2's
    # cube-magnitude fold uses a49's stepwise-width casts
    # ((25,0)x(13,0) products), binding at ds < 1e13 i.e. ~5e12 rows;
    # num = N*AB2 - n_o*st binds at N^2 < 1e24 i.e. ~1e12 rows — both
    # clear of the ~6e11-row 100 TB scale; ab2 surfaces as BIGINT
    # (binds ~4e9 rows; keep the decimal beyond, a50's trade-off).
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_o,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_f
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    ),
    c AS (
      SELECT v, c_o, c_f, c_o + c_f AS t,
             CAST(COALESCE(SUM(c_o + c_f) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(16,0)) AS cum_lt
      FROM g
    ),
    nn AS (
      SELECT CAST(SUM(t) AS DECIMAL(14,0)) AS n FROM c
    ),
    ds AS (
      SELECT c_o, c_f, t,
             CAST(LEAST(2 * cum_lt + t + 1,
                        2 * (n + 1) - (2 * cum_lt + t + 1))
                  AS DECIMAL(13,0)) AS ds_v
      FROM c, nn
    ),
    s AS (
      SELECT CAST(SUM(c_o) AS DECIMAL(14,0)) AS no,
             CAST(SUM(c_f) AS DECIMAL(14,0)) AS nf,
             CAST(SUM(c_o * ds_v) AS DECIMAL(24,0)) AS ab2,
             CAST(SUM(t * ds_v) AS DECIMAL(25,0)) AS st,
             CAST(SUM(CAST(t * ds_v AS DECIMAL(25,0))
                      * CAST(ds_v AS DECIMAL(13,0)))
                  AS DECIMAL(38,0)) AS st2
      FROM ds
    ),
    p AS (
      SELECT CAST(no + nf AS BIGINT) AS n_rows,
             CAST(no AS BIGINT) AS n_o,
             CAST(nf AS BIGINT) AS n_f,
             CAST(ab2 AS BIGINT) AS ab2_stat,
             CAST(CAST(no + nf AS DECIMAL(14,0))
                  * CAST(ab2 AS DECIMAL(24,0))
                  - CAST(no AS DECIMAL(13,0))
                    * CAST(st AS DECIMAL(25,0))
                  AS DECIMAL(38,0)) AS num,
             st, st2
      FROM s
    )
    SELECT n_rows, n_o, n_f, ab2_stat,
           {_A53_Z} AS z_stat
    FROM p
    """,
    doc="a53 (ext.): Ansari-Bradley test — do open vs finished line "
    "items differ in quantity SPREAD? The scale-alternative sibling "
    "of a48's Mann-Whitney (location): extremeness scores "
    "min(rank, N+1-rank) from doubled midranks on the 50-cell "
    "value-domain grid, tie-conditional normal variance from the "
    "score marginals — zero pairwise work, one map-combined "
    "aggregate, the cumulative runs over 50 rows regardless of "
    "corpus size. Completes the two-sample family: a48 location "
    "significance, a50 location magnitude, a53 dispersion. Shares "
    "the (v, c_o, c_f) grid with a48/a50/t35/t37, so the streaming "
    "twin t38 reuses the same incrementally-maintained state. No "
    "reference analog — extension per brief",
)
def a53_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            "l_linestatus",
        )
    )
    g = li.groupBy("v").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_f"),
    )
    return ansari_bradley_from_grid(g)


def ansari_bradley_from_grid(grid: DataFrame) -> DataFrame:
    """a53's finalize from the (v, c_o, c_f) quantity grid — shared with
    t38's streaming twin (same mergeable-grid argument as a48/a50)."""
    from pyspark.sql import Window as W

    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    c = grid.select(
        "v", "c_o", "c_f",
        (F.col("c_o") + F.col("c_f")).alias("t"),
        F.coalesce(F.sum(F.col("c_o") + F.col("c_f")).over(w), F.lit(0))
        .cast("decimal(16,0)")
        .alias("cum_lt"),
    )
    nn = c.agg(F.sum("t").cast("decimal(14,0)").alias("n"))
    dr = 2 * F.col("cum_lt") + F.col("t") + 1
    ds = c.crossJoin(F.broadcast(nn)).select(
        "c_o", "c_f", "t",
        F.least(dr, 2 * (F.col("n") + 1) - dr)
        .cast("decimal(13,0)")
        .alias("ds_v"),
    )
    s = ds.agg(
        F.sum("c_o").cast("decimal(14,0)").alias("no"),
        F.sum("c_f").cast("decimal(14,0)").alias("nf"),
        F.sum(F.col("c_o") * F.col("ds_v"))
        .cast("decimal(24,0)")
        .alias("ab2"),
        F.sum(F.col("t") * F.col("ds_v"))
        .cast("decimal(25,0)")
        .alias("st"),
        F.sum(
            (F.col("t") * F.col("ds_v")).cast("decimal(25,0)")
            * F.col("ds_v").cast("decimal(13,0)")
        )
        .cast("decimal(38,0)")
        .alias("st2"),
    )
    p = s.select(
        (F.col("no") + F.col("nf")).cast("bigint").alias("n_rows"),
        F.col("no").cast("bigint").alias("n_o"),
        F.col("nf").cast("bigint").alias("n_f"),
        F.col("ab2").cast("bigint").alias("ab2_stat"),
        (
            (F.col("no") + F.col("nf")).cast("decimal(14,0)")
            * F.col("ab2").cast("decimal(24,0)")
            - F.col("no").cast("decimal(13,0)")
            * F.col("st").cast("decimal(25,0)")
        )
        .cast("decimal(38,0)")
        .alias("num"),
        "st", "st2",
    )
    return p.select(
        "n_rows", "n_o", "n_f", "ab2_stat",
        F.expr(_A53_Z).alias("z_stat"),
    )


# --- a54 (ext.): Dunn's post-hoc pairwise rank test (completes a44) ---------------------

# One shared z string per pair (a47's device): doubled mean-rank
# difference over the tie-corrected Dunn standard error; every input is
# an exact BIGINT/DECIMAL piece from the value-domain grid.
def _a54_z(i: str, j: str) -> str:
    rbar = (
        f"((CAST(r2_{i} AS DOUBLE) / n_{i}"
        f" - CAST(r2_{j} AS DOUBLE) / n_{j}) / 2)"
    )
    se = (
        "SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 12"
        " - CAST(tie_mass AS DOUBLE) / (12 * (CAST(n AS DOUBLE) - 1)))"
        f" * (1.0 / n_{i} + 1.0 / n_{j}))"
    )
    return f"ROUND({rbar} / {se}, 9)"


def _a54_diff(i: str, j: str) -> str:
    return (
        f"ROUND((CAST(r2_{i} AS DOUBLE) / n_{i}"
        f" - CAST(r2_{j} AS DOUBLE) / n_{j}) / 2, 9)"
    )


_A54_CORE = """
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    vals AS (
      SELECT v, SUM(c) AS cv FROM cells GROUP BY v
    ),
    ranked AS (
      SELECT v, cv,
             COALESCE(SUM(cv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_less
      FROM vals
    ),
    r2 AS (
      SELECT v, 2 * cum_less + cv + 1 AS r2v FROM ranked
    ),
    grp AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
             CAST(SUM(c * r2v) AS BIGINT) AS r2_sum
      FROM cells JOIN r2 USING (v) GROUP BY g
    ),
    ties AS (
      SELECT CAST(SUM(CAST(cv AS DECIMAL(38,0)) * cv * cv - cv)
                  AS DECIMAL(38,0)) AS tie_mass
      FROM vals
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 'A' THEN n_g END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN g = 'N' THEN n_g END) AS BIGINT) AS n_n,
             CAST(SUM(CASE WHEN g = 'R' THEN n_g END) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN g = 'A' THEN r2_sum END) AS BIGINT) AS r2_a,
             CAST(SUM(CASE WHEN g = 'N' THEN r2_sum END) AS BIGINT) AS r2_n,
             CAST(SUM(CASE WHEN g = 'R' THEN r2_sum END) AS BIGINT) AS r2_r,
             MAX(tie_mass) AS tie_mass
      FROM grp, ties
    )
"""


@register(
    "a54_dunn_posthoc",
    # a44's Kruskal-Wallis says "the three return-flag classes differ
    # SOMEWHERE"; Dunn's test says WHERE — the standard post-hoc:
    # pairwise mean-rank differences over the tie-corrected standard
    # error sqrt((N(N+1)/12 - T/(12(N-1))) (1/n_i + 1/n_j)), one z per
    # pair (Bonferroni-ready). Identical sort-free machinery: doubled
    # midranks from the 50-row value grid, per-group BIGINT rank sums
    # folded in fixed A/N/R order, tie mass in DECIMAL(38,0), each
    # pair's z one shared formula string. Scale: the SAME one
    # 150-cell aggregate a44 runs — the post-hoc is free once the
    # grid exists; three output rows regardless of corpus size.
    oracle=f"""{_A54_CORE}
    SELECT 'A-N' AS pair, n_a AS n_i, n_n AS n_j,
           {_a54_diff('a', 'n')} AS mean_rank_diff,
           {_a54_z('a', 'n')} AS z_stat
    FROM tot
    UNION ALL
    SELECT 'A-R', n_a, n_r, {_a54_diff('a', 'r')}, {_a54_z('a', 'r')}
    FROM tot
    UNION ALL
    SELECT 'N-R', n_n, n_r, {_a54_diff('n', 'r')}, {_a54_z('n', 'r')}
    FROM tot
    """,
    doc="a54 (ext.): Dunn's post-hoc pairwise comparisons — after a44's "
    "omnibus Kruskal-Wallis rejects, WHICH return-flag pairs differ? "
    "Tie-corrected pairwise mean-rank z statistics from the identical "
    "sort-free value-domain rank grid (doubled midranks, BIGINT rank "
    "sums, DECIMAL(38,0) tie mass), three rows out, each z a shared "
    "formula string. The omnibus+post-hoc pairing mirrors how the "
    "test is actually used. One 150-cell map-combined aggregate — "
    "identical plan at 100 TB. No reference analog — extension per "
    "brief; completes the k-sample family a44/a46/a49/a52",
)
def a54_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("v", "g")
        .agg(F.count("*").alias("c"))
    )
    vals = cells.groupBy("v").agg(F.sum("c").alias("cv"))
    ranked = vals.withColumn(
        "cum_less",
        F.coalesce(
            F.sum("cv").over(
                W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    r2 = ranked.select(
        "v", (2 * F.col("cum_less") + F.col("cv") + 1).alias("r2v")
    )
    grp = (
        cells.join(F.broadcast(r2), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("r2v")).cast("bigint").alias("r2_sum"),
        )
    )
    tie = vals.agg(
        F.sum(
            F.col("cv").cast("decimal(38,0)") * F.col("cv") * F.col("cv")
            - F.col("cv")
        )
        .cast("decimal(38,0)")
        .alias("tie_mass")
    )
    tot = (
        grp.agg(
            F.sum("n_g").cast("bigint").alias("n"),
            F.sum(F.when(F.col("g") == "A", F.col("n_g")))
            .cast("bigint").alias("n_a"),
            F.sum(F.when(F.col("g") == "N", F.col("n_g")))
            .cast("bigint").alias("n_n"),
            F.sum(F.when(F.col("g") == "R", F.col("n_g")))
            .cast("bigint").alias("n_r"),
            F.sum(F.when(F.col("g") == "A", F.col("r2_sum")))
            .cast("bigint").alias("r2_a"),
            F.sum(F.when(F.col("g") == "N", F.col("r2_sum")))
            .cast("bigint").alias("r2_n"),
            F.sum(F.when(F.col("g") == "R", F.col("r2_sum")))
            .cast("bigint").alias("r2_r"),
        )
        .crossJoin(F.broadcast(tie))
    )

    def pair(label: str, i: str, j: str) -> DataFrame:
        return tot.select(
            F.lit(label).alias("pair"),
            F.col(f"n_{i}").alias("n_i"),
            F.col(f"n_{j}").alias("n_j"),
            F.expr(_a54_diff(i, j)).alias("mean_rank_diff"),
            F.expr(_a54_z(i, j)).alias("z_stat"),
        )

    return (
        pair("A-N", "a", "n")
        .unionByName(pair("A-R", "a", "r"))
        .unionByName(pair("N-R", "n", "r"))
    )


# --- a55 (ext.): Cramér-von Mises two-sample test (value-domain grid device) -----------

# Shared per-cell term: the cell's contribution to T = nm/N^2 * sum_v
# c_v (F_n(v) - G_m(v))^2, with the ECDF difference computed as the
# exact BIGINT dv = nf*cumF - no*cumG divided back down in one fixed
# order. Every term is nonnegative and bounded by T itself (the terms
# SUM to T), so 12-dp rounding + decimal summation is exact and
# order-free on both engines.
_A55_TERM = (
    "ROUND(CAST(no AS DOUBLE) * CAST(nf AS DOUBLE)"
    " / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)"
    " * CAST(cv AS DOUBLE)"
    " * (CAST(dv AS DOUBLE) / CAST(no AS DOUBLE) / CAST(nf AS DOUBLE))"
    " * (CAST(dv AS DOUBLE) / CAST(no AS DOUBLE) / CAST(nf AS DOUBLE)),"
    " 12)"
)

# Asymptotic standardization (Anderson 1962, the same moments scipy's
# cramervonmises_2samp uses): E[T] = (1 + 1/N)/6 and
# Var[T] = (N+1)/(45 N^2) * (4mnN - 3(m^2+n^2) - 2mn)/(4mn).
# n, m, N are < 2^53 so their double images are exact; the whole
# standardization is ONE shared fixed-order scalar expression.
_A55_T = "ROUND(CAST(tsum AS DOUBLE), 9)"
_A55_Z = (
    "ROUND((CAST(tsum AS DOUBLE)"
    " - (1 + 1 / CAST(nn AS DOUBLE)) / 6)"
    " / SQRT((CAST(nn AS DOUBLE) + 1) / 45"
    "        / CAST(nn AS DOUBLE) / CAST(nn AS DOUBLE)"
    "        * (4 * CAST(no AS DOUBLE) * CAST(nf AS DOUBLE)"
    "             * CAST(nn AS DOUBLE)"
    "           - 3 * (CAST(no AS DOUBLE) * CAST(no AS DOUBLE)"
    "                  + CAST(nf AS DOUBLE) * CAST(nf AS DOUBLE))"
    "           - 2 * CAST(no AS DOUBLE) * CAST(nf AS DOUBLE))"
    "        / (4 * CAST(no AS DOUBLE) * CAST(nf AS DOUBLE))), 9)"
)


@register(
    "a55_cramer_von_mises",
    # Two-sample Cramér-von Mises: do open ('O') and finished ('F')
    # line items draw quantities from the same distribution — measured
    # over the WHOLE ECDF, not just its largest gap (m14's KS) or its
    # mean rank (a48's U)? T = nm/N^2 * sum over all N observations of
    # (F_n(x) - G_m(x))^2, evaluated in the right-continuous ECDF form,
    # which the ~50-cell quantity value grid computes with zero
    # row-level work: inclusive cumulative counts per cell, the exact
    # integer cross-difference dv = nf*cumF - no*cumG, and one
    # 12-dp-rounded double term per cell summed as DECIMAL(38,12).
    # Exactness bound: dv = nf*cumF - no*cumG stays in BIGINT while
    # N < ~3e9 (dv <= N^2/4 < 2^63); int64→double is the
    # hardware-exact conversion path on both engines (the m40 lesson —
    # DECIMAL(38,_)→double above 2^63 takes an int128 path the engines
    # round differently). Beyond that the grid device would need the
    # deci-unit rescale, documented not implemented. Scale: ONE
    # map-combined aggregate to ~50 cells; everything after runs on 50
    # rows regardless of corpus size.
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_o,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_f
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    ),
    c AS (
      SELECT v, c_o, c_f,
             CAST(SUM(c_o) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(18,0)) AS cum_o,
             CAST(SUM(c_f) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(18,0)) AS cum_f
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(c_o) AS DECIMAL(18,0)) AS no,
             CAST(SUM(c_f) AS DECIMAL(18,0)) AS nf,
             CAST(SUM(c_o + c_f) AS DECIMAL(18,0)) AS nn
      FROM g
    ),
    terms AS (
      SELECT no, nf, nn,
             CAST(c.c_o + c.c_f AS BIGINT) AS cv,
             CAST(tot.nf * c.cum_o - tot.no * c.cum_f AS BIGINT) AS dv
      FROM c, tot
    ),
    s AS (
      SELECT no, nf, nn,
             CAST(SUM(CAST({_A55_TERM} AS DECIMAL(26,12)))
                  AS DECIMAL(38,12)) AS tsum
      FROM terms GROUP BY no, nf, nn
    )
    SELECT CAST(no AS BIGINT) AS n_o,
           CAST(nf AS BIGINT) AS n_f,
           {_A55_T} AS t_cvm,
           {_A55_Z} AS z_stat
    FROM s
    WHERE no > 0 AND nf > 0
    """,
    doc="a55 (ext.): two-sample Cramér-von Mises test — the "
    "whole-ECDF distributional comparison of open vs finished line "
    "quantities, completing the two-sample triad: m14's KS reads the "
    "largest ECDF gap, a48's Mann-Whitney the mean rank shift, a55 "
    "the INTEGRATED squared ECDF distance (sensitive to spread and "
    "shape differences KS misses). Zero pairwise work: the ~50-cell "
    "value grid gives inclusive cumulative counts, the ECDF "
    "difference is the exact BIGINT cross-product fold, and each "
    "cell's nonnegative term (bounded by T itself) is 12-dp-rounded "
    "then decimal-summed — exact and order-free on both engines. "
    "Anderson's asymptotic moments standardize T in one shared "
    "fixed-order scalar string. One map-combined shuffle to 50 keys "
    "— identical plan at 100 TB. No reference analog — extension "
    "per brief; completes the a44/a48/a49/a52/a53 grid family",
)
def a55_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            "l_linestatus",
        )
    )
    g = li.groupBy("v").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_f"),
    )
    return cramer_von_mises_from_grid(g)


def cramer_von_mises_from_grid(grid: DataFrame) -> DataFrame:
    """a55's finalize from the (v, c_o, c_f) quantity grid — the same
    mergeable sufficient statistic a48/a50/a53 and the t35/t37/t38
    streaming monitors share, so a streaming twin gets batch-exact
    results by maintaining cell counts alone."""
    from pyspark.sql import Window as W

    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = grid.select(
        "v", "c_o", "c_f",
        F.sum("c_o").over(w).cast("decimal(18,0)").alias("cum_o"),
        F.sum("c_f").over(w).cast("decimal(18,0)").alias("cum_f"),
    )
    tot = grid.agg(
        F.sum("c_o").cast("decimal(18,0)").alias("no"),
        F.sum("c_f").cast("decimal(18,0)").alias("nf"),
        F.sum(F.col("c_o") + F.col("c_f"))
        .cast("decimal(18,0)")
        .alias("nn"),
    )
    terms = c.crossJoin(F.broadcast(tot)).select(
        "no", "nf", "nn",
        (F.col("c_o") + F.col("c_f")).cast("bigint").alias("cv"),
        (F.col("nf") * F.col("cum_o") - F.col("no") * F.col("cum_f"))
        .cast("bigint")
        .alias("dv"),
    )
    s = terms.groupBy("no", "nf", "nn").agg(
        F.sum(F.expr(_A55_TERM).cast("decimal(26,12)"))
        .cast("decimal(38,12)")
        .alias("tsum")
    )
    return s.filter((F.col("no") > 0) & (F.col("nf") > 0)).select(
        F.col("no").cast("bigint").alias("n_o"),
        F.col("nf").cast("bigint").alias("n_f"),
        F.expr(_A55_T).alias("t_cvm"),
        F.expr(_A55_Z).alias("z_stat"),
    )


# --- a56 (ext.): Page's trend test for ordered alternatives ------------------------------

# Shared z string with the k=7 weekday constants inlined (a45's style):
# L = L2/2, E[L] = n*k*(k+1)^2/4 = 112n, Var[L] = n*k^2*(k+1)*(k^2-1)/144
# = 18816n/144; every float op in one fixed order.
_A56_Z = (
    "ROUND((CAST(l2 AS DOUBLE) / 2 - 112 * CAST(n AS DOUBLE))"
    " / SQRT(18816 * CAST(n AS DOUBLE) / 144), 9)"
)


@register(
    "a56_page_trend_test",
    # DOES DEMAND CLIMB (OR FADE) ACROSS THE WEEK? Page's test for
    # ordered alternatives: within every COMPLETE 7-day week block,
    # rank the weekdays' demand; L = sum_j j * R_j weights each
    # weekday's rank sum by its position, so a monotone
    # Monday->Sunday trend inflates L where Friedman's unordered
    # chi-square (a45) only sees "some day differs". The a45 pairing
    # mirrors a44/a49: Friedman is the unordered k-sample test, Page
    # the ordered-alternative version with far more power against
    # trends. Device: daily micro-quantized sums (exact BIGINT), a45's
    # doubled within-block ranks (r2 = 2*(rank-1) + ties + 1 keeps tie
    # midranks integer), the position-weighted fold L2 = sum (dow+1)*r2
    # as one BIGINT, and a single shared z string with the k=7
    # constants inlined. Complete weeks only; day 0 (2024-01-01) is a
    # Monday, so dow = day % 7 is the Monday-anchored position. Scale:
    # everything runs on the calendar-bounded (type x day) grid — one
    # map-combined aggregate from the fact table, then ~weeks*7 rows.
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 86400.0) AS BIGINT) AS day,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) * 1000000 AS BIGINT)
               AS xm
      FROM events GROUP BY 1, 2
    ),
    blocks AS (
      SELECT event_type, day, xm,
             CAST(FLOOR(day / 7) AS BIGINT) AS wk,
             day % 7 AS dow
      FROM daily
    ),
    ranked AS (
      SELECT event_type, wk, dow,
             COUNT(*) OVER (PARTITION BY event_type, wk) AS n_days,
             RANK() OVER (PARTITION BY event_type, wk ORDER BY xm) AS rk,
             COUNT(*) OVER (PARTITION BY event_type, wk, xm) AS eq
      FROM blocks
    ),
    complete AS (
      SELECT event_type, wk, dow,
             2 * (rk - 1) + eq + 1 AS r2
      FROM ranked WHERE n_days = 7
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT wk) AS BIGINT) AS n,
             CAST(SUM((dow + 1) * r2) AS BIGINT) AS l2
      FROM complete GROUP BY event_type
    )
    SELECT event_type, n AS n_weeks, l2 AS l2_stat,
           {_A56_Z} AS z_stat
    FROM sums WHERE n > 0
    """,
    doc="a56 (ext.): Page's trend test — per event type, is daily "
    "demand MONOTONICALLY ordered across the week? Position-weighted "
    "within-week rank sums (L = sum j*R_j) standardized against the "
    "exact null moments, the ordered-alternative companion to a45's "
    "Friedman exactly as a49's Jonckheere-Terpstra is to a44's "
    "Kruskal-Wallis — completing the 2x2 ordered/unordered x "
    "independent/repeated nonparametric test matrix. Doubled "
    "within-block midranks keep ties integer, the daily grid bounds "
    "all window work by the calendar, L2 is one BIGINT fold, z one "
    "shared string. No reference analog — extension per brief",
)
def a56_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.floor(
                (F.floor(F.unix_timestamp("ts")).cast("bigint")
                 - 1704067200)
                / 86400.0
            )
            .cast("bigint")
            .alias("day"),
            F.col("value").cast("decimal(27,6)").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg((F.sum("v") * 1000000).cast("bigint").alias("xm"))
    )
    return page_trend_from_daily(daily)


def page_trend_from_daily(daily: DataFrame) -> DataFrame:
    """a56's finalize from the (event_type, day, xm) micro-quantized
    daily grid — shared with t42's streaming monitor (t26/t41's hourly
    decimal state rolls up to the identical daily grid), so the monitor
    equals batch a56 bit-for-bit under any stream slicing."""
    from pyspark.sql import Window as W

    blocks = daily.select(
        "event_type", "day", "xm",
        F.floor(F.col("day") / 7).cast("bigint").alias("wk"),
        (F.col("day") % 7).alias("dow"),
    )
    wb = W.partitionBy("event_type", "wk")
    ranked = blocks.select(
        "event_type", "wk", "dow",
        F.count("*")
        .over(wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("n_days"),
        F.rank().over(wb.orderBy("xm")).alias("rk"),
        F.count("*")
        .over(
            W.partitionBy("event_type", "wk", "xm").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("eq"),
    )
    complete = ranked.filter(F.col("n_days") == 7).select(
        "event_type", "wk", "dow",
        (2 * (F.col("rk") - 1) + F.col("eq") + 1).alias("r2"),
    )
    sums = complete.groupBy("event_type").agg(
        F.countDistinct("wk").cast("bigint").alias("n"),
        F.sum((F.col("dow") + 1) * F.col("r2"))
        .cast("bigint")
        .alias("l2"),
    )
    return sums.filter(F.col("n") > 0).select(
        "event_type",
        F.col("n").alias("n_weeks"),
        F.col("l2").alias("l2_stat"),
        F.expr(_A56_Z).alias("z_stat"),
    )


# --- a57 (ext.): Theil's uncertainty coefficient (information-theoretic association) ----

# Shared sub-expressions (x83/x45's transcendental posture: per-level
# ln(count) rounded once, count-weighted, summed as DECIMAL so the
# entropy pieces are order-free; every formula below is one fixed-order
# double expression shared verbatim between F.expr and the oracle).
_A57_HX = "(LN(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_A57_HY = "(LN(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
_A57_MI = (
    "(LN(CAST(n AS DOUBLE))"
    " + (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))"
    " / CAST(n AS DOUBLE))"
)
_A57_NLN = (
    "CAST(SUM({c} * CAST(ROUND(LN(CAST({c} AS DOUBLE)), 6)"
    " AS DECIMAL(27,6))) AS DECIMAL(38,6))"
)


@register(
    "a57_theil_uncertainty",
    # HOW MUCH does knowing the line status TELL YOU about the return
    # flag (and vice versa)? Theil's uncertainty coefficient
    # U(X|Y) = I(X;Y)/H(X) — the ASYMMETRIC, information-theoretic
    # association the a38 chi-square/Cramér-V pair can't express
    # (chi-square is symmetric and sample-size-coupled; U reads
    # "fraction of X's entropy explained by Y" in [0,1] either
    # direction). Everything reduces to three count-weighted log sums
    # over the 6-cell contingency grid and its marginals:
    # H(X) = ln N - Sx/N, H(X|Y) = (Sy - Sxy)/N, I = ln N +
    # (Sxy - Sx - Sy)/N — with each ln(count) rounded once and
    # decimal-summed (x83's posture) so both engines fold identical
    # terms in any order. Scale: ONE map-combined aggregate to 6
    # cells; the rest is a handful of scalar rows.
    oracle=f"""
    WITH cells AS (
      SELECT l_returnflag AS x, l_linestatus AS y,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS nx FROM cells GROUP BY x),
    my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS ny FROM cells GROUP BY y),
    fx AS (SELECT {_A57_NLN.format(c='nx')} AS sx,
                  CAST(SUM(nx) AS BIGINT) AS n FROM mx),
    fy AS (SELECT {_A57_NLN.format(c='ny')} AS sy FROM my),
    fxy AS (SELECT {_A57_NLN.format(c='n_xy')} AS sxy FROM cells),
    s AS (SELECT fx.n, fx.sx, fy.sy, fxy.sxy FROM fx, fy, fxy)
    SELECT n AS n_rows,
           ROUND({_A57_HX}, 9) AS h_x,
           ROUND({_A57_HY}, 9) AS h_y,
           ROUND({_A57_MI}, 9) AS mutual_info,
           CASE WHEN {_A57_HX} > 0
                THEN ROUND({_A57_MI} / {_A57_HX}, 9) END AS u_x_given_y,
           CASE WHEN {_A57_HY} > 0
                THEN ROUND({_A57_MI} / {_A57_HY}, 9) END AS u_y_given_x,
           CASE WHEN {_A57_HX} + {_A57_HY} > 0
                THEN ROUND(2 * {_A57_MI} / ({_A57_HX} + {_A57_HY}), 9)
           END AS u_symmetric
    FROM s
    """,
    doc="a57 (ext.): Theil's uncertainty coefficient — directional "
    "information-theoretic association between return flag and line "
    "status: U(X|Y), U(Y|X) and the symmetric form, plus the "
    "entropies and mutual information they compose from. The "
    "direction-aware companion to a38's chi-square/Cramér's V "
    "(association strength without direction) — U says WHICH "
    "variable predicts which, scale-free in [0,1]. Three "
    "once-rounded count-weighted log sums over the 6-cell grid and "
    "marginals (x83's transcendental posture), shared formula "
    "strings for every output. One map-combined shuffle to 6 keys — "
    "identical plan at 100 TB. No reference analog — extension per "
    "brief; completes the categorical-association family a38/a41",
)
def a57_theil_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("x"),
        F.col("l_linestatus").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("n_xy"))

    def nln(df: DataFrame, c: str, out: str) -> DataFrame:
        return df.agg(
            F.sum(
                F.col(c)
                * F.expr(
                    f"CAST(ROUND(LN(CAST({c} AS DOUBLE)), 6)"
                    " AS DECIMAL(27,6))"
                )
            )
            .cast("decimal(38,6)")
            .alias(out)
        )

    mx = cells.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("ny"))
    fx = mx.agg(
        F.sum(
            F.col("nx")
            * F.expr(
                "CAST(ROUND(LN(CAST(nx AS DOUBLE)), 6) AS DECIMAL(27,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("sx"),
        F.sum("nx").cast("bigint").alias("n"),
    )
    fy = nln(my, "ny", "sy")
    fxy = nln(cells, "n_xy", "sxy")
    s = fx.crossJoin(F.broadcast(fy)).crossJoin(F.broadcast(fxy))
    return s.select(
        F.col("n").alias("n_rows"),
        F.expr(f"ROUND({_A57_HX}, 9)").alias("h_x"),
        F.expr(f"ROUND({_A57_HY}, 9)").alias("h_y"),
        F.expr(f"ROUND({_A57_MI}, 9)").alias("mutual_info"),
        F.expr(
            f"CASE WHEN {_A57_HX} > 0"
            f" THEN ROUND({_A57_MI} / {_A57_HX}, 9) END"
        ).alias("u_x_given_y"),
        F.expr(
            f"CASE WHEN {_A57_HY} > 0"
            f" THEN ROUND({_A57_MI} / {_A57_HY}, 9) END"
        ).alias("u_y_given_x"),
        F.expr(
            f"CASE WHEN {_A57_HX} + {_A57_HY} > 0"
            f" THEN ROUND(2 * {_A57_MI} / ({_A57_HX} + {_A57_HY}), 9) END"
        ).alias("u_symmetric"),
    )


# --- a58 (ext.): two-sample Anderson-Darling test (value-domain grid device) ------------

# Doubled-midrank algebra: with B2 = 2*cum_less + l (doubled combined
# midrank cumulative) and M2 = 2*cum_less_O + c_o, the Scholz-Stephens
# cell term ((N*M - n*B)^2 / (B(N-B) - N*l/4)) has both the numerator
# and denominator carrying a factor 1/4 that CANCELS, leaving the pure
# integer pieces D2 = N*M2 - no*B2 and B2*(2N - B2) - N*l — no halves
# anywhere. Each nonnegative cell term is rounded once and summed as
# DECIMAL; the two per-sample terms are equal for k = 2 (the D2s are
# negatives of each other and enter squared), so one fold suffices.
_A58_TERM = (
    "ROUND(CAST(l AS DOUBLE) / CAST(nn AS DOUBLE)"
    " * CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE)"
    " / (CAST(b2 AS DOUBLE)"
    "    * (2 * CAST(nn AS DOUBLE) - CAST(b2 AS DOUBLE))"
    "    - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE)), 12)"
)
_A58_A2 = (
    "ROUND((CAST(nn AS DOUBLE) - 1) / CAST(nn AS DOUBLE)"
    " * (1 / CAST(no AS DOUBLE) + 1 / CAST(nf AS DOUBLE))"
    " * CAST(tsum AS DOUBLE), 9)"
)


@register(
    "a58_anderson_darling",
    # The TAIL-WEIGHTED member of the two-sample ECDF trio: m14's KS
    # reads the largest ECDF gap, a55's Cramér-von Mises integrates
    # the squared gap uniformly, a58's Anderson-Darling divides by
    # B(N-B) so gaps NEAR THE TAILS count hardest — the test that
    # catches tail migration (exactly where training-data drift
    # hurts) while KS/CvM stay quiet. Scholz-Stephens midrank
    # (tie-adjusted) form on the ~50-cell quantity grid: doubled
    # integer cumulative (no halves — the 1/4 factors cancel, see
    # _A58_TERM), one 12-dp-rounded nonnegative term per cell summed
    # as DECIMAL(38,12), and the k=2 symmetry (both samples' terms
    # are equal) folded analytically. Output is A2_akN (H0 mean = 1;
    # significance via the Scholz-Stephens table — the exact null
    # variance needs O(N) harmonic constants, a scan-sized job at
    # 100 TB, deliberately NOT computed here). Degenerate one-value
    # corpora drop the offending cell via the positive-denominator
    # guard. One map-combined shuffle to ~50 cells.
    oracle=f"""
    WITH g AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_o,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS DECIMAL(14,0)) AS c_f
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    ),
    c AS (
      SELECT v, c_o, c_f,
             CAST(COALESCE(SUM(c_o + c_f) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(18,0)) AS cum_less,
             CAST(COALESCE(SUM(c_o) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(18,0)) AS cumo_less
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(c_o) AS DECIMAL(18,0)) AS no,
             CAST(SUM(c_f) AS DECIMAL(18,0)) AS nf,
             CAST(SUM(c_o + c_f) AS DECIMAL(18,0)) AS nn
      FROM g
    ),
    terms AS (
      SELECT no, nf, nn,
             CAST(c.c_o + c.c_f AS BIGINT) AS l,
             CAST(2 * c.cum_less + c.c_o + c.c_f AS BIGINT) AS b2,
             CAST(tot.nn * (2 * c.cumo_less + c.c_o)
                  - tot.no * (2 * c.cum_less + c.c_o + c.c_f)
                  AS BIGINT) AS d2
      FROM c, tot
    ),
    s AS (
      SELECT no, nf, nn,
             CAST(SUM(CASE WHEN CAST(b2 AS DOUBLE)
                            * (2 * CAST(nn AS DOUBLE)
                               - CAST(b2 AS DOUBLE))
                            - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE) > 0
                       THEN CAST({_A58_TERM} AS DECIMAL(26,12))
                       ELSE CAST(0 AS DECIMAL(26,12)) END)
                  AS DECIMAL(38,12)) AS tsum
      FROM terms GROUP BY no, nf, nn
    )
    SELECT CAST(no AS BIGINT) AS n_o,
           CAST(nf AS BIGINT) AS n_f,
           {_A58_A2} AS a2_stat
    FROM s
    WHERE no > 0 AND nf > 0
    """,
    doc="a58 (ext.): two-sample Anderson-Darling — tail-weighted ECDF "
    "comparison of open vs finished line quantities, completing the "
    "trio m14 (KS, largest gap) / a55 (CvM, integrated gap) / a58 "
    "(AD, tail-weighted integral): the member that fires on tail "
    "migration the other two under-weight. Scholz-Stephens midrank "
    "tie form with the doubled-integer device (the 1/4 factors "
    "cancel so every piece below the per-cell double is an exact "
    "BIGINT; k=2 sample symmetry folds both samples into one sum), "
    "once-rounded nonnegative cell terms decimal-summed. ONE "
    "map-combined shuffle to ~50 grid cells — identical plan at "
    "100 TB. No reference analog — extension per brief",
)
def a58_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linestatus").isin("O", "F"))
        .select(
            F.col("l_quantity").cast("bigint").alias("v"),
            "l_linestatus",
        )
    )
    g = li.groupBy("v").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("decimal(14,0)")
        .alias("c_f"),
    )
    return anderson_darling_from_grid(g)


def anderson_darling_from_grid(grid: DataFrame) -> DataFrame:
    """a58's finalize from the (v, c_o, c_f) quantity grid — the same
    mergeable state t35/t37/t38/t40 maintain, so a streaming AD twin
    would be batch-exact by maintaining cell counts alone."""
    from pyspark.sql import Window as W

    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    c = grid.select(
        "v", "c_o", "c_f",
        F.coalesce(F.sum(F.col("c_o") + F.col("c_f")).over(w), F.lit(0))
        .cast("decimal(18,0)")
        .alias("cum_less"),
        F.coalesce(F.sum("c_o").over(w), F.lit(0))
        .cast("decimal(18,0)")
        .alias("cumo_less"),
    )
    tot = grid.agg(
        F.sum("c_o").cast("decimal(18,0)").alias("no"),
        F.sum("c_f").cast("decimal(18,0)").alias("nf"),
        F.sum(F.col("c_o") + F.col("c_f"))
        .cast("decimal(18,0)")
        .alias("nn"),
    )
    terms = c.crossJoin(F.broadcast(tot)).select(
        "no", "nf", "nn",
        (F.col("c_o") + F.col("c_f")).cast("bigint").alias("l"),
        (F.lit(2) * F.col("cum_less") + F.col("c_o") + F.col("c_f"))
        .cast("bigint")
        .alias("b2"),
        (
            F.col("nn") * (F.lit(2) * F.col("cumo_less") + F.col("c_o"))
            - F.col("no")
            * (F.lit(2) * F.col("cum_less") + F.col("c_o") + F.col("c_f"))
        )
        .cast("bigint")
        .alias("d2"),
    )
    denom_pos = F.expr(
        "CAST(b2 AS DOUBLE) * (2 * CAST(nn AS DOUBLE)"
        " - CAST(b2 AS DOUBLE))"
        " - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE) > 0"
    )
    s = terms.groupBy("no", "nf", "nn").agg(
        F.sum(
            F.when(denom_pos, F.expr(_A58_TERM).cast("decimal(26,12)"))
            .otherwise(F.lit(0).cast("decimal(26,12)"))
        )
        .cast("decimal(38,12)")
        .alias("tsum")
    )
    return s.filter((F.col("no") > 0) & (F.col("nf") > 0)).select(
        F.col("no").cast("bigint").alias("n_o"),
        F.col("nf").cast("bigint").alias("n_f"),
        F.expr(_A58_A2).alias("a2_stat"),
    )
