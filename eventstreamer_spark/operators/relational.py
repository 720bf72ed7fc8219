"""Tier B relational surface: aggregation, sort/limit, set ops,
multi-dimensional grouping, window functions, scalar library.

The reference implements none of these (verified absent, SURVEY.md
§2.1 — it has no second dataset, no SQL surface); they are the
driver-mandated extension tier, expressed as pure Catalyst plans so
every one of them scales: partial aggregation before the shuffle,
TakeOrderedAndProject for top-k, codegen'd scalar expressions.

Determinism rules shared by all oracle-checked queries here:
timestamps → formatted strings, doubles → round(…, 4–6), every LIMIT
preceded by a total order with a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.functions.casting import fmt_ts
from eventstreamer_spark.operators.ranks import ntile_expr, parallel_rank
from eventstreamer_spark.registry import query
from eventstreamer_spark.sources.tables import load_events, load_table

# ---------------------------------------------------------------------------
# Aggregation (TPC-H Q1 shape): groupBy + many aggregates
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       {N.SUMK_DUCK.format(v="l_quantity", s=10000)} AS sum_qty,
       {N.SUMK_DUCK.format(v="l_extendedprice", s=10000)} AS sum_base_price,
       {N.SUMK_DUCK.format(v="l_extendedprice * (1 - l_discount)", s=10000)} AS sum_disc_price,
       {N.SUMK_DUCK.format(v="l_extendedprice * (1 - l_discount) * (1 + l_tax)", s=10000)} AS sum_charge,
       {N.MEAN6_DUCK.format(v="l_quantity")} AS avg_qty,
       {N.MEAN6_DUCK.format(v="l_extendedprice")} AS avg_price,
       {N.MEAN6_DUCK.format(v="l_discount")} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", oracle=_Q1_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 2-key groupBy with 8 aggregates.

    Catalyst plan: pruned parquet scan (4 cols), map-side partial
    HashAggregate, single shuffle on the 2 grouping keys (6 distinct
    groups — trivially balanced at any scale).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # integer-scaled sums/means (functions.numeric): identical
            # int64 partials in any summation order on both engines
            N.sumk_spark(F.col("l_quantity"), 10000).alias("sum_qty"),
            N.sumk_spark(F.col("l_extendedprice"), 10000).alias("sum_base_price"),
            N.sumk_spark(disc_price, 10000).alias("sum_disc_price"),
            N.sumk_spark(disc_price * (1 + F.col("l_tax")), 10000).alias("sum_charge"),
            N.mean6_spark(F.col("l_quantity")).alias("avg_qty"),
            N.mean6_spark(F.col("l_extendedprice")).alias("avg_price"),
            N.mean6_spark(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Sort + limit (top-k): TakeOrderedAndProject
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_custkey,
       sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) / 10000.0 AS total_spend,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spend DESC, o_custkey
LIMIT 10
"""


@query("topk_customers", oracle=_TOPK_ORACLE)
def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heap of
    k rows, then a k·partitions merge on the driver; no global sort at
    any scale. Tie-break on the unique key keeps the cutoff exact."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            N.sumk_spark(F.col("o_totalprice"), 10000).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Distinct + exact percentiles
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT DISTINCT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket
FROM events
"""


@query("distinct_pairs", oracle=_DISTINCT_ORACLE)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = hash aggregate on all columns (map-side partial)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_type", (F.col("user_id") % 10).cast("long").alias("user_bucket")
    ).distinct()


_PCT_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
       round(quantile_cont(l_quantity, 0.50), 6) AS q50,
       round(quantile_cont(l_quantity, 0.75), 6) AS q75,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
FROM lineitem
GROUP BY l_returnflag
"""


@query("exact_percentiles", oracle=_PCT_ORACLE)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (matches quantile_cont).

    At 100 TB the approximate twin (percentile_approx, mergeable
    KLL-style sketch) is the right call — exposed as
    ``approx_percentiles`` below with a rows-only check since sketch
    outputs are implementation-defined."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("q50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q75"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("price_p90"),
    )


# The sketch VALUES are engine-specific, but their error BOUNDS are
# not: the oracle pins the exact aggregates and asserts the bound
# flags true, so a sketch drifting out of tolerance breaks the hash.
_APPROX_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median_price,
       CAST(1 AS BIGINT) AS parts_within_bound,
       CAST(1 AS BIGINT) AS orders_within_bound,
       CAST(1 AS BIGINT) AS median_within_bound
FROM lineitem
GROUP BY l_returnflag
"""


@query("approx_aggregates", oracle=_APPROX_ORACLE)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketches — the 100 TB path: HLL++ distinct counts and
    KLL-ish quantiles combine associatively across partitions, so no
    single executor ever holds the full value set.

    Self-validating (the ann_recall_at_k pattern): the sketch outputs
    are joined against their exact twins and what leaves the query is
    the exact value plus a bounded relative-error flag as a 0/1
    BIGINT — HLL++ at rsd=0.02 gated at 6% (3 sigma), percentile_approx
    at accuracy 10000 gated at 1% (observed error is ~0.1%). The
    oracle pins the exact values and asserts every bound flag, so a
    sketch drifting out of tolerance breaks the hash.

    Plan shape matters here: the sketches run in ONE pass with no
    distinct aggregates next to them. Mixing approx_count_distinct
    with count(DISTINCT) in a single aggregate makes Catalyst stage
    the sketch partials per distinct-key group — millions of HLL merge
    buffers (measured 136s vs 2s at sf0.1). The exact twins each get
    their own clean two-level pass, and the 3-row results
    broadcast-join back together. The exact passes exist only to
    referee the sketches; at 100 TB you ship the sketch pass alone."""
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
    )
    exact_parts = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    exact_orders = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    exact_median = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median")
    )
    joined = (
        sketches.join(F.broadcast(exact_parts), "l_returnflag")
        .join(F.broadcast(exact_orders), "l_returnflag")
        .join(F.broadcast(exact_median), "l_returnflag")
    )

    def within(approx: str, exact: str, tol: float):
        return (
            F.abs(F.col(approx).cast("double") - F.col(exact).cast("double"))
            <= F.lit(tol) * F.col(exact).cast("double")
        ).cast("long")

    return joined.select(
        "l_returnflag",
        F.col("exact_parts").cast("long").alias("exact_parts"),
        F.col("exact_orders").cast("long").alias("exact_orders"),
        F.round(F.col("exact_median"), 6).alias("exact_median_price"),
        within("approx_parts", "exact_parts", 0.06).alias("parts_within_bound"),
        within("approx_orders", "exact_orders", 0.06).alias("orders_within_bound"),
        within("approx_median_price", "exact_median", 0.01).alias("median_within_bound"),
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
     pr AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n
FROM (SELECT DISTINCT o_custkey FROM (SELECT * FROM hi UNION ALL SELECT * FROM pr))
UNION ALL
SELECT 'intersect', CAST(count(*) AS BIGINT)
FROM (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT DISTINCT o_custkey FROM pr)
UNION ALL
SELECT 'except', CAST(count(*) AS BIGINT)
FROM (SELECT DISTINCT o_custkey FROM hi EXCEPT SELECT DISTINCT o_custkey FROM pr)
"""


@query("set_operations", oracle=_SETOPS_ORACLE)
def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT over two order cohorts, summarized to
    counts (one deterministic row per op)."""
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    pr = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union", hi.unionByName(pr).distinct())
        .unionByName(one("intersect", hi.distinct().intersect(pr.distinct())))
        .unionByName(one("except", hi.distinct().exceptAll(pr.distinct())))
    )


# ---------------------------------------------------------------------------
# Multi-dimensional grouping: ROLLUP / CUBE / GROUPING SETS
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS gid,
       sum(CAST(round(o_totalprice * 10000, 0) AS BIGINT)) / 10000.0 AS total,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("rollup_orders", oracle=_ROLLUP_ORACLE)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: Spark expands to one Expand + single aggregate — no
    extra shuffles per grouping level."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("int")
            .alias("gid"),
            N.sumk_spark(F.col("o_totalprice"), 10000).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "gid",
            "total",
            "n",
        )
    )


_CUBE_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
       sum(CAST(round(l_quantity * 10000, 0) AS BIGINT)) / 10000.0 AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("cube_lineitem", oracle=_CUBE_ORACLE)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("int")
            .alias("gid"),
            N.sumk_spark(F.col("l_quantity"), 10000).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n",
        )
    )


_GSETS_ORACLE = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(user_id % 5 AS BIGINT), -1) AS user_bucket,
       sum(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 AS total_value,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())
"""


@query("grouping_sets_events", oracle=_GSETS_ORACLE)
def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_gsets")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(CAST(user_id % 5 AS BIGINT), -1L) AS user_bucket,
               sum(CAST(round(value * 10000, 0) AS BIGINT)) / 1e4 AS total_value,
               count(*) AS n
        FROM ev_gsets
        GROUP BY GROUPING SETS ((event_type), (user_id % 5), ())
        """
    )


# ---------------------------------------------------------------------------
# Window (analytic) functions
# ---------------------------------------------------------------------------

_WINFN_ORACLE = """
SELECT o_custkey,
       o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY round(o_totalprice, 2) DESC) AS BIGINT) AS price_rank,
       CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_order,
       CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_functions_orders", oracle=_WINFN_ORACLE)
def q_window_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic + frame-based windows in one pass: a single
    shuffle on o_custkey serves all six functions (same partitioning).
    Rank is taken over price rounded to 2 decimals so float ties agree
    across engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy(F.round(F.col("o_totalprice"), 2).desc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wp).cast("long").alias("price_rank"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias(
            "running_spend"
        ),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 6).alias("moving_avg3"),
    )


_NTILE_ORACLE = """
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(c_acctbal), 6) AS min_bal, round(max(c_acctbal), 6) AS max_bal
FROM (
  SELECT c_acctbal,
         CAST(ntile(4) OVER (ORDER BY round(c_acctbal, 2), c_custkey) AS BIGINT) AS bucket
  FROM customer
)
GROUP BY bucket
"""


@query("ntile_customer_balance", oracle=_NTILE_ORACLE)
def q_ntile_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile over all customers, computed with NO single-task
    sort: parallel_rank's one lazy plan (range exchange, sort within
    partitions, broadcast partition offsets) assigns the exact global
    rank, ntile_expr recovers SQL ntile(4)'s first-m-buckets-larger
    split bit-identically (oracle unchanged) in a 4-row report."""
    c = load_table(spark, sf_dir, "customer")
    c2 = c.select(
        "c_acctbal", F.round(F.col("c_acctbal"), 2).alias("bal2"), "c_custkey"
    )
    ranked = parallel_rank(c2, ["bal2", "c_custkey"])
    return (
        ranked.select(
            "c_acctbal", ntile_expr("_rank", 4).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 6).alias("min_bal"),
            F.round(F.max("c_acctbal"), 6).alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation)
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       coalesce(sum(CASE WHEN event_type = 'click' THEN CAST(round(value * 10000, 0) AS BIGINT) END), 0) / 10000.0 AS click_total,
       coalesce(sum(CASE WHEN event_type = 'view' THEN CAST(round(value * 10000, 0) AS BIGINT) END), 0) / 10000.0 AS view_total,
       coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 10000, 0) AS BIGINT) END), 0) / 10000.0 AS purchase_total,
       coalesce(sum(CASE WHEN event_type = 'signup' THEN CAST(round(value * 10000, 0) AS BIGINT) END), 0) / 10000.0 AS signup_total,
       coalesce(sum(CASE WHEN event_type = 'error' THEN CAST(round(value * 10000, 0) AS BIGINT) END), 0) / 10000.0 AS error_total
FROM events
GROUP BY user_id % 10
"""


@query("pivot_event_values", oracle=_PIVOT_ORACLE)
def q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit values → one aggregate, no extra pass to
    discover the pivot domain (required posture at scale)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    piv = (
        ev.select(
            (F.col("user_id") % 10).cast("long").alias("user_bucket"),
            "event_type",
            # pre-scaled int64 (functions.numeric pattern): the pivot
            # sums exact ints, order-free on both engines
            F.round(F.col("value") * 10000, 0).cast("long").alias("v"),
        )
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .sum("v")
    )
    return piv.select(
        "user_bucket",
        *[
            (F.coalesce(F.col(t), F.lit(0)) / 10000.0).alias(f"{t}_total")
            for t in types
        ],
    )


# ---------------------------------------------------------------------------
# Scalar function library (string / date / math / conditional)
# ---------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT o_orderkey,
       upper(o_orderstatus) AS status_upper,
       substr(o_orderpriority, 1, 1) AS priority_code,
       CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
       concat(o_orderstatus, '#', o_orderpriority) AS status_tag,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(day(o_orderdate) AS INTEGER) AS order_day,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S.%f') AS month_start,
       round(abs(o_totalprice - 100000), 4) AS dist_from_100k,
       round(sqrt(o_totalprice), 6) AS price_sqrt,
       round(ln(o_totalprice + 1), 6) AS price_ln,
       CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_kbucket,
       CASE WHEN o_totalprice > 150000 THEN 'high'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'low' END AS price_band
FROM orders
WHERE o_orderkey % 7 = 0
"""


@query("scalar_functions", oracle=_SCALAR_ORACLE)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/conditional scalar coverage — all codegen'd
    JVM expressions; the filter prunes via parquet pushdown."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.length("o_orderpriority").cast("int").alias("priority_len"),
        F.concat(F.col("o_orderstatus"), F.lit("#"), F.col("o_orderpriority")).alias("status_tag"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        fmt_ts(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
        F.round(F.abs(F.col("o_totalprice") - 100000), 4).alias("dist_from_100k"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1), 6).alias("price_ln"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("price_kbucket"),
        F.when(F.col("o_totalprice") > 150000, "high")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("low")
        .alias("price_band"),
    )


_JSON_ORACLE = """
SELECT CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       floor(sum(CAST(round(value * 1000000, 0) AS BIGINT)) * 1.0 / count(*) + 0.5) / 1000000.0 AS avg_value,
       CAST(min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY 1
"""


@query("json_extraction", oracle=_JSON_ORACLE)
def q_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: JSON path extraction + typed cast +
    aggregation (reference parses JSON row-at-a-time with Newtonsoft,
    DispatcherFunction.cs:177; here it's a codegen'd path getter)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            N.mean6_spark(F.col("value")).alias("avg_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_WINFN2_ORACLE = """
SELECT l_orderkey,
       l_linenumber,
       round(first_value(l_extendedprice) OVER w, 4) AS first_price,
       round(last_value(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4) AS last_price,
       round(nth_value(l_extendedprice, 2) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4) AS second_price,
       round(percent_rank() OVER (PARTITION BY l_orderkey ORDER BY round(l_extendedprice, 2), l_linenumber), 6) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY l_orderkey ORDER BY round(l_extendedprice, 2), l_linenumber), 6) AS cdist,
       CAST(dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_returnflag) AS BIGINT) AS flag_rank
FROM lineitem
WHERE l_orderkey % 11 = 0
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
"""


@query("window_analytics_extended", oracle=_WINFN2_ORACLE)
def q_window_analytics_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sensitive analytics: first/last/nth_value over explicit
    full frames (last_value over the default frame is the classic
    running-last bug — pinned here with the full-partition frame),
    percent_rank / cume_dist / dense_rank. One shuffle on the
    partition key serves all six."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wprice = Window.partitionBy("l_orderkey").orderBy(
        F.round(F.col("l_extendedprice"), 2), F.col("l_linenumber")
    )
    wflag = Window.partitionBy("l_orderkey").orderBy("l_returnflag")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.first("l_extendedprice").over(w), 4).alias("first_price"),
        F.round(F.last("l_extendedprice").over(wfull), 4).alias("last_price"),
        F.round(F.nth_value("l_extendedprice", 2).over(wfull), 4).alias("second_price"),
        F.round(F.percent_rank().over(wprice), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wprice), 6).alias("cdist"),
        F.dense_rank().over(wflag).cast("long").alias("flag_rank"),
    )


_TOPK_GROUP_ORACLE = """
SELECT c_mktsegment, o_orderkey, total, rnk FROM (
  SELECT c.c_mktsegment,
         o.o_orderkey,
         round(o.o_totalprice, 4) AS total,
         CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                                 ORDER BY round(o.o_totalprice, 4) DESC, o.o_orderkey) AS BIGINT) AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rnk <= 3
"""


@query("topk_per_group", oracle=_TOPK_GROUP_ORACLE)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (the grouped twin of TakeOrderedAndProject):
    window rank + filter — one shuffle on the group key; rank state
    is O(1) per partition. Unique tie-break keeps the cutoff exact."""
    from eventstreamer_spark.sources.tables import load_events, load_table as _lt

    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round(F.col("o_totalprice"), 4).desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 4).alias("total"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


_LATEST_ORACLE = """
SELECT user_id, event_id AS latest_event_id, event_type AS latest_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@query("latest_event_per_user", oracle=_LATEST_ORACLE)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key (the CDC / SCD compaction primitive):
    row_number over (key ORDER BY ts DESC) = 1. At scale this is the
    MERGE-into-snapshot pattern's read side; with billions of keys it
    stays a single shuffle."""
    from eventstreamer_spark.sources.tables import load_events as _le

    ev = _le(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            fmt_ts(F.col("ts")).alias("latest_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Event transition matrix (per-user Markov chain of event types)
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), tot AS (
  SELECT prev_type, sum(n) AS row_n FROM pairs GROUP BY prev_type
)
SELECT p.prev_type, p.next_type,
       CAST(p.n AS BIGINT) AS n,
       floor(p.n * 1000000.0 / t.row_n + 0.5) / 1000000.0 AS p_next
FROM pairs p JOIN tot t USING (prev_type)
"""


@query("event_transition_matrix", oracle=_TRANSITION_ORACLE)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next_type | prev_type) with counts — the
    session-behavior model a funnel/recommendation analysis starts
    from.

    One shuffle partitions each user's history for the lag window
    (deterministic order: ts then event_id); the pair and row-total
    aggregates are |types|² -sized — broadcast territory — so the
    normalization join moves nothing. Per-user history length bounds
    window memory, not corpus size.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        N.half_up_ratio(F.col("n"), F.col("row_n"), 1000000).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis (ordered stage progression per user)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW = "1 DAY"  # each stage must follow within this bound

_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 1 DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 1 DAY
  GROUP BY e.user_id
), counts AS (
  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
), base AS (
  SELECT n_users AS n1 FROM counts WHERE stage_idx = 1
)
SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
       CAST(n_users AS BIGINT) AS n_users,
       floor(n_users * 1000000.0 / n1 + 0.5) / 1000000.0 AS conversion
FROM counts CROSS JOIN base
"""


@query("funnel_analysis", oracle=_FUNNEL_ORACLE)
def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: a user counts for
    stage k only with a stage-k event strictly after their first
    stage-(k−1) event. Classic product-analytics sequence matching —
    the ORDER requirement is what separates this from three
    independent filters.

    Each stage is one filtered aggregate joined to the previous
    stage's (user, first-ts) table — per-stage state is one row per
    surviving user, monotonically shrinking down the funnel. All
    shuffles key on user_id, so AQE reuses co-partitioning across the
    stage joins instead of re-exchanging.
    """
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW}"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(f"INTERVAL {FUNNEL_WINDOW}"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("stage_idx"), F.lit(FUNNEL_STAGES[0]).alias("stage"), "n_users")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage_idx"), F.lit(FUNNEL_STAGES[1]).alias("stage"), "n_users"
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage_idx"), F.lit(FUNNEL_STAGES[2]).alias("stage"), "n_users"
            )
        )
    )
    base = s1.agg(F.count(F.lit(1)).alias("n1"))
    return counts.crossJoin(F.broadcast(base)).select(
        "stage_idx",
        "stage",
        F.col("n_users").cast("long").alias("n_users"),
        N.half_up_ratio(F.col("n_users"), F.col("n1"), 1000000).alias("conversion"),
    )


# ---------------------------------------------------------------------------
# Robust statistics: trimmed mean / winsorized bounds per group
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_kept,
       floor(sum(CAST(round(e.value * 1000000, 0) AS BIGINT)) * 1.0 / count(*) + 0.5) / 1000000.0 AS trimmed_mean,
       round(min(b.lo), 6) AS p05,
       round(min(b.hi), 6) AS p95
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE e.value >= b.lo AND e.value <= b.hi
GROUP BY e.event_type
"""


@query("trimmed_mean_stats", oracle=_TRIMMED_ORACLE)
def q_trimmed_mean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per event type: the robust-aggregation shape —
    pass 1 computes per-group percentile bounds, pass 2 re-scans and
    averages only in-range rows. Outlier-resistant telemetry summaries
    are this exact two-pass plan at any scale.

    The bounds table is |groups|-sized and broadcasts; the fact scan
    runs twice (percentile state, then the filtered average) — at
    100 TB pass 1 switches to percentile_approx (mergeable sketch,
    see approx_aggregates) and the second scan stays unchanged. The
    bound comparisons are on exact interpolated doubles computed
    identically by both engines (proven by exact_percentiles).
    """
    ev = load_events(spark, sf_dir)
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            N.mean6_spark(F.col("value")).alias("trimmed_mean"),
            F.round(F.min("lo"), 6).alias("p05"),
            F.round(F.min("hi"), 6).alias("p95"),
        )
    )


# ---------------------------------------------------------------------------
# Activity histogram (distribution of per-user event counts)
# ---------------------------------------------------------------------------

_ACTIVITY_ORACLE = """
WITH per_cell AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events
  FROM events GROUP BY user_id, date_trunc('day', ts)
), bucketed AS (
  SELECT CASE WHEN n_events < 2 THEN 0
              WHEN n_events < 3 THEN 1
              WHEN n_events < 4 THEN 2
              WHEN n_events < 6 THEN 3
              ELSE 4 END AS bucket_idx,
         n_events
  FROM per_cell
), tot AS (
  SELECT count(*) AS n_cells FROM per_cell
)
SELECT CAST(bucket_idx AS INTEGER) AS bucket_idx,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min(n_events) AS BIGINT) AS min_events,
       CAST(max(n_events) AS BIGINT) AS max_events,
       floor(count(*) * 1000000.0 / min(t.n_cells) + 0.5) / 1000000.0 AS cell_share
FROM bucketed CROSS JOIN tot t
GROUP BY bucket_idx
"""


@query("activity_histogram", oracle=_ACTIVITY_ORACLE)
def q_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-skew audit: the distribution of per-(user, day)
    event counts in burstiness bands — the diagnostic run before
    choosing a partitioning key (a heavy top band means the key needs
    salting; see salted_skew_join for the cure).

    Two-level aggregate: the per-cell count shuffles on (user, day),
    the histogram re-aggregates |buckets| rows. The second stage is
    constant-sized no matter the corpus — the canonical
    distribution-of-a-distribution plan.
    """
    ev = load_events(spark, sf_dir)
    per_cell = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bucketed = per_cell.withColumn(
        "bucket_idx",
        F.when(F.col("n_events") < 2, 0)
        .when(F.col("n_events") < 3, 1)
        .when(F.col("n_events") < 4, 2)
        .when(F.col("n_events") < 6, 3)
        .otherwise(4),
    )
    tot = per_cell.agg(F.count(F.lit(1)).alias("n_cells_total"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("bucket_idx")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("n_events").cast("long").alias("min_events"),
            F.max("n_events").cast("long").alias("max_events"),
            N.half_up_ratio(
                F.count(F.lit(1)), F.min("n_cells_total"), 1000000
            ).alias("cell_share"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint suite (the Deequ-style pre-training gate)
# ---------------------------------------------------------------------------

# The constraint battery every ingest runs before data reaches a
# training pipeline: completeness (NOT NULL), uniqueness (key
# cardinality), range, set membership, date sanity — all from ONE
# conditional-aggregation pass over the fact table — plus referential
# integrity as one anti-join against the dimension. Each rule reports
# rows checked, violations, and the pass share; the suite passing at
# 0 violations is itself the regression signal (the generator emits
# clean TPC-H data, so any nonzero row means the loader broke).

_DQ_RULES_SQL = {
    # rule name -> violation predicate over orders (engine-shared text)
    "orderkey_not_null": "o_orderkey IS NULL",
    "totalprice_positive": "o_totalprice IS NULL OR o_totalprice <= 0",
    "orderstatus_in_set": "o_orderstatus NOT IN ('O', 'F', 'P')",
    # the generator's contract window (1995-01-01 .. 2001-08-01); a
    # violation means the loader mangled a timestamp, not "old data"
    "orderdate_in_range": (
        "o_orderdate < TIMESTAMP '1995-01-01 00:00:00' OR "
        "o_orderdate > TIMESTAMP '2001-08-01 00:00:00'"
    ),
}


def _dq_oracle() -> str:
    viol = ",\n         ".join(
        f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS v_{name}"
        for name, pred in _DQ_RULES_SQL.items()
    )
    rows = "\n  UNION ALL\n".join(
        f"SELECT '{name}' AS rule, n_checked, v_{name} AS n_violations FROM agg"
        for name in _DQ_RULES_SQL
    )
    return f"""
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_checked,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup,
         {viol}
  FROM orders
),
ref AS (
  SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked,
         CAST(count(*) AS BIGINT) AS n_violations
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
),
rows_ AS (
  {rows}
  UNION ALL
  SELECT 'orderkey_unique' AS rule, n_checked, v_dup AS n_violations FROM agg
  UNION ALL
  SELECT 'custkey_references_customer' AS rule, n_checked, n_violations FROM ref
)
SELECT rule, n_checked, n_violations,
       floor((n_checked - n_violations) * 1000000.0 / n_checked + 0.5)
         / 1000000.0 AS pass_share
FROM rows_
"""


@query("data_quality_constraints", oracle=_dq_oracle())
def q_data_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite report over the orders fact: completeness,
    uniqueness, value range, set membership, date sanity and
    referential integrity against customer — one row per rule with
    rows checked, violations, and the pass share.

    Plan shape: every per-row rule folds into ONE conditional
    aggregation over orders (count + countDistinct + 4 predicate
    sums — a single scan with map-side partials); referential
    integrity is one anti-join that broadcasts the smaller dimension
    side at this shape and stays a shuffle equi-join at 100 TB. The
    per-rule rows unpivot from the 1-row aggregate — no second scan.
    All counts exact integers; only pass_share divides."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_orderkey_unique"),
    ]
    for name, pred in _DQ_RULES_SQL.items():
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END"))
            .cast("long")
            .alias(f"v_{name}")
        )
    agg = o.agg(*aggs)
    rules = list(_DQ_RULES_SQL) + ["orderkey_unique"]
    stack = ", ".join(f"'{name}', v_{name}" for name in rules)
    per_rule = agg.select(
        "n_checked",
        F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"),
    ).select("rule", "n_checked", "n_violations")
    ref = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .crossJoin(F.broadcast(o.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))))
        .select(
            F.lit("custkey_references_customer").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    return per_rule.unionByName(ref).select(
        "rule",
        "n_checked",
        "n_violations",
        N.half_up_ratio(
            F.col("n_checked") - F.col("n_violations"), F.col("n_checked"), 1000000
        ).alias("pass_share"),
    )




# The physical-layout audits (zorder_pruning_audit,
# bloom_file_skipping_audit) moved to operators/layout.py in round 13
# when they gained REAL layout writes (layout_tables) — see that module
# for the machinery that replaced the writer-simulation global rank.
