"""Trend and distribution analytics: moving averages, growth rates,
sliding distinct counts, robust dispersion, concentration indices,
correlation/regression, and first-touch attribution.

The reference engine (DispatcherFunction.cs) stops at per-window
averages; these are the longitudinal questions a team asks next over
the same order/event lake. Spark-first discipline as everywhere in
this repo:

- Window functions run over PRE-AGGREGATED frames (daily/yearly
  grains), so the unpartitioned ordered windows that look like a
  single-partition hazard actually sort only grain-cardinality rows
  (≤ a few thousand for decades of days) — the fact table itself
  never passes through a global sort.
- The sliding distinct count (WAU) is NOT a window function at all:
  count(DISTINCT) cannot ride a running frame, so each (user, day)
  contributes itself to the 7 as-of days via an explode — row-local
  amplification, then one distinct + one count aggregate. That plan
  scales linearly with active user-days at any corpus size.
- Every cross-engine float leaves the engines as an integer-scaled
  sum (functions.numeric rationale) and the final double arithmetic
  is written with the SAME operation order in both oracles, so a
  boundary value cannot round differently (ADVICE.md r3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstreamer_spark.operators.ranks import ntile_expr, parallel_rank
from eventstreamer_spark.registry import query
from eventstreamer_spark.sources.tables import load_events, load_table

# ---------------------------------------------------------------------------
# 7-day moving average of daily order revenue (RANGE frame)
# ---------------------------------------------------------------------------

_MA7_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       cents / 100.0 AS daily_revenue,
       n_orders,
       round(sum(cents) OVER w * 1.0
             / (100.0 * count(*) OVER w), 6) AS ma7_revenue,
       CAST(count(*) OVER w AS BIGINT) AS days_in_window
FROM daily
WINDOW w AS (
  ORDER BY date_diff('day', DATE '1970-01-01', day)
  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
)
"""


@query("moving_average_revenue", oracle=_MA7_ORACLE)
def q_moving_average_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average of daily revenue via a RANGE
    window frame over the epoch-day number — calendar-aware (a gap
    day shrinks the window; a ROWS frame would silently span it).

    The frame runs over the DAILY aggregate, not the fact: one
    shuffle compresses orders to ≤ #days rows, and the ordered window
    sorts only those. Day cents are exact int64 sums; the moving mean
    divides once, with the identical expression on both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        Window.orderBy(F.datediff("day", F.lit("1970-01-01")))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents") / 100.0).alias("daily_revenue"),
        "n_orders",
        F.round(
            F.sum("cents").over(w) * F.lit(1.0)
            / (F.lit(100.0) * F.count(F.lit(1)).over(w)),
            6,
        ).alias("ma7_revenue"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


# ---------------------------------------------------------------------------
# Year-over-year growth by order priority (lag over a yearly grain)
# ---------------------------------------------------------------------------

_YOY_ORACLE = """
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(year(o_orderdate) AS INTEGER) AS order_year,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, order_year,
       cents / 100.0 AS revenue,
       round(
         (cents - lag(cents) OVER w) * 1.0 / lag(cents) OVER w, 6
       ) AS yoy_growth
FROM yearly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY order_year)
"""


@query("yoy_growth", oracle=_YOY_ORACLE)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority: lag() over
    the yearly pre-aggregate (≤ priorities × years rows after one
    fact shuffle). First year's growth is NULL by construction on
    both engines. Growth divides two exact int64 cent sums once."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"))
    w = Window.partitionBy("o_orderpriority").orderBy("order_year")
    prev = F.lag("cents").over(w)
    return yearly.select(
        "o_orderpriority",
        "order_year",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round((F.col("cents") - prev) * F.lit(1.0) / prev, 6).alias("yoy_growth"),
    )


# ---------------------------------------------------------------------------
# Weekly active users per day (sliding distinct via contribution explode)
# ---------------------------------------------------------------------------

_WAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), hops AS (
  -- NB: the hop column must not be named "asof" — ASOF is a DuckDB
  -- join keyword and an unquoted identifier breaks the parser.
  SELECT u.user_id, u.day + k.k * INTERVAL 1 DAY AS hop_day
  FROM ud u CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k) k
)
SELECT strftime(hop_day, '%Y-%m-%d') AS asof_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM hops GROUP BY hop_day
"""


@query("weekly_active_users", oracle=_WAU_ORACLE)
def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users for every day: a sliding
    count(DISTINCT) is inexpressible as a window frame, so each
    active (user, day) row contributes itself to the 7 days it keeps
    the user 'weekly-active' (explode of a 7-element date sequence —
    row-local, no shuffle), then one distinct + one count aggregate.
    Trailing as-of days past the last activity are retained —
    documented, deterministic on both engines. Linear in active
    user-days at any scale; compare the hypothetical sort-based
    sliding-set walk, which cannot parallelize across days."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6), interval 1 day)")).alias(
            "asof"
        ),
    )
    return contrib.groupBy(
        F.date_format("asof", "yyyy-MM-dd").alias("asof_day")
    ).agg(F.count_distinct("user_id").alias("wau"))


# ---------------------------------------------------------------------------
# Inter-event gap distribution per event type (lag over user timelines)
# ---------------------------------------------------------------------------

_GAP_ORACLE = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(sum(us - prev_us) * 1.0 / count(*) / 1000000.0, 6) AS avg_gap_sec,
       round(quantile_cont(us - prev_us, 0.5) / 1000000.0, 6) AS p50_gap_sec,
       round(quantile_cont(us - prev_us, 0.9) / 1000000.0, 6) AS p90_gap_sec
FROM seq
WHERE prev_us IS NOT NULL
GROUP BY event_type
"""


@query("interevent_gap_stats", oracle=_GAP_ORACLE)
def q_interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gaps along each user's timeline (lag over
    (epoch-µs, event_id) — the id is the deterministic tie-break),
    aggregated per the event type that ENDED the gap. One hash
    shuffle on user_id for the ordered window, one on event_type for
    the stats; gaps are exact integer microseconds so every moment
    and percentile is reproducible across engines."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(
            F.sum("gap_us") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000.0), 6
        ).alias("avg_gap_sec"),
        F.round(F.expr("percentile(gap_us, 0.5)") / F.lit(1000000.0), 6).alias(
            "p50_gap_sec"
        ),
        F.round(F.expr("percentile(gap_us, 0.9)") / F.lit(1000000.0), 6).alias(
            "p90_gap_sec"
        ),
    )


# ---------------------------------------------------------------------------
# Value share by user decile (ntile over exact totals)
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH tv AS (
  SELECT user_id, sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS units
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, units,
         ntile(10) OVER (ORDER BY units DESC, user_id) AS decile
  FROM tv
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       sum(units) / 1000000.0 AS decile_value,
       round(CAST(sum(units) AS DOUBLE)
             / CAST(sum(sum(units)) OVER () AS DOUBLE), 6) AS value_share
FROM ranked GROUP BY decile
"""


@query("decile_value_share", oracle=_DECILE_ORACLE)
def q_decile_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto view: users ntile(10)-ranked by their exact total value
    (micro-unit int sums; user_id breaks ties so the decile split is
    deterministic), then each decile's share of the grand total.

    Scale shape: the global ntile is parallel_rank's one lazy plan
    (range exchange, sort within partitions, broadcast partition
    offsets) — no row ever passes through a single-task sort — with
    the exact SQL ntile(10) split recovered from the global rank and
    its row-count column by ntile_expr, so the oracle is unchanged.
    The grand total is a broadcast 1-row crossJoin (bounded-stats
    pattern) summed straight from the per-user totals, so the rank
    chain runs once, and the share divides two exact int64 sums."""
    ev = load_events(spark, sf_dir)
    tv = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1000000, 0).cast("long")).alias("units")
    )
    ranked = parallel_rank(tv, [F.col("units").desc(), F.col("user_id")])
    per = (
        ranked.withColumn("decile", ntile_expr("_rank", 10))
        .groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("units").alias("decile_units"),
        )
    )
    tot = tv.agg(F.sum("units").alias("tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        (F.col("decile_units") / 1000000.0).alias("decile_value"),
        F.round(
            F.col("decile_units").cast("double") / F.col("tot").cast("double"), 6
        ).alias("value_share"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of user value (exact rank formula)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH tv AS (
  SELECT user_id, sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS units
  FROM events GROUP BY user_id
), ranked AS (
  SELECT units,
         row_number() OVER (ORDER BY units ASC, user_id ASC) AS i
  FROM tv
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       sum(units) / 1000000.0 AS total_value,
       round(
         (2.0 * CAST(sum(i * units) AS DOUBLE)
          - (CAST(count(*) AS DOUBLE) + 1.0) * CAST(sum(units) AS DOUBLE))
         / (CAST(count(*) AS DOUBLE) * CAST(sum(units) AS DOUBLE)), 6
       ) AS gini
FROM ranked
"""


@query("gini_value_concentration", oracle=_GINI_ORACLE)
def q_gini_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration via the exact
    rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over ascending
    exact totals (user_id tie-break ⇒ deterministic ranks).

    Scale shape: the exact global rank i comes from parallel_rank's
    one lazy plan (range exchange, sort within partitions, broadcast
    partition offsets) — no single-task sort at any corpus size. The
    rank-weighted sum Σi·units is quadratic in magnitude
    (max_i × total_units), so it accumulates in
    decimal(38,0) — exact to 10³⁸, matching DuckDB's silent
    BIGINT→HUGEINT sum promotion; int64 overflows it at x100
    (found by the first-ever scale run of this query, r14). Per-row
    products stay ≤ 10²⁵ (i ≤ 10¹³ users, units ≤ 10¹⁸), inside the
    decimal(37,0) product type. The one float expression is written
    identically on both engines."""
    ev = load_events(spark, sf_dir)
    tv = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1000000, 0).cast("long")).alias("units")
    )
    ranked = parallel_rank(
        tv, [F.col("units").asc(), F.col("user_id").asc()], rank_col="i"
    )
    n = F.count(F.lit(1))
    su = F.sum("units")
    siu = F.sum(
        F.col("i").cast("decimal(18,0)") * F.col("units").cast("decimal(18,0)")
    )
    return ranked.agg(
        n.alias("n_users"),
        (su / 1000000.0).alias("total_value"),
        F.round(
            (
                F.lit(2.0) * siu.cast("double")
                - (n.cast("double") + F.lit(1.0)) * su.cast("double")
            )
            / (n.cast("double") * su.cast("double")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Median absolute deviation per event type (two-pass robust dispersion)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(any_value(m.med), 6) AS median_value,
       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
FROM events e JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type
"""


@query("median_abs_deviation", oracle=_MAD_ORACLE)
def q_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: MAD = median(|x − median(x)|) per type.
    Two passes over the fact (medians, then deviations) with the
    per-type medians broadcast back — the same two-pass-broadcast
    shape as the z-score screen (analytics.py). Exact interpolated
    percentiles match quantile_cont bit-for-bit on an identical
    multiset (the exact_percentiles precedent)."""
    ev = load_events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.any_value("med"), 6).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad"),
        )
    )


# ---------------------------------------------------------------------------
# Correlation / regression between quantity and price (exact moments)
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)
                  * CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT)
                  * CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS syy,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)
                  * CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6
       ) AS corr_qty_price,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6
       ) AS slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6
       ) AS intercept
FROM m
"""


@query("correlation_stats", oracle=_CORR_ORACLE)
def q_correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept of price on quantity
    per return flag, from integer-quantized moment sums — NOT the
    built-in corr(), whose running float accumulation is
    summation-order-dependent and cannot hash-match another engine.
    The five moments are exact int64s (one map-side-combined
    shuffle), every later double op is written in the identical order
    in both engines, and the moment route is also the mergeable
    100 TB form (per-partition partials combine associatively)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity"), 0).cast("long")
    y = F.round(F.col("l_extendedprice"), 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    slope = cov_n / var_x
    return m.select(
        "l_returnflag",
        "n",
        F.round(cov_n / (F.sqrt(var_x) * F.sqrt(nd * syy - sy * sy)), 6).alias(
            "corr_qty_price"
        ),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# First-touch attribution (first event type → later order revenue)
# ---------------------------------------------------------------------------

_FIRST_TOUCH_ORACLE = """
WITH ft AS (
  SELECT user_id, event_type AS first_event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT ft.first_event_type,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS revenue,
       round(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) * 1.0
             / (100.0 * count(*)), 6) AS avg_order_value
FROM ft JOIN orders o ON o.o_custkey = ft.user_id
GROUP BY ft.first_event_type
"""


@query("first_touch_attribution", oracle=_FIRST_TOUCH_ORACLE)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style first-touch attribution across the two fact
    universes: each user's FIRST event type (min_by over the exact
    (epoch-µs, event_id) order — the O6/O14 deterministic-first-pick
    pattern, windowed.py) claims all revenue from the orders of the
    matching customer key. The first-touch table is #users rows and
    broadcasts into the orders scan — the fact never shuffles for
    the join, only for the final per-channel aggregate."""
    ev = load_events(spark, sf_dir)
    ft = ev.groupBy("user_id").agg(
        F.expr(
            "min_by(event_type, struct(unix_micros(ts), event_id))"
        ).alias("first_event_type")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    return (
        o.join(F.broadcast(ft), o.o_custkey == ft.user_id)
        .groupBy("first_event_type")
        .agg(
            F.count_distinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
            (cents / 100.0).alias("revenue"),
            F.round(
                cents * F.lit(1.0) / (F.lit(100.0) * F.count(F.lit(1))), 6
            ).alias("avg_order_value"),
        )
    )
