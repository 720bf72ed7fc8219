"""Tier A parity: keyed tumbling-window aggregation over the event stream.

This is the reference engine's *entire* query, re-expressed
declaratively: per player key, per 1 second of event time, the average
of every numeric measurement plus first-event metadata
(reference DispatcherFunction.cs:84-94 window advance, :140-150
per-field AVG, :141/:154-156 first-event fields; README.md:44-50).

Spark-first design notes
------------------------
- Windows are epoch-aligned ``window(ts, '1 second')`` — a documented
  divergence from the reference's first-event-anchored windows
  (SURVEY.md §7 hard-parts); the exact-parity stateful processor lives
  in ``streaming/stateful.py``.
- ``first()`` in the reference relies on a per-batch time sort
  (DispatcherFunction.cs:35); under parallel aggregation that order is
  not guaranteed, so first-event fields use ``min_by(col,
  struct(ts, event_id))`` — deterministic under any partitioning.
- The whole pipeline is built-ins → single shuffle on (key, window),
  map-side partial aggregation, whole-stage codegen. At 100 TB this is
  a pure hash-aggregate whose state is bounded by (#keys × #windows in
  flight), and with date-partitioned input the scan prunes to the
  queried window range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.datamodel import PAYLOAD_NAMES, events_as_datapoints, explode_payload, with_key
from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.functions.casting import fmt_ts, round6, safe_double
from eventstreamer_spark.registry import query
from eventstreamer_spark.sources.tables import load_events

TS_OUT = "%Y-%m-%d %H:%M:%S.%f"  # duckdb strftime twin of casting.TS_FMT


def tumbling_stats(events: DataFrame, window: str = "1 second") -> DataFrame:
    """Per-key tumbling-window stats with deterministic first-event fields."""
    return (
        events.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.window("ts", window).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer-scaled mean/sum (functions.numeric): identical
            # int64 partial sums in any order on both engines
            N.mean6_spark(F.col("value")).alias("avg_value"),
            N.sumk_spark(F.col("value"), 1000000).alias("sum_value"),
            round6(F.min("value")).alias("min_value"),
            round6(F.max("value")).alias("max_value"),
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_event_type"),
            F.min_by("event_id", F.struct("ts", "event_id")).alias("first_event_id"),
        )
        .select(
            "key",
            fmt_ts(F.col("w.start")).alias("window_start"),
            "n_events",
            "avg_value",
            "sum_value",
            "min_value",
            "max_value",
            "first_event_type",
            "first_event_id",
        )
    )


_TUMBLING_ORACLE = f"""
WITH ranked AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         date_trunc('second', ts) AS ws,
         value, event_type, event_id,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('second', ts)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
)
SELECT key,
       strftime(ws, '{TS_OUT}') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {N.MEAN6_DUCK.format(v="value")} AS avg_value,
       {N.SUMK_DUCK.format(v="value", s=1000000)} AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       max(CASE WHEN rn = 1 THEN event_type END) AS first_event_type,
       CAST(max(CASE WHEN rn = 1 THEN event_id END) AS BIGINT) AS first_event_id
FROM ranked
GROUP BY key, ws
"""


@query("tumbling_window_stats", oracle=_TUMBLING_ORACLE)
def q_tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: O1,O6,O7,O9,O12,O14 in one declarative expression."""
    return tumbling_stats(load_events(spark, sf_dir))


def datapoint_window_eav(events: DataFrame, window: str = "1 second") -> DataFrame:
    """Full reference ingest parity path, EAV output form.

    events → DataPoint envelope (O2) → key synthesis ``session:values[1]``
    (O3, reference DispatcherFunction.cs:179-181) → explode parallel
    arrays (the per-field loop, O12) → null-safe 0-default cast (O13)
    → per (key, window, measurement) average.
    """
    dp = with_key(events_as_datapoints(events))
    eav = explode_payload(dp)
    return (
        eav.groupBy(
            "key",
            F.window("timestamp", window).alias("w"),
            F.col("m_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            N.mean6_spark(safe_double(F.col("m_value"))).alias("avg_value"),
        )
        .select(
            "key",
            fmt_ts(F.col("w.start")).alias("window_start"),
            "m_name",
            "n",
            "avg_value",
        )
    )


_DP_EAV_ORACLE = f"""
WITH eav AS (
  SELECT concat(CAST(user_id AS VARCHAR), ':', json_extract_string(props, '$.k')) AS key,
         date_trunc('second', ts) AS ws,
         'value' AS m_name,
         value AS v
  FROM events
  UNION ALL
  SELECT concat(CAST(user_id AS VARCHAR), ':', json_extract_string(props, '$.k')),
         date_trunc('second', ts),
         'k',
         CASE WHEN isfinite(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
              THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
              ELSE 0.0 END
  FROM events
)
SELECT key,
       strftime(ws, '{TS_OUT}') AS window_start,
       m_name,
       CAST(count(*) AS BIGINT) AS n,
       {N.MEAN6_DUCK.format(v="v")} AS avg_value
FROM eav
GROUP BY key, ws, m_name
"""


@query("datapoint_window_eav", oracle=_DP_EAV_ORACLE)
def q_datapoint_window_eav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ingest→window→per-field-avg pipeline (O2,O3,O12,O13,O15)."""
    return datapoint_window_eav(load_events(spark, sf_dir))


def windowed_emit_json(events: DataFrame, window: str = "1 second") -> DataFrame:
    """The reference's exact output record, all five fields (O15+O16).

    One JSON row per (key, window): ``{ts, deviceid, sessionid,
    sessionstart, allvalues: {name: avg-as-string}}`` where ``ts`` and
    ``deviceid`` are carried from the FIRST event of the window —
    ``first.Timestamp`` / ``first.DeviceId`` in reference
    DispatcherFunction.cs:154-156 (first = earliest by time, the
    house (ts, event_id) tie-break standing in for the reference's
    arrival order) — and ``sessionstart`` is the vestigial empty
    string (DispatcherFunction.cs:157). The emitted text is byte-exact
    deterministic: struct fields serialize in declared order, map keys
    in sorted order, and values as fixed ``%.6f`` strings — so the
    DuckDB oracle (coverage.py) rebuilds the identical JSON by string
    concatenation and the query hash-checks like any other.

    Plan shape: ONE scan, ONE (key, window) aggregate, no explode: the
    payload fields are fixed (``datamodel.PAYLOAD_NAMES``), so it sums
    each in micro-units beside the event count and the first event,
    ``min(struct(timestamp, event_id, device_id))``. Every event gives
    each field once and ``safe_double`` is never null, so the count is
    each field's ``meank_spark`` denominator. In a stream that is one
    state store per partition, not two chained ones.
    """
    dp = with_key(events_as_datapoints(events, extra_cols=("event_id",)))
    agg = dp.groupBy("key", F.window("timestamp", window).alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("timestamp", "event_id", "device_id")).alias("fe"),
        *[N.scaled_sum(safe_double(F.col("values")[i]), 1000000).alias(f"sum_{name}") for i, name in enumerate(PAYLOAD_NAMES)],
    )
    allvalues = F.create_map(
        *[
            part
            for name in sorted(PAYLOAD_NAMES)  # to_json writes map keys in insertion order
            for part in (F.lit(name), F.format_string("%.6f", N.scaled_mean(F.col(f"sum_{name}"), F.col("n"), 1000000)))
        ]
    )
    return agg.select(
        "key",
        F.to_json(
            F.struct(
                fmt_ts(F.col("fe.timestamp")).alias("ts"),
                F.col("fe.device_id").alias("deviceid"),
                F.split(F.col("key"), ":").getItem(0).alias("sessionid"),
                F.lit("").alias("sessionstart"),
                allvalues.alias("allvalues"),
            )
        ).alias("json"),
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows — 2 s length, 1 s hop
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
WITH hops AS (
  SELECT e.event_type, e.value,
         date_trunc('second', e.ts) - k.k * INTERVAL 1 SECOND AS ws
  FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT event_type,
       strftime(ws, '{TS_OUT}') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {N.MEAN6_DUCK.format(v="value")} AS avg_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM hops
GROUP BY event_type, ws
"""


@query("sliding_window_stats", oracle=_SLIDING_ORACLE)
def q_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window stats: ``window(ts, '2 seconds', '1 second')``
    puts every event in exactly length/hop = 2 windows. The oracle
    models the same assignment as a cross join with the hop offsets
    k ∈ {0, 1} (window_start = trunc(ts) − k·hop).

    Scale shape: identical to the tumbling aggregate — one shuffle on
    (type, window); the ×2 row amplification happens inside the
    window expression's generated Expand, before partial aggregation,
    so nothing extra shuffles. The reference has only the 1 s tumble
    (DispatcherFunction.cs:87); sliding windows are Tier B streaming
    surface (SURVEY.md §2.1 'Streaming extras').
    """
    return sliding_stats(load_events(spark, sf_dir))


def sliding_stats(events: DataFrame) -> DataFrame:
    """Per-type stats over 2 s windows hopping by 1 s."""
    return (
        events.groupBy("event_type", F.window("ts", "2 seconds", "1 second").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            N.mean6_spark(F.col("value")).alias("avg_value"),
            round6(F.min("value")).alias("min_value"),
            round6(F.max("value")).alias("max_value"),
        )
        .select(
            "event_type",
            fmt_ts(F.col("w.start")).alias("window_start"),
            "n_events",
            "avg_value",
            "min_value",
            "max_value",
        )
    )
