"""Source-format breadth: the same events pipeline over CSV, JSON
lines, and ORC.

The reference consumes exactly one wire format (Event Hub JSON,
DispatcherFunction.cs:21-23). A Spark engine gets every file format
for free through the DataSource API — these queries PROVE it by
round-tripping the canonical events table through each format in a
session-scoped temp directory and running the same aggregation, so
the format path (writer → reader → schema → aggregate) is what's
hash-checked, not just the parquet scan. The DuckDB oracle reads the
original parquet: a lossy round trip (timestamp truncation, string
mangling, null handling) breaks the hash.

Timestamps cross text formats as epoch-micros longs — the only
representation that survives CSV/JSON byte-exactly — and revive via
timestamp_micros on read.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.functions import numeric as N
from eventstreamer_spark.registry import query
from eventstreamer_spark.scratch import session_dir
from eventstreamer_spark.sources.tables import load_events


def _session_copy(
    spark: SparkSession, sf_dir: str, kind: str, write: Callable[[str], None]
) -> str:
    """This session's dir holding the ``kind`` copy of ``sf_dir``'s
    events, filled by ``write(path)`` once per (application, sf_dir,
    kind): the write is part of the proven path but needn't repeat per
    bench pass. Readers skip the ``_done`` marker (a ``_`` name)."""
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = session_dir(spark, f"{kind}_rt/{digest}")
    if not os.path.exists(f"{path}/_done"):
        write(path)
        open(f"{path}/_done", "w").close()
    return path


def _roundtrip_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    def write(path: str) -> None:
        ev = load_events(spark, sf_dir).select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        ev.write.mode("overwrite").format(fmt).save(path)

    return _session_copy(spark, sf_dir, fmt, write)


_FORMAT_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {N.SUMK_DUCK.format(v="value", s=10000)} AS total_value,
       CAST(min(epoch_us(ts)) AS BIGINT) AS first_ts_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts_us
FROM events
GROUP BY event_type
"""


def _format_agg(df: DataFrame) -> DataFrame:
    # integer-scaled sum (functions.numeric): order-free across engines
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        N.sumk_spark(F.col("value"), 10000).alias("total_value"),
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
    )


_EVENTS_RT_DDL = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)


@query("csv_source_parity", oracle=_FORMAT_ORACLE)
def q_csv_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV → events: the text-format reader path (explicit
    schema, no inference pass — at 100 TB schema inference is a full
    extra scan) aggregated back to per-type totals that must equal
    the parquet truth. Doubles survive CSV via Spark's round-trip
    float formatting; timestamps as epoch-micros longs."""
    path = _roundtrip_dir(spark, sf_dir, "csv")
    df = (
        spark.read.schema(_EVENTS_RT_DDL)
        .option("header", "false")
        .csv(path)
    )
    return _format_agg(df)


@query("json_source_parity", oracle=_FORMAT_ORACLE)
def q_json_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → events: the reference's actual wire shape
    (one JSON object per event) through Spark's native JSON source
    with an explicit schema, aggregated against the parquet truth."""
    path = _roundtrip_dir(spark, sf_dir, "json")
    df = spark.read.schema(_EVENTS_RT_DDL).json(path)
    return _format_agg(df)


@query("orc_source_parity", oracle=_FORMAT_ORACLE)
def q_orc_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → events: the second columnar format (schema
    travels in the file; vectorized reader, predicate pushdown — the
    same Catalyst treatment parquet gets)."""
    path = _roundtrip_dir(spark, sf_dir, "orc")
    df = spark.read.orc(path)
    return _format_agg(df)


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema over drifted parquet generations
# ---------------------------------------------------------------------------

_EVOLUTION_ORACLE = """
WITH unioned AS (
  SELECT event_id, event_type, value, CAST(NULL AS BIGINT) AS extra
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type, value, CAST(user_id AS BIGINT) AS extra
  FROM events WHERE event_id % 2 = 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(extra) AS BIGINT) AS n_with_extra,
       CAST(coalesce(sum(extra), 0) AS BIGINT) AS sum_extra
FROM unioned
GROUP BY event_type
"""


@query("parquet_schema_evolution", oracle=_EVOLUTION_ORACLE)
def q_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift handled at the source, not in ETL glue: an old
    file generation (no ``extra`` column) and a new generation (with
    it) sit in one dataset directory; ``mergeSchema=true`` unions the
    footers and null-fills the missing column — the standard posture
    for a 100 TB lake where producers add fields over time. The
    aggregate proves the null-fill is exact (count of non-null extras
    and their sum match a SQL UNION replay). The write happens once
    per session via the round-trip cache; the read path is the proven
    surface."""
    def write(path: str) -> None:
        ev = load_events(spark, sf_dir).select(
            "event_id", "event_type", "value", "user_id"
        )
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(f"{path}/gen=old")
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id",
            "event_type",
            "value",
            F.col("user_id").cast("long").alias("extra"),
        ).write.mode("overwrite").parquet(f"{path}/gen=new")

    path = _session_copy(spark, sf_dir, "evolved", write)
    df = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=old", f"{path}/gen=new"
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("extra").alias("n_with_extra"),
        F.coalesce(F.sum("extra"), F.lit(0)).cast("long").alias("sum_extra"),
    )
