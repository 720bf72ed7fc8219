"""The canonical event model (DataPoint), Spark-typed.

Reference model: src/DispatcherFunction/Common/DataPoint.cs:8-36 — a
fixed five-field envelope (timestamp, device_id, session_id,
sensor_type, derived key) plus an EAV-style payload of parallel
``names``/``values`` string arrays (reference README.md:11-27).

Spark-first decisions (SURVEY.md §1.2):

- The parallel arrays are normalized to ``MAP<STRING,STRING>`` at
  ingest via ``map_from_arrays`` — the idiomatic fix for the
  reference's alignment-by-index fragility (first-row width assumption,
  reference DispatcherFunction.cs:141-142).
- The derived ``key`` ( ``"{SessionId}:{Values[1]}"``, reference
  DispatcherFunction.cs:179-181 — the "total hack" player-id
  assumption) is kept for parity but isolated in ``with_key``.
- Corrupt records: the reference drops any event whose JSON fails to
  parse (reference DispatcherFunction.cs:184-190, O4); ``parse_json``
  uses PERMISSIVE ``from_json`` (null on corrupt) + a null filter,
  which Catalyst pushes as far down as the scan allows.

All of this is pure built-in expressions — no Python in the row path —
so the whole ingest stage stays inside whole-stage codegen and scales
linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The envelope as wire JSON would carry it (reference DataPoint.cs:12-28).
DATAPOINT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("device_id", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("sensor_type", T.StringType(), True),
        T.StructField("names", T.ArrayType(T.StringType()), True),
        T.StructField("values", T.ArrayType(T.StringType()), True),
    ]
)


def parse_json(raw: Column) -> Column:
    """UTF-8 JSON → typed DataPoint struct; corrupt input → NULL (O2+O4).

    Reference: SafelyConvertToDataPoint, DispatcherFunction.cs:172-191.
    """
    return F.from_json(raw, DATAPOINT_SCHEMA)


def with_key(df: DataFrame, session_col: str = "session_id", payload_col: str = "values") -> DataFrame:
    """Derive the demux key ``session:values[1]`` (O3).

    Reference: DispatcherFunction.cs:179-181; README.md:27,37. The
    1-indexed second array element is the assumed player id;
    ``element_at(..., 2)`` reproduces it exactly (element_at is
    1-based).

    Null handling matches the C# string interpolation (null renders as
    empty): a missing ``values[1]`` yields ``"123:"``, never ``"123"``.
    ``concat_ws`` would silently SKIP the null (dropping the
    separator), and plain ``concat`` would null the whole key — both
    diverge from the reference and from the DuckDB oracle's ``concat``.
    """
    return df.withColumn(
        "key",
        F.concat(
            F.coalesce(F.col(session_col), F.lit("")),
            F.lit(":"),
            # try_element_at: a short values array yields NULL→"" here,
            # not an ANSI out-of-bounds error
            F.coalesce(F.try_element_at(F.col(payload_col), F.lit(2)), F.lit("")),
        ),
    )


def normalize_payload(df: DataFrame, names_col: str = "names", values_col: str = "values") -> DataFrame:
    """Parallel arrays → MAP<name,value> (schema hardening at ingest)."""
    return df.withColumn("payload", F.map_from_arrays(F.col(names_col), F.col(values_col)))


def explode_payload(df: DataFrame, names_col: str = "names", values_col: str = "values") -> DataFrame:
    """EAV long form: one row per (event, measurement name, value).

    This is the shape the per-field aggregation loop iterates in the
    reference (DispatcherFunction.cs:145-150); in Spark it becomes a
    single explode feeding a keyed aggregate.
    """
    pair = F.explode(F.arrays_zip(F.col(names_col).alias("name"), F.col(values_col).alias("value")))
    return df.withColumn("m", pair).select("*", F.col("m.name").alias("m_name"), F.col("m.value").alias("m_value")).drop("m")


# The payload field names ``events_as_datapoints`` emits, in array
# order: fixed when the plan is built, so per-field aggregates can be
# spelled out column by column instead of exploding the payload.
PAYLOAD_NAMES = ("value", "k")


def events_as_datapoints(events: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Adapt the driver's ``events`` table to the DataPoint envelope.

    Column mapping (FIXTURES.md §2): ``user_id`` plays SessionId
    (the per-player stream identity, reference README.md:27), ``ts``
    the event time, ``event_type`` the sensor type, and the payload
    carries the numeric ``value`` plus the JSON ``props.k`` — giving a
    two-element values array so the reference's ``Values[1]`` key
    synthesis is exercised faithfully.
    """
    return events.select(
        *[F.col(c) for c in extra_cols],
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("dev-"), (F.col("user_id") % 10).cast("string")).alias("device_id"),
        F.col("user_id").cast("string").alias("session_id"),
        F.col("event_type").alias("sensor_type"),
        F.array(*[F.lit(n) for n in PAYLOAD_NAMES]).alias("names"),
        F.array(
            F.col("value").cast("string"),
            F.get_json_object(F.col("props"), "$.k"),
        ).alias("values"),
    )
