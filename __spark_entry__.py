"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``eventstreamer_spark.operators.*``; importing the
modules below populates the registry, and ``queries()`` returns them
in that registry order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing operator modules registers their queries + oracles.
import eventstreamer_spark.operators.windowed  # noqa: F401
import eventstreamer_spark.operators.relational  # noqa: F401
import eventstreamer_spark.operators.joins  # noqa: F401
import eventstreamer_spark.operators.dedup  # noqa: F401
import eventstreamer_spark.operators.similarity  # noqa: F401
import eventstreamer_spark.operators.text  # noqa: F401
import eventstreamer_spark.operators.multimodal  # noqa: F401
import eventstreamer_spark.operators.ingest  # noqa: F401
import eventstreamer_spark.operators.coverage  # noqa: F401
import eventstreamer_spark.operators.udfs  # noqa: F401
import eventstreamer_spark.operators.cdc  # noqa: F401
import eventstreamer_spark.operators.hygiene  # noqa: F401
import eventstreamer_spark.operators.curation  # noqa: F401
import eventstreamer_spark.operators.sampling  # noqa: F401
import eventstreamer_spark.operators.assembly  # noqa: F401
import eventstreamer_spark.operators.analytics  # noqa: F401
import eventstreamer_spark.operators.indexing  # noqa: F401
import eventstreamer_spark.operators.audit  # noqa: F401
import eventstreamer_spark.streaming.pipeline  # noqa: F401
import eventstreamer_spark.streaming.stateful  # noqa: F401
import eventstreamer_spark.operators.formats  # noqa: F401
import eventstreamer_spark.operators.timeseries  # noqa: F401
import eventstreamer_spark.operators.subqueries  # noqa: F401
import eventstreamer_spark.operators.embeddings  # noqa: F401
import eventstreamer_spark.operators.trends  # noqa: F401
import eventstreamer_spark.operators.quality  # noqa: F401
import eventstreamer_spark.operators.layout  # noqa: F401

from eventstreamer_spark import registry
from eventstreamer_spark.session import configure

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure(spark)
    from eventstreamer_spark.operators.windowed import q_tumbling_window_stats

    return q_tumbling_window_stats(spark, SMOKE_SF_DIR)


def _wrap(fn: registry.QueryFn) -> registry.QueryFn:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registry
    (module import) order, each wrapped to ``configure`` the session
    first."""
    return {name: _wrap(fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return registry.oracle_sql()
