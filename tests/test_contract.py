"""The driver-gate twin: every registered query vs its DuckDB oracle.

This test is the local replica of the driver's CORRECTNESS check —
keeping it green is the project invariant.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as contract
from tests.conftest import SF_DIR, assert_matches_oracle

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert df.columns  # stable schema


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.limit(1).count() >= 0


def test_queries_come_in_registry_order():
    from eventstreamer_spark import registry

    assert list(contract.queries()) == list(registry.queries())


def test_wrapped_query_resets_session_timezone(spark):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        QUERIES["tumbling_window_stats"](spark, SF_DIR)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, prev)


def test_executors_import_engine_from_any_cwd():
    """A driver whose working directory is not the repo: Python workers
    still import the engine (configure puts the package on their path),
    so a mapInPandas query runs."""
    from tests.conftest import run_driver_child

    body = f"""
    import __spark_entry__ as contract
    rows = contract.queries()["push_time_parity"](spark, {SF_DIR!r}).collect()
    print("rows", len(rows))
    """
    proc = run_driver_child(body, "/tmp")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split()[-1]) > 0


def test_executors_ignore_engine_decoy_in_cwd(tmp_path):
    """A driver whose working directory holds another
    ``eventstreamer_spark``: its Python workers still import this
    checkout's package, not the decoy."""
    from tests.conftest import run_driver_child

    (tmp_path / "eventstreamer_spark").mkdir()
    (tmp_path / "eventstreamer_spark" / "__init__.py").write_text("")
    body = """
    from pyspark.sql import functions as F
    from eventstreamer_spark.session import configure
    configure(spark)

    @F.udf("string")
    def engine_file(_):
        import eventstreamer_spark
        return eventstreamer_spark.__file__

    print(spark.range(1).select(engine_file("id")).first()[0])
    """
    proc = run_driver_child(body, tmp_path)
    assert proc.returncode == 0, proc.stderr[-3000:]
    expected = Path(__file__).resolve().parent.parent / "eventstreamer_spark" / "__init__.py"
    assert proc.stdout.split()[-1] == str(expected)
