"""Shared fixtures: one SparkSession per test run + the oracle harness."""

from __future__ import annotations

import duckdb
import pytest

from eventstreamer_spark.obs import frame_diff
from eventstreamer_spark.session import TABLES, get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("eventstreamer-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql):
    """Compare a Spark result with its DuckDB oracle via ``obs.frame_diff``:
    schema names, row count, then every cell (floats within 1e-12)."""
    mism, first = frame_diff(spark_df.toPandas(), duck_con.execute(sql).fetchdf())
    assert mism == 0, f"{mism} mismatched cells, first {first}"


def run_driver_child(body: str, cwd, env_updates=None, timeout=900):
    """Run ``body`` in a fresh Python process the way an external driver
    would: the repo on ``sys.path`` (not on ``PYTHONPATH``), a plain
    local[2] session bound to ``spark``, the working directory ``cwd``.
    Returns the CompletedProcess; its stdout is the body's prints."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    root = str(Path(__file__).resolve().parent.parent)
    code = (
        f"import sys\nsys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        'spark = SparkSession.builder.master("local[2]")'
        '.config("spark.ui.enabled", "false").getOrCreate()\n'
        'spark.sparkContext.setLogLevel("ERROR")\n'
        + textwrap.dedent(body)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(env_updates or {})
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(cwd),
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
