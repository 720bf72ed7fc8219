"""Shared fixtures: one SparkSession per test run + the oracle harness."""

from __future__ import annotations

import math

import duckdb
import pytest

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


def assert_matches_oracle(spark_df, duck_con, sql, float_tol=1e-9):
    """Replicate the driver's check: row count + schema names + values.

    Columns are compared sorted by name; rows sorted by all columns.
    Floats compare with a tolerance locally (the driver hashes with its
    own tolerance; we round in-query so exact equality is the norm).
    """
    sp = spark_df.toPandas()
    du = duck_con.execute(sql).fetchdf()
    assert sorted(sp.columns) == sorted(du.columns), (
        f"schema mismatch: spark={sorted(sp.columns)} oracle={sorted(du.columns)}"
    )
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols, ignore_index=True)
    du = du[cols].sort_values(cols, ignore_index=True)
    assert len(sp) == len(du), f"row count mismatch: spark={len(sp)} oracle={len(du)}"
    for c in cols:
        sv, dv = sp[c].tolist(), du[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert math.isclose(a, b, rel_tol=float_tol, abs_tol=float_tol), (
                    f"col {c} row {i}: spark={a!r} oracle={b!r}"
                )
            else:
                assert a == b, f"col {c} row {i}: spark={a!r} oracle={b!r}"


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
