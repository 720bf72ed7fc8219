"""Simulate the verification driver: plain SparkSession (non-UTC tz),
entry() smoke, then every queries() entry vs its oracle_sql() in
DuckDB at sf0.01, compared by ``obs.frame_diff`` (floats within 1e-12,
everything else exact). Usage:
    python scripts/driver_sim.py [sf_dir] [--only name1,name2]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from eventstreamer_spark.obs import frame_diff, run_query
from eventstreamer_spark.session import TABLES, env_int


def main() -> int:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    # DRIVER_SIM_CORES sizes threads to the heap: a 1 GiB JVM running 8
    # concurrent tasks gives each ~50 MB of execution memory — a
    # misconfiguration at x100 working sets, exactly like an 8-core
    # 1 GiB executor on a real cluster. Cores-per-memory is the FIRST
    # sizing knob a deployment turns; DRIVER_SIM_MEM is the second.
    cores = env_int("DRIVER_SIM_CORES", 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
    )
    # The gate runs a PLAIN session (default 1g heap) at sf0.01 —
    # keep that fidelity by default. For correctness runs against the
    # x10/x100 scale replicas (SCALING.md), the heap must scale with
    # the data like any real deployment: opt in via DRIVER_SIM_MEM=8g.
    mem = os.environ.get("DRIVER_SIM_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as c

    if only is None:
        rows = c.entry(spark).collect()
        if not rows:
            raise RuntimeError("entry() returned no rows")
        print(f"entry: {len(rows)} rows OK")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, osql = c.queries(), c.oracle_sql()
    if only is not None:
        unknown = only - set(qs)
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in only}
    failed = []
    for name in sorted(qs):
        rec = run_query(spark, name, qs[name], sf, action=lambda df: df.toPandas())
        if rec.error is not None:
            print(f"FAIL {name}: spark error {rec.error}")
            failed.append(name)
            continue
        sp = rec.result
        if name not in osql:
            print(f"ok   {name}: rows-only, {len(sp)} rows ({rec.total_s:.1f}s)")
            continue
        try:
            mism, _ = frame_diff(sp, con.execute(osql[name]).fetchdf())
        except ValueError as e:
            print(f"FAIL {name}: {e}")
            failed.append(name)
            continue
        status = "ok  " if mism == 0 else "FAIL"
        if mism:
            failed.append(name)
        print(f"{status} {name}: rows={len(sp)} mismatches={mism} ({rec.total_s:.1f}s)")

    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
