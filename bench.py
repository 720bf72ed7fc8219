"""Benchmark harness: run every registered query end-to-end and time it.

Usage: ``python bench.py`` — reads ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``. ``--only name1,name2`` runs just
the named queries; per-query layers (construct/execute seconds, jobs,
stages, stream triggers) go to BENCH_DETAIL.json.

Each query is forced with the ``noop`` sink — full execution, no
driver-side collect — which is the honest cluster-shaped measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as contract  # noqa: E402
from eventstreamer_spark import obs  # noqa: E402
from eventstreamer_spark.session import env_int, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="Time every registered query.")
    ap.add_argument("--only", help="comma-separated query names to run")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("eventstreamer-bench")
    qs = contract.queries()
    if args.only:
        names = [n for n in args.only.split(",") if n]
        unknown = sorted(set(names) - set(qs))
        if unknown:
            ap.error(f"unknown queries: {unknown}")
        qs = {n: qs[n] for n in names}

    # Warm the JVM + parquet footers with one light action.
    contract.entry(spark).limit(1).collect()

    # N passes (default 3), report the min: the first pass pays one-time
    # codegen / classload costs that would mis-attribute ~20s to whichever
    # query runs first, and the min over repeated passes also damps
    # transient host contention; steady-state per-query time is the honest
    # metric. $SPARK_GRAFT_BENCH_PASSES bounds wall-clock as the query
    # surface grows (the driver can set 1-2; minima are unchanged, only
    # noise-damping weakens).
    passes = env_int("SPARK_GRAFT_BENCH_PASSES", 3)
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}  # per query, from its fastest pass
    for _pass in range(passes):
        memo_warm: list[str] = []  # the last pass's set is reported
        for name in sorted(qs):
            rec = obs.run_query(spark, name, qs[name], sf_dir)
            if rec.error is None:
                dt = round(rec.total_s, 3)
                prev = timings.get(name)
                if prev is None or prev < 0 or dt < prev:
                    timings[name] = dt
                    layers[name] = {
                        "construct_s": round(rec.construct_s, 3),
                        "execute_s": round(rec.execute_s, 3),
                        "construct_jobs": rec.construct_jobs,
                        "execute_jobs": rec.execute_jobs,
                        "stages": rec.stages,
                        "triggers": rec.triggers,
                    }
            else:  # a broken query should not zero the whole bench
                print(f"bench: {name} FAILED: {rec.error}", file=sys.stderr)
                timings.setdefault(name, -1.0)
            if any(not a.startswith("scan:") for a in rec.memo_hits):
                memo_warm.append(name)

    ok = {k: v for k, v in timings.items() if v >= 0}
    # Field order is load-bearing (VERDICT r14 item 2): the driver
    # records only the TAIL of this one-line JSON, so the long
    # per-query map goes FIRST and the scalar totals after it — the
    # captured tail then always ends with a parsable
    # value/n_queries/n_failed suffix instead of truncating mid-map.
    out = {
        "metric": "total_query_sec",
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "value": round(sum(ok.values()), 3),
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok),
        # queries whose min-of-N steady state is memo-warm: they read a
        # session artifact (other than a resolved scan) built on an
        # earlier pass, observed from the store's hits
        "memo_warm": memo_warm,
    }
    # The driver records only the tail of this (long) stdout line, which
    # truncates the per-query map — persist the full detail to a file so
    # every query can be diffed round-over-round (VERDICT r5 item 6).
    # $SPARK_GRAFT_BENCH_DETAIL overrides the path.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    try:
        with open(detail_path, "w") as f:
            json.dump({**out, "layers": layers}, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write {detail_path}: {e}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
