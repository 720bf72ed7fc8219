"""``batch_mix``: a closed loop of registered queries with one client.

Each pass runs every query in ``QUERIES`` once, in an order the seed
permutes per pass; the next query starts when the previous one has
finished. A run times ``round(seconds / PASS_SECONDS)`` passes. A query execution is its construction (the registry's query
builder, which runs the operator's eager driver-side jobs) followed by a
``noop`` write (full execution, nothing collected).

The first two passes are set-up. The first warms the JVM and builds the
session memos; the second runs on the warm session, served from its memos
as the timed passes are. Both collect every result, and after the timed
passes the checks compare each with the query's DuckDB oracle.

The tables are a copy of the engine's sf0.01 test fixtures (the
deterministic seed-42 TPC-H-like tables the test suite checks against),
committed under ``perfbench/data/sf0.01`` and only read.
"""

from __future__ import annotations

import hashlib
import math
import pickle
import random
import sys
import time
from pathlib import Path
from typing import Any

import duckdb
import pandas as pd

from perfbench.streams import median
from perfbench.trace import JobStats

# Construction-bound: most of their time is eager driver-side jobs run
# while the query builds its DataFrame (classifier training, BPE merge
# rounds, rank offsets).
CONSTRUCT_BOUND = (
    "quality_classifier_scores",
    "bpe_learned_merges",
    "decile_value_share",
)
# Execution-bound: scan, shuffle and Arrow/hash work: the near-dup memo
# owner, and the q18 calibration row (subquery join, no memo).
EXECUTION_BOUND = (
    "minhash_lsh_neardup",
    "q18_large_volume_orders",
)
QUERIES = CONSTRUCT_BOUND + EXECUTION_BOUND
DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
# A timed pass takes 5-7 s on a 4-core host, the first the longest. A run
# measures a fixed number of whole passes, round(seconds / PASS_SECONDS),
# so every run samples each query equally often however fast the host is.
PASS_SECONDS = 5.0


def oracle_results(data_dir: Path, cache_dir: Path) -> dict[str, Any]:
    """DuckDB oracle output per query, kept in ``cache_dir`` under a key
    of the tables' bytes and the oracle SQL it came from."""
    import __spark_entry__ as contract
    from eventstreamer_spark.session import TABLES

    sql = contract.oracle_sql()
    h = hashlib.sha1()
    for t in TABLES:
        h.update((data_dir / f"{t}.parquet").read_bytes())
    for q in QUERIES:
        h.update(f"\0{q}\0{sql[q]}".encode())
    cache = cache_dir / f"oracle-{h.hexdigest()[:16]}.pkl"
    if cache.exists():
        with cache.open("rb") as f:
            return pickle.load(f)
    con = duck_views(str(data_dir), TABLES)
    try:
        out = {name: con.execute(sql[name]).fetchdf() for name in QUERIES}
    finally:
        con.close()
    cache_dir.mkdir(parents=True, exist_ok=True)
    partial = cache.with_suffix(".partial")
    with partial.open("wb") as f:
        pickle.dump(out, f)
    partial.replace(cache)  # a run killed while writing leaves no cache
    return out


def count_mismatches(results: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame],
                     label: str) -> int:
    """Compare each collected result with its oracle; the number that differ."""
    failed = 0
    for name, got in results.items():
        diff = frame_mismatch(got, want[name])
        if diff is not None:
            failed += 1
            print(f"batch_mix: {name} ({label}) differs from its oracle: {diff}")
    return failed


def run(spark: Any, data_dir: Path, want: dict[str, pd.DataFrame], seed: int,
        seconds: float, tracer: Any, counters: Any) -> dict:
    import __spark_entry__ as contract

    qs = contract.queries()
    sf_dir = str(data_dir)
    rng = random.Random(seed)
    stats = JobStats(spark) if tracer.enabled else None
    failed = attempted = 0

    def order() -> list[str]:
        names = list(QUERIES)
        rng.shuffle(names)
        return names

    def collect_pass(label: str) -> tuple[dict[str, pd.DataFrame], dict[str, float]]:
        """Every query once, results collected; failures are counted."""
        nonlocal attempted, failed
        results, times = {}, {}
        for name in order():
            attempted += 1
            try:
                t = time.perf_counter()
                results[name] = qs[name](spark, sf_dir).toPandas()
                times[name] = (time.perf_counter() - t) * 1000.0
            except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
                print(f"batch_mix: {name} failed in the {label} pass: {e!r}"[:500])
        return results, times

    # set-up: a cold pass (JVM warm-up, memo builds), then a warm pass that
    # the session memos serve as they serve the timed passes. After the
    # cold pass alone, three passes still sped up by 13-28% from the first
    # to the last on a 4-core host, so the second pass is warm-up too.
    # Both passes' results are kept for the checks.
    t0 = time.perf_counter()
    setup_results, setup_times = collect_pass("set-up")
    cold_pass_s = time.perf_counter() - t0
    warm_results, _ = collect_pass("warm set-up")
    setup_pass_s = time.perf_counter() - t0
    setup_builds = counters.c["memo.builds"] if counters else 0.0

    # timed passes
    if counters:
        counters.c.update(dict.fromkeys(counters.c, 0.0))
    layer = dict.fromkeys(
        [f"construct_{k}" for k in JobStats.KEYS] + [f"execute_{k}" for k in JobStats.KEYS]
        + ["construct_s", "execute_s"], 0.0)
    lat_ms: list[float] = []
    executed: list[str] = []
    split: list[tuple[float, float]] = []  # (construct, execute) ms per execution
    passes: list[float] = []
    rates: list[float] = []  # executions per second of each pass
    slowest: list[float] = []  # the slowest execution of each pass
    for p in range(max(1, round(seconds / PASS_SECONDS))):
        tp = time.perf_counter()
        first = len(lat_ms)
        for name in order():
            attempted += 1
            trace_id = f"pass{p}:{name}"
            try:
                with tracer.span("query", trace_id):
                    t = time.perf_counter()
                    df = _phase(spark, stats, tracer, trace_id, "construct", layer,
                                lambda: qs[name](spark, sf_dir))
                    t_built = time.perf_counter()
                    _phase(spark, stats, tracer, trace_id, "execute", layer,
                           lambda: df.write.format("noop").mode("overwrite").save())
                    t_done = time.perf_counter()
                    lat_ms.append((t_done - t) * 1000.0)
                    split.append(((t_built - t) * 1000.0, (t_done - t_built) * 1000.0))
                    executed.append(name)
            except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
                print(f"batch_mix: {name} failed: {e!r}"[:500])
        passes.append(time.perf_counter() - tp)
        rates.append((len(lat_ms) - first) / passes[-1])
        slowest.append(max(lat_ms[first:], default=0.0))

    # checks, outside the timed region
    failed += count_mismatches(setup_results, want, "cold set-up pass")
    failed += count_mismatches(warm_results, want, "warm set-up pass")

    # A pass holds too few executions for a percentile with ten samples
    # beyond it; the tail is the slowest execution of a pass, as the
    # median over the passes, which one stray execution does not move.
    print(f"batch_mix: set-up passes {cold_pass_s:.1f} s cold, "
          f"{setup_pass_s - cold_pass_s:.1f} s warm; timed passes "
          f"{', '.join(f'{x:.2f}' for x in passes)} s")
    print(f"batch_mix: {len(passes)} timed passes, median pass {median(passes):.3f} s; "
          f"latency_tail_ms is the median over {len(slowest)} passes of the pass's slowest "
          f"of {len(QUERIES)} query executions (p100 of the pass)")
    for name in QUERIES:
        mine = [i for i, q in enumerate(executed) if q == name]
        print(f"batch_mix: {name}: set-up {setup_times.get(name, 0.0):.0f} ms, timed median "
              f"{median([lat_ms[i] for i in mine]):.0f} ms over {len(mine)} "
              f"(construct {median([split[i][0] for i in mine]):.0f}, "
              f"execute {median([split[i][1] for i in mine]):.0f})")
    per_pass = max(len(passes), 1)
    layers = {
        "operators.construct_s": layer["construct_s"] / per_pass,
        "operators.construct_jobs": layer["construct_jobs"] / per_pass,
        "operators.construct_stages": layer["construct_stages"] / per_pass,
        "operators.construct_tasks": layer["construct_tasks"] / per_pass,
        "exec.execute_s": layer["execute_s"] / per_pass,
        "exec.execute_jobs": layer["execute_jobs"] / per_pass,
        "exec.execute_stages": layer["execute_stages"] / per_pass,
        "exec.execute_tasks": layer["execute_tasks"] / per_pass,
        "exec.failed_tasks": layer["construct_failed_tasks"] + layer["execute_failed_tasks"],
        "memo.setup_builds": setup_builds,
    }
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        layers[f"exec.{k}"] = (layer[f"construct_{k}"] + layer[f"execute_{k}"]) / per_pass
    if stats is not None and not stats.bytes_available:
        print("batch_mix: the status store did not answer; shuffle and spill bytes read 0",
              file=sys.stderr)
    if counters:
        layers.update(counters.values(per_pass))
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_pass_s": setup_pass_s,
        "e2e": {
            "latency_p50_ms": median(lat_ms),
            "latency_tail_ms": median(slowest),
            # a median over passes, so that a few seconds of lost CPU
            # on a shared host move one pass, not the run's figure
            "throughput_per_s": median(rates),
        },
        "layers": layers,
    }


def _phase(spark: Any, stats: Any, tracer: Any, trace_id: str, phase: str,
           layer: dict, fn: Any) -> Any:
    """Run one phase of a query; in traced runs under its own job group."""
    group = f"{trace_id}:{phase}"
    if stats is not None:
        spark.sparkContext.setJobGroup(group, phase)
    with tracer.span(phase, trace_id) as attrs:
        t = time.perf_counter()
        out = fn()
        layer[f"{phase}_s"] += time.perf_counter() - t
    if stats is not None:
        with tracer.bookkeeping():
            s = stats.group(group)
            attrs.update(s)
            for k, v in s.items():
                layer[f"{phase}_{k}"] += v
    return out


def duck_views(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> str | None:
    """The oracle comparison the test suite uses: column names, row count,
    then values after sorting rows by every column; floats within ``tol``.
    Returns a description of the first difference, or None."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    want = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if not math.isclose(a, b, rel_tol=tol, abs_tol=tol):
                    return f"{c}[{i}]: {a!r} != {b!r}"
            elif a != b:
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None
