"""The run ledger: one timed, job-counted run of a query (the engine's
Stopwatch + LogMetric pair, reference O17, DispatcherFunction.cs:27,37,
47-49), and the one comparator of a query's frame against its oracle's.
"""

from __future__ import annotations

import itertools
import math
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from eventstreamer_spark import memo

_SEQ = itertools.count()
# The active run_query's trigger list, None outside one: gate streams
# report here, so no module state grows between runs.
_TRIGGERS: list[dict] | None = None


def _noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class RunRecord:
    """One run of a query. CONSTRUCTION is ``fn(spark, sf_dir)``, with
    the eager driver-side jobs and gate streams a query runs while it
    builds its DataFrame; EXECUTION is ``action(df)``, whose return
    value is ``result``. ``stages`` counts the distinct stage ids of
    both phases' jobs, skipped stages included; ``triggers`` has one
    entry per micro-batch of any gate stream the query ran."""

    construct_s: float = 0.0
    execute_s: float = 0.0
    construct_jobs: int = 0
    execute_jobs: int = 0
    stages: int = 0
    memo_hits: dict[str, int] = field(default_factory=dict)
    triggers: list[dict] = field(default_factory=list)
    error: str | None = None
    result: Any = None

    @property
    def total_s(self) -> float:
        return self.construct_s + self.execute_s


def run_query(
    spark: SparkSession,
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    action: Callable[[DataFrame], Any] = _noop_write,
) -> RunRecord:
    """Run ``action(fn(spark, sf_dir))`` once, each phase under its own
    job group, and read the groups' jobs from the public statusTracker
    after the timed window. The run owns the checkpoints the query
    makes outside an artifact build and frees them after ``action``.
    A failure is caught into ``error``; the job group is cleared on
    every exit path."""
    global _TRIGGERS
    sc = spark.sparkContext
    group = f"obs-{next(_SEQ)}-{name}"
    rec = RunRecord()
    memo.HITS.clear()
    _TRIGGERS = rec.triggers
    try:
        with memo.owned():
            sc.setJobGroup(f"{group}:construct", f"{name} construct")
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
            finally:
                rec.construct_s = time.perf_counter() - t0
            sc.setJobGroup(f"{group}:execute", f"{name} execute")
            t0 = time.perf_counter()
            try:
                rec.result = action(df)
            finally:
                rec.execute_s = time.perf_counter() - t0
    except Exception as e:
        rec.error = str(e) or type(e).__name__
    finally:
        _TRIGGERS = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    rec.memo_hits = dict(memo.HITS)
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for phase in ("construct", "execute"):
        jobs = tracker.getJobIdsForGroup(f"{group}:{phase}")
        setattr(rec, f"{phase}_jobs", len(jobs))
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages.update(info.stageIds if info is not None else ())
    rec.stages = len(stages)
    return rec


def note_triggers(progresses: list[dict]) -> None:
    """Record a finished gate stream's progress reports in the active
    run: each micro-batch's ``durationMs`` parts and its summed
    state-store commit time. Outside a run this does nothing."""
    if _TRIGGERS is None:
        return
    for p in progresses:
        _TRIGGERS.append(
            {
                "batchId": p["batchId"],
                "numInputRows": p["numInputRows"],
                "durationMs": dict(p["durationMs"]),
                "stateCommitMs": sum(op["commitTimeMs"] for op in p["stateOperators"]),
            }
        )


def frame_diff(got, want) -> tuple[int, str | None]:
    """Compare the engine's pandas frame ``got`` with the oracle's
    ``want``: columns by sorted name, rows sorted by every column, then
    cell by cell. Floats match when equal, both NaN, or within 1e-12;
    any other pair must be equal both as values and as strings (int
    ``1`` does not match float ``1.0``).

    Returns (mismatched cells, first differing cell or None); raises
    ValueError when the column names or row counts differ."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        raise ValueError(f"schema spark={cols} oracle={sorted(want.columns)}")
    if len(got) != len(want):
        raise ValueError(f"rows spark={len(got)} oracle={len(want)}")
    got = got[cols].sort_values(cols, ignore_index=True)
    want = want[cols].sort_values(cols, ignore_index=True)
    n, first = 0, None
    for c in cols:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if isinstance(a, float) and isinstance(b, float):
                same = (
                    a == b
                    or (math.isnan(a) and math.isnan(b))
                    or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
                )
            else:
                same = bool(a == b) and str(a) == str(b)
            if not same:
                n += 1
                first = first or f"col {c} row {i}: spark={a!r} oracle={b!r}"
    return n, first
