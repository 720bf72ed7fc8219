"""The run ledger (``obs.run_query``) and the oracle comparator
(``obs.frame_diff``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from eventstreamer_spark import obs
from eventstreamer_spark.streaming.pipeline import q_stream_tumbling_stats
from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parent.parent


def _group(spark):
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def test_run_record_fields(spark):
    rec = obs.run_query(spark, "noop_range", lambda s, _: s.range(100), SF_DIR)
    assert rec.error is None and rec.result is None
    assert rec.construct_jobs == 0 and rec.execute_jobs >= 1 and rec.stages >= 1
    assert rec.triggers == [] and rec.total_s == rec.construct_s + rec.execute_s > 0
    assert _group(spark) is None

    gate = obs.run_query(spark, "stream_tumbling_stats", q_stream_tumbling_stats, SF_DIR)
    assert gate.error is None and gate.triggers
    for t in gate.triggers:
        assert t["durationMs"]["triggerExecution"] >= 0
        assert t["stateCommitMs"] >= 0
    assert obs._TRIGGERS is None  # nothing is kept outside a run

    def broken(s, _):
        raise RuntimeError("no such table")

    bad = obs.run_query(spark, "broken", broken, SF_DIR)
    assert bad.error == "no such table" and bad.execute_s == 0
    assert bad.construct_jobs == bad.execute_jobs == bad.stages == 0
    assert _group(spark) is None and obs._TRIGGERS is None


def test_run_query_frees_its_checkpoints(spark):
    """A checkpoint the query makes outside an artifact build belongs
    to the run and is unpersisted once the action has run."""
    from eventstreamer_spark import memo

    made = []

    def fn(s, _):
        made.append(memo.checkpoint(s.range(10)))
        return made[0].selectExpr("id + 1 AS x")

    rec = obs.run_query(spark, "owned", fn, SF_DIR, action=lambda df: df.count())
    assert rec.error is None and rec.result == 10
    assert not memo.checkpoint_alive(made[0]) and memo._OWNERS == []


def test_lazy_checkpoint_runs_upstream_shuffles(spark):
    """memo.checkpoint(df, eager=False) is not lazy under AQE: over a
    hash aggregate the shuffle stage runs while the query is built,
    so the run records construct jobs; a plan with no exchange runs
    nothing until the action."""
    from pyspark.sql import functions as F

    from eventstreamer_spark import memo

    def agg(s, _):
        return memo.checkpoint(s.range(1000).groupBy(F.col("id") % 7).count())

    count = lambda df: df.count()  # noqa: E731
    rec = obs.run_query(spark, "lazy_ckpt_agg", agg, SF_DIR, action=count)
    assert rec.error is None and rec.result == 7
    assert rec.construct_jobs >= 1
    narrow = obs.run_query(
        spark, "lazy_ckpt_narrow", lambda s, _: memo.checkpoint(s.range(1000)),
        SF_DIR, action=count,
    )
    assert narrow.error is None and narrow.result == 1000
    assert narrow.construct_jobs == 0


def test_run_query_owns_driver_thread_checkpoints(spark):
    """Driver threads started inside a run (ivf_staleness_audit trains
    two Lloyd builds on two) register with the run's owner: with more
    threads than cores and a short switch interval, no checkpoint is
    lost, and the run frees every one."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from eventstreamer_spark import memo

    made, owned = [], []

    def fn(s, _):
        def five(i):
            return [memo.checkpoint(s.range(i + 1)) for _ in range(5)]

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                for f in [pool.submit(five, i) for i in range(8)]:
                    made.extend(f.result(timeout=120))
        finally:
            sys.setswitchinterval(interval)
        owned.extend(memo._OWNERS[-1])
        return s.range(1)

    rec = obs.run_query(spark, "threads", fn, SF_DIR)
    assert rec.error is None and len(made) == 40
    assert {id(df) for df in owned} == {id(df) for df in made}
    assert not any(map(memo.checkpoint_alive, made))


def test_run_query_leaves_only_store_held_checkpoints(spark):
    """After a run_query loop, the only new persistent RDDs are the
    checkpoints the artifact store holds: every other checkpoint the
    queries made was freed by its run."""
    import __spark_entry__ as contract
    from eventstreamer_spark import memo

    qs = contract.queries()
    sc = spark.sparkContext

    def persistent():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}

    def held():
        return {
            df._jdf.queryExecution().analyzed().rdd().id()
            for entry in memo._STORE.values()
            for df in entry.checkpoints
        }

    before, held_before = persistent(), held()
    for name in (
        "gini_value_concentration",
        "ntile_customer_balance",
        "quality_classifier_scores",
        "pq_recall_at_k",
    ):
        rec = obs.run_query(spark, name, qs[name], SF_DIR)
        assert rec.error is None, (name, rec.error)
    assert persistent() - before == held() - held_before


@pytest.mark.parametrize(
    "got, want, n",
    [
        ([1], [1.0], 1),  # int vs float: equal values, different strings
        ([0.5], [0.5 + 1e-10], 1),  # beyond the 1e-12 tolerance
        ([0.5], [0.5 + 1e-13], 0),
        ([float("nan")], [float("nan")], 0),
        ([None], [None], 0),
        (["a", "b"], ["b", "c"], 2),  # rows sorted before comparing
    ],
)
def test_frame_diff(got, want, n):
    mism, first = obs.frame_diff(pd.DataFrame({"x": got}), pd.DataFrame({"x": want}))
    assert mism == n
    assert (first is None) == (n == 0)


def test_frame_diff_rejects_shape():
    with pytest.raises(ValueError, match="schema"):
        obs.frame_diff(pd.DataFrame({"x": [1]}), pd.DataFrame({"y": [1]}))
    with pytest.raises(ValueError, match="rows"):
        obs.frame_diff(pd.DataFrame({"x": [1]}), pd.DataFrame({"x": [1, 2]}))


def test_bench_only_writes_layers(tmp_path):
    detail = tmp_path / "detail.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_DETAIL": str(detail),
        "SPARK_GRAFT_BENCH_PASSES": "1",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "--only", "q18_large_volume_orders"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1
    assert list(lines[0]) == [
        "metric", "unit", "queries", "sf", "value", "n_queries", "n_failed", "memo_warm",
    ]
    assert list(lines[0]["queries"]) == ["q18_large_volume_orders"]
    layer = json.loads(detail.read_text())["layers"]["q18_large_volume_orders"]
    assert set(layer) == {
        "construct_s", "execute_s", "construct_jobs", "execute_jobs", "stages", "triggers",
    }
    assert layer["execute_jobs"] >= 1 and layer["stages"] >= 1
