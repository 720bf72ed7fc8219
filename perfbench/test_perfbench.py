"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

None of them starts Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from perfbench import batch, run, streams
from perfbench.streams import Schedule, check_emit, expected_emit_window

ROOT = Path(__file__).resolve().parent.parent

# Two players at 100 Hz: rows every 5 ms, alternating players; player 0
# has id 7 and k 3, player 1 id 9 and k 4; row v has value v / 100.
TINY = Schedule(players=2, ids=(7, 9), ks=(3, 4), mul=1, add=0, etype_mul=1)
START_MS = 1_000_000_000_500  # half a second into a wall-clock second
SECOND = 1_000_000_000_000


def test_schedule_offsets_round_like_the_rate_source():
    four = Schedule(players=4, ids=(1, 2, 3, 4), ks=(0, 0, 0, 0), mul=1, add=0, etype_mul=1)
    # 400 rows/s: row 1 is due at 2.5 ms, which the source rounds up
    assert [four.offset_ms(v) for v in range(5)] == [0, 3, 5, 8, 10]
    assert four.first_at_or_after(3) == 1
    assert four.first_at_or_after(4) == 2
    assert TINY.first_at_or_after(500) == 100


def test_expected_window_on_a_hand_checked_schedule():
    # the source starts at .500: the first second holds rows 0..99
    w0 = expected_emit_window(TINY, START_MS, 0, SECOND)
    assert w0["count"] == 50  # rows 0, 2, .., 98
    assert (w0["first_ms"], w0["last_ms"]) == (START_MS, START_MS + 490)
    assert w0["allvalues"] == {"k": "3.000000", "value": "0.490000"}
    assert (w0["key"], w0["deviceid"], w0["sessionid"]) == ("7:3", "dev-7", "7")

    w1 = expected_emit_window(TINY, START_MS, 1, SECOND)
    assert w1["count"] == 50  # rows 1, 3, .., 99
    assert (w1["first_ms"], w1["last_ms"]) == (START_MS + 5, START_MS + 495)
    assert w1["allvalues"]["value"] == "0.500000"

    # a full second: rows 100..299, 100 per player
    full = expected_emit_window(TINY, START_MS, 0, SECOND + 1000)
    assert full["count"] == 100
    assert full["first_ms"] == SECOND + 1000
    assert full["allvalues"]["value"] == "1.990000"  # mean of 1.00, 1.02, .., 2.98

    assert expected_emit_window(TINY, START_MS, 0, SECOND - 1000) is None


def _emitted(player: int, window: int) -> tuple[str, str]:
    w = expected_emit_window(TINY, START_MS, player, window)
    ts = dt.datetime.fromtimestamp(w["first_ms"] / 1000, dt.timezone.utc)
    rec = {"ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"), "deviceid": w["deviceid"],
           "sessionid": w["sessionid"], "sessionstart": "", "allvalues": w["allvalues"]}
    return w["key"], json.dumps(rec)


def test_check_emit_accepts_the_schedule_and_counts_every_defect():
    arrival = (SECOND + 2500) / 1000.0
    rows = [_emitted(p, w) for w in (SECOND, SECOND + 1000) for p in (0, 1)]
    attempted, failed, lat = check_emit(TINY, START_MS, [(arrival, 0.0, rows)])
    assert (attempted, failed) == (4, 0)
    # latency runs from the window's last scheduled row: .990 and 1.995 s
    assert sorted(ms for _, ms in lat) == [505.0, 510.0, 1505.0, 1510.0]

    wrong = list(rows)
    key, js = wrong[0]
    wrong[0] = (key, js.replace("0.490000", "0.480000"))
    assert check_emit(TINY, START_MS, [(arrival, 0.0, wrong)])[:2] == (4, 1)

    missing = rows[:-1]  # player 1's second window never arrives
    assert check_emit(TINY, START_MS, [(arrival, 0.0, missing)])[:2] == (4, 1)

    duplicated = rows + rows[:1]
    assert check_emit(TINY, START_MS, [(arrival, 0.0, duplicated)])[:2] == (5, 1)


class _Frame:
    """Stands in for a DataFrame: collects to a fixed pandas frame, and
    its noop write does nothing."""

    def __init__(self, pdf):
        self.pdf = pdf
        self.write = self

    def toPandas(self):
        return self.pdf.copy()

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def test_a_wrong_result_from_the_warm_session_is_counted(monkeypatch):
    import __spark_entry__

    from perfbench.trace import Tracer

    want = {q: pd.DataFrame({"x": [1.0, 2.0]}) for q in batch.QUERIES}
    calls = dict.fromkeys(batch.QUERIES, 0)

    def builder(name):
        def build(spark, sf_dir):
            calls[name] += 1
            # right when built cold, wrong once served from the warm session
            wrong = name == batch.QUERIES[0] and calls[name] > 1
            return _Frame(pd.DataFrame({"x": [1.0, 3.0 if wrong else 2.0]}))
        return build

    monkeypatch.setattr(__spark_entry__, "queries",
                        lambda: {q: builder(q) for q in batch.QUERIES})
    out = batch.run(None, ROOT, want, seed=1, seconds=1, tracer=Tracer(False), counters=None)
    # cold set-up pass, warm set-up pass, one timed pass
    assert all(n == 3 for n in calls.values())
    assert (out["attempted"], out["failed"]) == (3 * len(batch.QUERIES), 1)


def test_frame_mismatch_sorts_rows_and_compares_within_tolerance():
    want = pd.DataFrame({"a": [1, 2], "b": [0.5, 0.25]})
    assert batch.frame_mismatch(want.iloc[::-1], want) is None
    assert batch.frame_mismatch(want.assign(b=[0.5, 0.25 + 1e-12]), want) is None
    assert batch.frame_mismatch(want.assign(b=[0.5, 0.3]), want) is not None
    assert batch.frame_mismatch(want.head(1), want) == "rows 1 != 2"
    assert batch.frame_mismatch(want.rename(columns={"b": "c"}), want) is not None


def test_every_printed_metric_is_declared_in_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    line = json.loads(run.result_line(3, 0, {"setup_s": 1.5}, trace=False))
    assert set(line["metrics"]) == set(run.E2E)
    assert set(json.loads(run.result_line(3, 0, {}, trace=True))["metrics"]) == set(run.LAYERS)
    with pytest.raises(KeyError):
        run.result_line(1, 0, {"not_declared": 1.0}, trace=False)


@pytest.mark.parametrize("argv", [
    ["--workload", "no_such_workload", "--seed", "1", "--seconds", "5"],
    ["--workload", "batch_mix", "--seed", "1", "--seconds", "0"],
    ["--workload", "batch_mix", "--seed", "1", "--seconds", "5", "--trace", "2"],
])
def test_bad_arguments_are_rejected_at_startup(argv):
    with pytest.raises(SystemExit) as e:
        run.parse_args(argv)
    assert e.value.code == 2


@pytest.mark.parametrize("ladder", [(0,), (400, -200), ()])
def test_non_positive_rate_is_rejected(ladder):
    with pytest.raises(ValueError):
        streams.StreamSpec(ladder=ladder, tail_limit_ms=10_000.0)


def test_fails_without_the_engine_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_mix", "--seed", "1",
         "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
