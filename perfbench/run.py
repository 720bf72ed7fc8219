"""Benchmark of eventstreamer_spark: a batch query mix and a stream.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``batch_mix``   closed loop, one client, 5 registered queries per pass
                  on a copy of the sf0.01 test fixtures (``perfbench/batch.py``);
- ``stream_emit`` open loop, 400 players x 100 Hz from the ``rate``
                  source through ``operators.windowed.windowed_emit_json``,
                  a trigger every 3 s (``perfbench/streams.py``).

Both run on ``local[4]``. End-to-end metrics, the same four for every
workload (``--trace 0``):

- ``setup_s``: engine import and session start, plus warm-up: the first
  two passes (cold, then warm) for ``batch_mix``; for the stream, query
  start until the first window reaches the sink;
- ``latency_p50_ms`` / ``latency_tail_ms``: for ``batch_mix``, one query
  execution (construct + noop write): the median over all executions,
  and the tail as the median over passes of each pass's slowest
  execution. For the stream, the time from the scheduled creation of a
  window's last event to the window's arrival at the sink, at the fixed
  rate; the tail is the highest percentile with at least ten samples
  beyond it. A line before the result names each tail and its samples;
- ``throughput_per_s``: query executions per second of a timed pass,
  the median over the passes, for ``batch_mix``;
  for the stream, the events per second processed at the highest rung of
  its ladder that holds (tail under the limit, backlog not growing). The
  ladder starts at the fixed rate, so this shows a fall below it, not a
  rise above; the per-layer ``pipeline.capacity_eps`` shows capacity.

The error rate is ``failed / attempted`` of the result line. ``--trace 1``
reports the per-layer metrics instead, from the same code with spans and
layer counters on; spans go to ``.bench_build/perfbench/traces/``.

Everything the run writes stays under ``.bench_build/perfbench/``; the
per-run directory (checkpoints, Spark local dirs, temp files) is removed
on every exit path.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import streams  # noqa: E402

CPUS = 4
# 400 players (40k events/s) is the fixed rate. With a trigger every 3 s
# the last window of a trigger waits 6 s plus one trigger time (1.2-2.4 s
# on a 4-core host), so the tail stays near 8 s; a 12 s limit fails it
# once a trigger takes twice its interval.
STREAM = streams.StreamSpec(ladder=(400, 200), tail_limit_ms=12_000.0)
WORKLOADS = ("batch_mix", "stream_emit")

E2E = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms", "throughput_per_s": "1/s"}
LAYERS = {
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.construct_stages": "count",
    "operators.construct_tasks": "count",
    "operators.tmp_bytes_left": "B",
    "exec.execute_s": "s",
    "exec.execute_jobs": "count",
    "exec.execute_stages": "count",
    "exec.execute_tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "memo.lookups": "count",
    "memo.hits": "count",
    "memo.builds": "count",
    "memo.setup_builds": "count",
    "memo.evictions": "count",
    "memo.hit_ratio": "ratio",
    "session.configure_calls": "count",
    "session.configure_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "pipeline.triggers": "count",
    "pipeline.trigger_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.rows_per_trigger": "count",
    "pipeline.capacity_eps": "1/s",
    "pipeline.backlog_s": "s",
    "state.commit_ms": "ms",
    "state.fsync_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
    "state.bytes_written": "B",
    "state.rows_dropped_late": "count",
    "sink.rows": "count",
    "sink.ms": "ms",
    "baseline1.emit_p50_ms": "ms",
    "baseline1.trigger_ms": "ms",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.latency_p50_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def result_line(attempted: int, failed: int, values: dict[str, float], trace: bool) -> str:
    """The result object; every declared metric, and only those. A layer
    the workload does not reach (the memos on a stream) reads 0."""
    units = LAYERS if trace else E2E
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"undeclared metrics {sorted(unknown)}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def _prepare_env(run_dir: Path) -> None:
    """Point every writer at the run directory, and put the package on
    the Python workers' path so Arrow UDFs and applyInPandasWithState
    import it from any working directory."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the session's 16g default is a whole small host
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.streaming.numRecentProgressUpdates=1000 "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _tmp_left(run_dir: Path) -> int:
    """Bytes the engine left in ``es_*`` temp dirs of this run (the
    operators name their side products so); the run dir goes after."""
    left = (run_dir / "tmp").glob("es_*")
    return sum(_dir_bytes(d) if d.is_dir() else d.stat().st_size for d in left)


class Session:
    """The SparkSession and the JVM behind it, stopped and waited for."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, cpus: int):
        from eventstreamer_spark.session import configure, get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = configure(get_spark("perfbench", cpus=cpus))
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait()


def _terminate(*_: object) -> None:
    """SIGTERM: unwind through the clean-up once; a second signal does
    not interrupt it."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import eventstreamer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _terminate)

    from perfbench import batch
    from perfbench.trace import LayerCounters, Tracer

    if args.workload == "batch_mix":  # once per checkout, before any timing
        want = batch.oracle_results(batch.DATA_DIR, WORK)
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    counters = LayerCounters() if args.trace else None
    session = Session()
    try:
        t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401 — registers every query

        if counters:
            counters.install()
        spark = session.start(CPUS)
        session_s = time.perf_counter() - t0
        if args.workload == "batch_mix":
            out = batch.run(spark, batch.DATA_DIR, want, args.seed, args.seconds, tracer,
                            counters)
            setup_s = session_s + out["setup_pass_s"]
        else:
            out = streams.run(spark, STREAM, args.seed, args.seconds, tracer, run_dir,
                              session.start)
            setup_s = session_s + out["setup_stream_s"]
        if counters:
            counters.close()
            if args.workload != "batch_mix":
                out["layers"].update(counters.values())
        t_work = time.perf_counter()
    finally:
        try:
            session.close()
        finally:
            tmp_left = _tmp_left(run_dir)
            shutil.rmtree(run_dir, ignore_errors=True)
    now = time.perf_counter()
    print(f"perfbench: before session {t0 - T_PROCESS:.1f} s, session {session_s:.1f} s, "
          f"workload {t_work - t0 - session_s:.1f} s, teardown {now - t_work:.1f} s, "
          f"total {now - T_PROCESS:.1f} s", file=sys.stderr)

    if args.trace:
        values = dict(out["layers"])
        values["operators.tmp_bytes_left"] = tmp_left
        values["trace.spans"] = len(tracer.spans)
        values["trace.overhead_s"] = tracer.overhead_s
        values["trace.latency_p50_ms"] = out["e2e"]["latency_p50_ms"]
        tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
    else:
        values = {"setup_s": setup_s, **out["e2e"]}
    print(result_line(out["attempted"], out["failed"], values, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
