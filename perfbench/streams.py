"""``stream_emit``: players x 100 Hz into per-player 1 s windows.

The load generator is Spark's built-in ``rate`` source, an open loop: it
releases ``rate`` rows per second of wall time whether or not the query
keeps up. Row ``v`` belongs to player ``v % players``; the seed fixes the
player ids, each player's ``k`` payload and the value/event-type mapping.
The rate source stamps row ``v`` with its scheduled creation time
``t(v) = start + round(v * 1000 / rate)`` ms, where ``start`` is the
creation time the source records in its checkpoint (``sources/0/0``).
The checks rebuild every expected window from that schedule alone. The
query triggers every ``TRIGGER_S`` seconds, on a fixed grid of wall time.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
HZ = 100  # events per second per player, as in the reference's sensors
VALUE_MOD = 100_000  # values are cents in [0, 1000)
FIRST_EMIT_TIMEOUT_S = 60.0
CATCH_UP_TIMEOUT_S = 20.0
# Triggers run every TRIGGER_S seconds, on multiples of TRIGGER_S since
# the epoch. The trigger at time T reads the rows due before
# T - 1 + (the source's start time mod 1 s), so window [w, w + 1 s) is
# complete in the first trigger at T >= w + 2 s, which moves the watermark
# past it, and reaches the sink at the end of the next one. With
# TRIGGER_S = 3 the three windows of a trigger wait 4, 5 and 6 s plus one
# trigger time, so the median is the middle group whatever the counts;
# with an even interval it would fall between two groups a second apart.
# The fixed interval also keeps the trigger time, which varies by a third
# from run to run on a shared host, from counting two or three times, as
# it does when triggers run back to back.
TRIGGER_S = 3
# The query is started START_PHASE_S into an interval, so the first
# trigger and the source's start fall at the same point of it in every run.
START_PHASE_S = 0.1


@dataclass(frozen=True)
class StreamSpec:
    """A stream workload: a ladder of player counts, highest first. The
    first rung is the fixed rate the latency metrics are reported at;
    lower rungs run only when a higher one does not hold."""

    ladder: tuple[int, ...]
    tail_limit_ms: float

    def __post_init__(self) -> None:
        if not self.ladder or any(p <= 0 for p in self.ladder):
            raise ValueError(f"player counts must be positive, got {self.ladder}")
        if list(self.ladder) != sorted(self.ladder, reverse=True):
            raise ValueError("ladder must be ordered highest rate first")
        if self.tail_limit_ms <= 0:
            raise ValueError("tail latency limit must be positive")


@dataclass(frozen=True)
class Schedule:
    """The deterministic event schedule of one rung."""

    players: int
    ids: tuple[int, ...]
    ks: tuple[int, ...]
    mul: int
    add: int
    etype_mul: int

    @property
    def rate(self) -> int:
        return self.players * HZ

    def value(self, v: int) -> float:
        return ((v * self.mul + self.add) % VALUE_MOD) / 100.0

    def etype(self, v: int) -> str:
        return EVENT_TYPES[(v * self.etype_mul) % len(EVENT_TYPES)]

    def offset_ms(self, v: int) -> int:
        """round(v * 1000 / rate), ties up, as the rate source computes it."""
        return (2000 * v + self.rate) // (2 * self.rate)

    def first_at_or_after(self, x_ms: int) -> int:
        """Smallest row whose offset is >= x_ms."""
        return max(0, -(-(2 * self.rate * x_ms - self.rate) // 2000))


def make_schedule(seed: int, players: int) -> Schedule:
    rng = random.Random(seed * 1_000_003 + players)
    return Schedule(
        players=players,
        ids=tuple(rng.sample(range(1, 1_000_000), players)),
        ks=tuple(rng.randrange(100) for _ in range(players)),
        mul=rng.randrange(1, VALUE_MOD, 2),
        add=rng.randrange(VALUE_MOD),
        etype_mul=rng.randrange(1, len(EVENT_TYPES)),
    )


def mean6(values: list[float]) -> float:
    """functions.numeric.mean6_spark in Python: integer micro-units."""
    s = sum(math.floor(x * 1_000_000.0 + 0.5) for x in values)
    return math.floor(s * 1.0 / len(values) + 0.5) / 1_000_000.0


def expected_emit_window(sched: Schedule, start_ms: int, player: int, window_ms: int) -> dict | None:
    """The reference record for one (player, 1 s window) of the schedule,
    or None when the player has no event in the window."""
    lo = window_ms - start_ms
    first = sched.first_at_or_after(lo)
    first += (player - first) % sched.players
    last = sched.first_at_or_after(lo + 1000) - 1
    if last < first:
        return None
    last -= (last - player) % sched.players
    if last < first:
        return None
    rows = range(first, last + 1, sched.players)
    pid = sched.ids[player]
    return {
        "count": len(rows),
        "first_ms": start_ms + sched.offset_ms(first),
        "last_ms": start_ms + sched.offset_ms(last),
        "key": f"{pid}:{sched.ks[player]}",
        "deviceid": f"dev-{pid % 10}",
        "sessionid": str(pid),
        "allvalues": {
            "k": f"{float(sched.ks[player]):.6f}",
            "value": f"{mean6([sched.value(v) for v in rows]):.6f}",
        },
    }


def _parse_ts_ms(s: str) -> int:
    t = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f").replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1000 + 0.5)


def check_emit(sched: Schedule, start_ms: int, batches: list) -> tuple[int, int, list[tuple[float, float]]]:
    """Compare every emitted window with the schedule. Returns
    (attempted, failed, [(arrival_s, latency_ms)])."""
    index = {pid: i for i, pid in enumerate(sched.ids)}
    seen: dict[int, set[int]] = {}
    attempted = failed = 0
    lat: list[tuple[float, float]] = []
    for arrival, _dur, rows in batches:
        for key, js in rows:
            attempted += 1
            rec = json.loads(js)
            i = index.get(int(rec["sessionid"]), -1)
            if i < 0:
                failed += 1
                continue
            first_ms = _parse_ts_ms(rec["ts"])
            w = first_ms - first_ms % 1000
            want = expected_emit_window(sched, start_ms, i, w)
            got = {"key": key, "deviceid": rec["deviceid"], "sessionid": rec["sessionid"],
                   "allvalues": rec["allvalues"], "first_ms": first_ms}
            windows = seen.setdefault(i, set())
            ok = (want is not None and rec["sessionstart"] == ""
                  and all(got[f] == want[f] for f in got) and w not in windows)
            windows.add(w)
            failed += not ok
            if want is not None:
                lat.append((arrival, arrival * 1000.0 - want["last_ms"]))
    # completeness: every player has every second from its first window
    # up to the last window emitted for anyone
    if seen:
        last_w = max(max(ws) for ws in seen.values())
        for i in range(sched.players):
            first_w = (start_ms + sched.offset_ms(i)) // 1000 * 1000
            missing = set(range(first_w, last_w + 1, 1000)) - seen.get(i, set())
            attempted += len(missing)
            failed += len(missing)
    return attempted, failed, lat


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 100 samples that percentile is under p90 and
    says little about the tail, so the maximum (p100) is reported."""
    s = sorted(values)
    n = len(s)
    if n < 100:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return (s[n // 2] + s[(n - 1) // 2]) / 2.0 if n else 0.0


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def rate_events(spark: Any, sched: Schedule) -> Any:
    """The schedule as a stream of rows in the ``events`` table's shape."""
    from pyspark.sql import functions as F

    v = F.col("value")
    idx = (v % sched.players).cast("int") + 1
    src = spark.readStream.format("rate").option("rowsPerSecond", sched.rate).load()
    return src.select(
        v.alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.element_at(F.array(*[F.lit(p) for p in sched.ids]), idx).cast("long").alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in EVENT_TYPES]),
                     (F.pmod(v * sched.etype_mul, len(EVENT_TYPES)) + 1).cast("int")).alias("event_type"),
        (F.pmod(v * sched.mul + sched.add, VALUE_MOD) / 100.0).alias("value"),
        F.concat(F.lit('{"k": '),
                 F.element_at(F.array(*[F.lit(k) for k in sched.ks]), idx).cast("string"),
                 F.lit("}")).alias("props"),
    )


def build_query(spark: Any, sched: Schedule) -> Any:
    """The reference's output record per (player, 1 s window), emitted
    once the watermark passes the window end."""
    from eventstreamer_spark.operators.windowed import windowed_emit_json

    return windowed_emit_json(rate_events(spark, sched).withWatermark("ts", "0 seconds"))


class Sink:
    """foreachBatch sink: collects each batch and stamps its arrival."""

    def __init__(self, tracer: Any, trace_id: str) -> None:
        self.batches: list[tuple[float, float, list]] = []
        self.tracer, self.trace_id = tracer, trace_id

    def __call__(self, df: Any, batch_id: int) -> None:
        t0 = time.time()
        rows = [tuple(r) for r in df.collect()]
        arrival = time.time()
        self.tracer.add("sink", f"{self.trace_id}:{batch_id}", t0, arrival, rows=len(rows))
        if rows:
            self.batches.append((arrival, arrival - t0, rows))


@dataclass
class RungResult:
    setup_s: float  # query start -> first window at the sink
    start_ms: int
    batches: list  # every non-empty sink batch
    progress: list[dict]
    measure_from: float
    measure_to: float
    construct_s: float
    construct: dict | None  # job counts of the construct group, traced runs only


def run_rung(spark: Any, sched: Schedule, seconds: float, ckpt: Path,
             tracer: Any, trace_id: str, stats: Any = None) -> RungResult:
    """Start the query, wait for the first window, let it catch up with
    the cold-start backlog, then measure for ``seconds``."""
    sink = Sink(tracer, trace_id)
    construct = None
    if stats is not None:
        spark.sparkContext.setJobGroup(f"construct:{trace_id}", "stream construct")
    with tracer.span("construct", trace_id):
        t_c = time.perf_counter()
        df = build_query(spark, sched)
        construct_s = time.perf_counter() - t_c
    if stats is not None:
        with tracer.bookkeeping():
            construct = stats.group(f"construct:{trace_id}")
            spark.sparkContext.setJobGroup("stream", "stream execution")
    time.sleep((START_PHASE_S - time.time()) % TRIGGER_S)
    t0 = time.time()
    q = (df.writeStream.outputMode("append").foreachBatch(sink)
         .trigger(processingTime=f"{TRIGGER_S} seconds")
         .option("checkpointLocation", str(ckpt)).start())
    try:
        deadline = t0 + FIRST_EMIT_TIMEOUT_S
        while not sink.batches:
            _raise_if_dead(q)
            if time.time() > deadline:
                raise TimeoutError(f"no window emitted within {FIRST_EMIT_TIMEOUT_S}s")
            time.sleep(0.05)
        setup_s = sink.batches[0][0] - t0
        # caught up with the cold-start backlog: a trigger that started on
        # the interval grid and read one interval of input, so every batch
        # after it emits TRIGGER_S windows per player
        deadline = time.time() + CATCH_UP_TIMEOUT_S
        while time.time() < deadline:
            _raise_if_dead(q)
            lp = q.lastProgress
            if (lp and lp["numInputRows"] == TRIGGER_S * sched.rate
                    and _progress_ms(lp) % (TRIGGER_S * 1000) < 250):
                break
            time.sleep(0.1)
        measure_from = time.time()
        while time.time() < measure_from + seconds:
            _raise_if_dead(q)
            time.sleep(0.1)
        measure_to = time.time()
    finally:
        q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    start_ms = int((ckpt / "sources" / "0" / "0").read_text().split()[-1])
    return RungResult(setup_s, start_ms, sink.batches, progress,
                      measure_from, measure_to, construct_s, construct)


def _progress_ms(p: dict) -> int:
    """Start of a trigger, in ms since the epoch, from its progress report."""
    t = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return round(t.timestamp() * 1000)


def _raise_if_dead(q: Any) -> None:
    if not q.isActive:
        exc = q.exception()
        raise RuntimeError(f"streaming query stopped: {exc}")


def trigger_rows(res: RungResult) -> list[dict]:
    """Progress of the triggers that started inside the measured window,
    with their backlog: trigger end minus the newest scheduled row read."""
    out = []
    for p in res.progress:
        t_start = _progress_ms(p) / 1000.0
        if not res.measure_from <= t_start <= res.measure_to:
            continue
        end = t_start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        src = p["sources"][0]
        newest = res.start_ms / 1000.0 + float(src["endOffset"] or 0)
        out.append({**p, "_start": t_start, "_end": end, "_backlog_s": end - newest})
    return out


DURATION_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _state_sum(p: dict, field: str, custom: bool = False) -> float:
    ops = p.get("stateOperators") or []
    if custom:
        return float(sum((o.get("customMetrics") or {}).get(field, 0) for o in ops))
    return float(sum(o.get(field, 0) for o in ops))


def evaluate(spec: StreamSpec, sched: Schedule, res: RungResult, tracer: Any,
             trace_id: str) -> dict:
    """Check one rung's output and reduce it to metrics."""
    attempted, failed, lat = check_emit(sched, res.start_ms, res.batches)
    dropped = sum(_state_sum(p, "numRowsDroppedByWatermark") for p in res.progress)
    attempted += int(dropped)
    failed += int(dropped)

    window = [ms for arrival, ms in lat if res.measure_from <= arrival <= res.measure_to]
    trigs = trigger_rows(res)
    data = [t for t in trigs if t["numInputRows"] > 0]
    third = len(data) // 3
    growth = (median([t["_backlog_s"] for t in data[-third:]])
              - median([t["_backlog_s"] for t in data[:third]])) if third else 0.0
    processed_eps = _consumption_rate(data)
    if not window:  # nothing reached the sink while measuring: a failure,
        # and every window of the measured span was at least this late
        failed += 1
        window = [(res.measure_to - res.measure_from) * 1000.0]
    tail_ms, pct, n = tail(window)
    holds = failed == 0 and tail_ms < spec.tail_limit_ms and growth <= 1.0

    for t in res.progress:
        _trace_trigger(tracer, trace_id, t)
    med = lambda key: median([float(t["durationMs"].get(key, 0)) for t in trigs])  # noqa: E731
    last = trigs[-1] if trigs else {}
    sink_window = [b for b in res.batches if res.measure_from <= b[0] <= res.measure_to]
    layers = {
        "operators.construct_s": res.construct_s,
        "pipeline.triggers": float(len(trigs)),
        "pipeline.trigger_ms": med("triggerExecution"),
        "pipeline.add_batch_ms": med("addBatch"),
        "pipeline.query_planning_ms": med("queryPlanning"),
        "pipeline.wal_commit_ms": med("walCommit"),
        "pipeline.commit_offsets_ms": med("commitOffsets"),
        "pipeline.latest_offset_ms": med("latestOffset"),
        "pipeline.rows_per_trigger": median([float(t["numInputRows"]) for t in data]),
        # rows per second of trigger execution: the rate the pipeline
        # could take at this batch size, which the offered rate does not cap
        "pipeline.capacity_eps": median([float(t["numInputRows"]) * 1000.0
                                         / max(t["durationMs"].get("triggerExecution", 0), 1)
                                         for t in data]),
        "pipeline.backlog_s": median([t["_backlog_s"] for t in trigs]),
        "state.commit_ms": median([_state_sum(t, "commitTimeMs") for t in trigs]),
        "state.fsync_ms": median([_state_sum(t, "rocksdbCommitFileSyncLatencyMs", True) for t in trigs]),
        "state.updates_ms": median([_state_sum(t, "allUpdatesTimeMs") for t in trigs]),
        "state.removals_ms": median([_state_sum(t, "allRemovalsTimeMs") for t in trigs]),
        "state.rows_total": _state_sum(last, "numRowsTotal") if last else 0.0,
        "state.memory_bytes": _state_sum(last, "memoryUsedBytes") if last else 0.0,
        "state.bytes_written": median([_state_sum(t, "rocksdbTotalBytesWritten", True) for t in trigs]),
        "state.rows_dropped_late": dropped,
        "sink.rows": float(sum(len(b[2]) for b in sink_window)),
        # the foreachBatch callback consumes a lazy frame, so its time
        # includes executing the micro-batch's plan
        "sink.ms": median([b[1] * 1000.0 for b in sink_window]),
    }
    if res.construct is not None:
        for k in ("jobs", "stages", "tasks"):
            layers[f"operators.construct_{k}"] = res.construct[k]
    print(f"{trace_id}: {len(window)} windows in {res.measure_to - res.measure_from:.1f} s, "
          f"p50 {median(window):.0f} ms, tail p{pct:.1f} of {n} = {tail_ms:.0f} ms, "
          f"backlog growth {growth:+.2f} s, {processed_eps:.0f} events/s processed, "
          f"{'holds' if holds else 'does not hold'}; capacity "
          f"{layers['pipeline.capacity_eps']:.0f} events/s; trigger {layers['pipeline.trigger_ms']:.0f} ms "
          f"(state commit {layers['state.commit_ms']:.0f}, fsync {layers['state.fsync_ms']:.0f}); "
          f"set-up {res.setup_s:.2f} s; "
          f"{failed} of {attempted} checks failed")
    return {
        "attempted": attempted,
        "failed": failed,
        "holds": holds,
        "processed_eps": processed_eps,
        "p50_ms": median(window),
        "tail_ms": tail_ms,
        "layers": layers,
    }


def _consumption_rate(data: list[dict]) -> float:
    """Events consumed per second: the least-squares slope of the rows
    read so far against trigger end time. The source releases rows in
    whole seconds, so rows over elapsed time of a short span is off by up
    to a second's worth; the fitted slope averages that out."""
    if len(data) < 2:
        return 0.0
    xs = [t["_end"] for t in data]
    ys, total = [], 0.0
    for t in data:
        total += t["numInputRows"]
        ys.append(total)
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def _trace_trigger(tracer: Any, trace_id: str, p: dict) -> None:
    if not tracer.enabled:
        return
    start = _progress_ms(p) / 1000.0
    d = p["durationMs"]
    tid = f"{trace_id}:{p['batchId']}"
    root = tracer.add("trigger", tid, start, start + d.get("triggerExecution", 0) / 1000.0,
                      rows=p["numInputRows"])
    # the parts in the order a trigger runs them; the state operators'
    # metrics (commit time summed over their tasks) ride on addBatch
    t = start
    for part in DURATION_PARTS:
        ms = d.get(part, 0)
        state = p.get("stateOperators") if part == "addBatch" else None
        tracer.add(part, tid, t, t + ms / 1000.0, root, **({"state": state} if state else {}))
        t += ms / 1000.0


def run(spark: Any, spec: StreamSpec, seed: int, seconds: float, tracer: Any,
        work_dir: Path, restart: Any) -> dict:
    """Run the ladder from the fixed rate down until a rung holds. In
    traced runs, then repeat the fixed rate on ``local[1]``, the
    single-threaded baseline."""
    from perfbench.trace import JobStats

    stats = JobStats(spark) if tracer.enabled else None
    attempted = failed = 0
    evals = []
    setup_s = None
    sustained = 0.0
    for players in spec.ladder:
        sched = make_schedule(seed, players)
        trace_id = f"players{players}"
        res = run_rung(spark, sched, seconds, work_dir / trace_id, tracer, trace_id, stats)
        ev = evaluate(spec, sched, res, tracer, trace_id)
        attempted += ev["attempted"]
        failed += ev["failed"]
        evals.append(ev)
        setup_s = res.setup_s if setup_s is None else setup_s  # the cold start
        if ev["holds"]:
            sustained = ev["processed_eps"]
            break
    top = evals[0]
    layers = dict(top["layers"])
    if tracer.enabled:
        spark = restart(1)
        sched = make_schedule(seed, spec.ladder[0])
        trace_id = f"local1-players{spec.ladder[0]}"
        res = run_rung(spark, sched, seconds, work_dir / trace_id, tracer, trace_id)
        ev = evaluate(spec, sched, res, tracer, trace_id)
        attempted += ev["attempted"]
        failed += ev["failed"]
        layers["baseline1.emit_p50_ms"] = ev["p50_ms"]
        layers["baseline1.trigger_ms"] = ev["layers"]["pipeline.trigger_ms"]
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_stream_s": setup_s,
        "e2e": {
            "latency_p50_ms": top["p50_ms"],
            "latency_tail_ms": top["tail_ms"],
            "throughput_per_s": sustained,
        },
        "layers": layers,
    }
