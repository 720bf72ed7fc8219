"""Streaming semantics: batch/stream equivalence, watermark late-data
policy, and reference-exact push-time windows.

The reference has no tests (SURVEY.md §5); these encode the behaviors
its README describes plus the divergences we chose deliberately
(epoch-aligned canonical windows, explicit lateness policy,
no-loss state machine).
"""

from __future__ import annotations

import datetime as dt
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventstreamer_spark.sources.tables import load_events
from eventstreamer_spark.streaming.pipeline import (
    observed_windowed_stream,
    run_stream,
    stream_events,
    windowed_stream,
)
from eventstreamer_spark.streaming.stateful import (
    anchor_windows_py,
    push_time_stream,
    push_time_windows,
)
from tests.conftest import SF_DIR


def _write_chunks(spark, tmpdir: str, chunks: list[list[tuple]]) -> str:
    """Write micro-batch chunk files, one parquet file per chunk, with
    strictly increasing mtimes — FileStreamSource orders new files by
    modification time, so this pins the batch order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    d = f"{tmpdir}/stream"
    os.makedirs(d, exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = f"{d}/chunk-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (base + i * 60, base + i * 60))
    return d


def _ev(eid: int, ts: str, uid: int = 1, etype: str = "click", value: float = 10.0):
    return (eid, dt.datetime.fromisoformat(ts), uid, etype, value, "{}")


def test_push_time_parity_matches_python_model(spark):
    """The applyInPandas operator must reproduce the pure-Python
    reference model on real data, key by key."""
    ev = load_events(spark, SF_DIR)
    got = push_time_windows(ev).toPandas()

    src = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    ).toPandas()
    expected_rows = []
    for key, g in src.groupby("key"):
        g = g.sort_values(["ts_us", "event_id"])
        rows = list(zip(g.ts_us, g.event_id, g.event_type, g.value))
        for r in anchor_windows_py(rows):
            expected_rows.append({"key": key, **r})
    exp = pd.DataFrame(expected_rows)

    got = got.sort_values(["key", "anchor_ts"], ignore_index=True)
    exp = exp.sort_values(["key", "anchor_ts"], ignore_index=True)
    assert len(got) == len(exp)
    assert (got["key"] == exp["key"]).all()
    assert (got["anchor_ts"] == exp["anchor_ts"]).all()
    assert (got["n_events"] == exp["n_events"]).all()
    assert (got["first_event_id"] == exp["first_event_id"]).all()
    assert (got["avg_value"] - exp["avg_value"]).abs().max() < 1e-9


def test_anchor_windows_reference_semantics():
    """Unit-level parity with DispatcherFunction.cs:84-94: windows
    anchor at the first event, re-anchor at the triggering event, and
    gaps produce no empty windows."""
    us = 1_000_000
    rows = [
        (0, 1, "a", 1.0),
        (int(0.5 * us), 2, "b", 2.0),   # same window
        (1 * us, 3, "c", 3.0),          # exactly +1s → flush, re-anchor
        (int(5.5 * us), 4, "d", 4.0),   # >1s later → flush single, re-anchor (gap, no empties)
    ]
    out = anchor_windows_py(rows)
    assert [o["anchor_ts"] for o in out] == [0, 1 * us, int(5.5 * us)]
    assert [o["n_events"] for o in out] == [2, 1, 1]
    assert out[0]["avg_value"] == 1.5
    assert out[0]["first_event_id"] == 1


def test_streaming_matches_batch_twin(spark, tmp_path):
    """Batch/stream unification: the same windowed aggregation over
    chunked files (update mode, all data eventually processed) must
    equal the batch expression over the union of the chunks."""
    chunks = [
        [_ev(1, "2024-01-01 00:00:00.100"), _ev(2, "2024-01-01 00:00:00.600")],
        [_ev(3, "2024-01-01 00:00:02.100", uid=2), _ev(4, "2024-01-01 00:00:02.300")],
        [_ev(5, "2024-01-01 00:01:00.000", uid=2, value=50.0)],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)

    sink, _ = run_stream(windowed_stream(stream_events(spark, path)), "update")
    got = sink.toPandas()
    # update mode can emit a window several times; last emission wins
    got = got.sort_values(["key", "window_start", "n_events"]).groupby(
        ["key", "window_start"], as_index=False
    ).last()

    # batch twin: the same expression without readStream
    exp = windowed_stream(spark.read.parquet(path)).toPandas().sort_values(
        ["key", "window_start"], ignore_index=True
    )
    got = got.sort_values(["key", "window_start"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got[["key", "window_start", "n_events", "avg_value", "sum_value"]],
        exp[["key", "window_start", "n_events", "avg_value", "sum_value"]],
    )


def test_emit_json_stream_matches_batch_one_state_store(spark, tmp_path):
    """The paper's query as a watermarked append stream: every closed
    window emits the batch function's exact row, and the whole query
    keeps ONE stateful operator (a single StateStoreSave per trigger).
    A window spans two micro-batches; a far-later sentinel event in
    the last file closes the rest, and its own window stays open."""
    from eventstreamer_spark.operators.windowed import windowed_emit_json

    def ev(eid, ts, uid, value, props):
        return (eid, dt.datetime.fromisoformat(ts), uid, "click", value, props)

    chunks = [
        [
            ev(1, "2024-01-01 00:00:00.100", 1, 10.1234564, '{"k": 7}'),
            ev(2, "2024-01-01 00:00:00.900", 1, 3.5, '{"k": 7}'),
            ev(3, "2024-01-01 00:00:00.500", 2, 1.0, '{"k": "x"}'),
            ev(4, "2024-01-01 00:00:01.200", 1, 2.25, '{"k": 7}'),
        ],
        [
            ev(5, "2024-01-01 00:00:01.500", 1, 4.0, '{"k": 7}'),
            ev(6, "2024-01-01 00:00:01.700", 2, 1e-7, "{}"),
        ],
        [ev(7, "2024-01-01 00:00:02.300", 2, 5.5, '{"k": 1.25}')],
        [ev(8, "2024-01-01 00:01:00.000", 99, 0.0, '{"k": 1}')],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    stream = stream_events(spark, path).withWatermark("ts", "0 seconds")
    sink, progress = run_stream(windowed_emit_json(stream), nodata_batches=True)
    got = sorted(tuple(r) for r in sink.collect())

    batch = windowed_emit_json(spark.read.parquet(path))
    exp = sorted(tuple(r) for r in batch.collect() if not r.key.startswith("99:"))
    assert got == exp and len(exp) == 5
    stateful = [p for p in progress if p.get("stateOperators")]
    assert stateful and all(len(p["stateOperators"]) == 1 for p in stateful)


def test_watermark_drops_late_event(spark, tmp_path):
    """An event arriving after the watermark passed its window must be
    dropped (the reference would silently corrupt the old window —
    SURVEY.md §2.1; we encode the explicit policy).

    The watermark used in batch N derives from data through batch N-1
    (it lags one batch), so one extra batch propagates it before the
    late event arrives."""
    chunks = [
        [_ev(1, "2024-01-01 00:00:00.100")],
        # advances event time far past the first window
        [_ev(2, "2024-01-01 01:00:00.000")],
        # extra batch: watermark (max_ts - 10s) now in force
        [_ev(9, "2024-01-01 01:00:01.000")],
        # late event for the long-closed first window
        [_ev(3, "2024-01-01 00:00:00.200", value=999.0)],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    df = windowed_stream(stream_events(spark, path))
    q = df.writeStream.outputMode("update").format("memory").queryName("late_drop").start()
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    got = spark.table("late_drop").toPandas()
    first = got[got.window_start == "2024-01-01 00:00:00.000000"]
    # the late 999.0 event never re-emits the first window
    assert (first.n_events == 1).all()
    assert (first.avg_value == 10.0).all()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1


def test_push_time_stream_matches_batch_closed_windows(spark, tmp_path):
    """The stateful streaming operator must agree with the batch form
    on all CLOSED windows (the open tail stays in state)."""
    chunks = [
        [_ev(1, "2024-01-01 00:00:00.000"), _ev(2, "2024-01-01 00:00:00.400")],
        [_ev(3, "2024-01-01 00:00:01.500"), _ev(4, "2024-01-01 00:00:03.000")],
        [_ev(5, "2024-01-01 00:00:10.000")],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    stream = stream_events(spark, path).select("event_id", "ts", "user_id", "event_type", "value")
    sink, _ = run_stream(push_time_stream(stream))
    got = sink.toPandas().sort_values("anchor_ts", ignore_index=True)

    batch = (
        push_time_windows(spark.read.parquet(path))
        .toPandas()
        .sort_values("anchor_ts", ignore_index=True)
    )
    closed = batch.iloc[:-1]  # batch also emits the open tail; stream keeps it in state
    assert len(got) == len(closed)
    assert (got["anchor_ts"].values == closed["anchor_ts"].values).all()
    assert (got["n_events"].values == closed["n_events"].values).all()


def test_observe_metrics(spark, tmp_path):
    """O17 parity: observe() exposes per-batch ingest metrics."""
    chunks = [[_ev(1, "2024-01-01 00:00:00.100"), _ev(2, "2024-01-01 00:00:01.100")]]
    path = _write_chunks(spark, str(tmp_path), chunks)
    df = observed_windowed_stream(stream_events(spark, path))
    q = df.writeStream.outputMode("update").format("memory").queryName("obs_sink").start()
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    observed = [p["observedMetrics"].get("ingest") for p in progress if p.get("observedMetrics")]
    assert any(m and m["n_rows"] == 2 and m["n_null_values"] == 0 for m in observed)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with a time-bound condition: with all
    data processed, the emitted matches equal the batch join (Spark
    keeps both sides' state until watermarks pass the bound)."""
    left_chunks = [
        [_ev(1, "2024-01-01 00:00:01.000", uid=1, value=10.0)],
        [_ev(2, "2024-01-01 00:00:05.000", uid=2, value=20.0)],
    ]
    right_chunks = [
        [_ev(101, "2024-01-01 00:00:02.000", uid=1, value=1.0)],
        [_ev(102, "2024-01-01 00:01:30.000", uid=2, value=2.0)],  # outside 60s bound
    ]
    lpath = _write_chunks(spark, str(tmp_path / "l"), left_chunks)
    rpath = _write_chunks(spark, str(tmp_path / "r"), right_chunks)

    def join_expr(l, r):
        return l.join(
            r,
            (l.l_uid == r.r_uid)
            & (r.r_ts >= l.l_ts)
            & (r.r_ts <= l.l_ts + F.expr("INTERVAL 60 SECONDS")),
        ).select("l_uid", "l_event_id", "r_event_id")

    ls = (
        stream_events(spark, lpath)
        .withColumnRenamed("user_id", "l_uid")
        .withColumnRenamed("ts", "l_ts")
        .withColumnRenamed("event_id", "l_event_id")
        .select("l_uid", "l_ts", "l_event_id")
        .withWatermark("l_ts", "10 seconds")
    )
    rs = (
        stream_events(spark, rpath)
        .withColumnRenamed("user_id", "r_uid")
        .withColumnRenamed("ts", "r_ts")
        .withColumnRenamed("event_id", "r_event_id")
        .select("r_uid", "r_ts", "r_event_id")
        .withWatermark("r_ts", "10 seconds")
    )
    sink, _ = run_stream(join_expr(ls, rs))
    got = sorted((r.l_uid, r.l_event_id, r.r_event_id) for r in sink.collect())

    lb = (
        spark.read.parquet(lpath)
        .selectExpr("user_id AS l_uid", "ts AS l_ts", "event_id AS l_event_id")
    )
    rb = (
        spark.read.parquet(rpath)
        .selectExpr("user_id AS r_uid", "ts AS r_ts", "event_id AS r_event_id")
    )
    exp = sorted((r.l_uid, r.l_event_id, r.r_event_id) for r in join_expr(lb, rb).collect())
    assert got == exp
    assert got == [(1, 1, 101)]  # the 90s-late right event is outside the bound


def test_stream_join_state_is_evicted(spark, tmp_path):
    """stream_stream_join's own condition (stream_join_pairs) keeps
    bounded state: over four micro-batches two hours apart, each side's
    rows leave the join state once the watermark passes the one-hour
    bound, despite the ``a_event_id < b_event_id`` conjunct Spark cannot
    derive a constraint from — and exactly the four same-batch pairs
    are emitted."""
    from eventstreamer_spark.streaming.pipeline import stream_join_pairs

    chunks = [
        [_ev(2 * h + 1, f"2024-01-01 0{2 * h}:00:00"), _ev(2 * h + 2, f"2024-01-01 0{2 * h}:00:10")]
        for h in range(4)
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    sink, progress = run_stream(
        stream_join_pairs(stream_events(spark, path), stream_events(spark, path))
    )
    got = sorted((r.a_event_id, r.b_event_id) for r in sink.collect())
    assert got == [(1, 2), (3, 4), (5, 6), (7, 8)]
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert len(ops) == 4
    assert sum(op["numRowsRemoved"] for op in ops) > 0
    # 4 rows enter per batch (2 per side), yet the state stops growing:
    # it holds only what the last batches can still match
    assert [op["numRowsUpdated"] for op in ops] == [4, 4, 4, 4]
    assert ops[-1]["numRowsTotal"] <= ops[-2]["numRowsTotal"] < 16


def test_push_time_ttl_flushes_and_reclaims_idle_keys(spark, tmp_path):
    """The reference leaks idle per-key state forever (issue #9,
    README.md:79); the EventTimeTimeout variant must flush the open
    tail window and clear state once the watermark passes the 1-day
    TTL — no loss, no leak."""
    chunks = [
        # key 1: two events in one window, then silence
        [_ev(1, "2024-01-01 00:00:00.000"), _ev(2, "2024-01-01 00:00:00.300")],
        # key 2 keeps the stream alive and pushes the watermark > 1 day
        [_ev(3, "2024-01-03 00:00:00.000", uid=2)],
        [_ev(4, "2024-01-03 00:00:05.000", uid=2)],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    stream = stream_events(spark, path).select("event_id", "ts", "user_id", "event_type", "value")
    out = push_time_stream(stream, timeout="EventTimeTimeout")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_flush")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    got = spark.table("ttl_flush").toPandas()
    k1 = got[got.key == "1"]
    # key 1's only window never got pushed past by its own events —
    # the TTL timeout must have flushed it (no loss)
    assert len(k1) == 1
    assert k1.iloc[0].n_events == 2
    assert k1.iloc[0].first_event_id == 1
    # ... and RECLAIMED its state (no leak): after the final batch only
    # key 2's open tail remains in the state store
    final_rows = [
        so["numRowsTotal"]
        for p in progress
        for so in p.get("stateOperators", [])
        if so.get("numRowsTotal") is not None
    ]
    assert final_rows and final_rows[-1] == 1
    # the key-1 state row was removed by the timeout path, not by drift
    assert max(final_rows) == 2


def test_late_data_policy_drops_and_merges(spark):
    """The multi-batch late-data gate (stream_late_data_policy) must
    actually exercise watermark eviction: some straggler rows dropped
    by the late-event watermark (numRowsDroppedByWatermark > 0), some
    merged into still-open windows, and the batch replay of the same
    arithmetic (the DuckDB oracle's kept/emit rules, here in
    DataFrame form) must equal the streamed append output exactly."""
    from eventstreamer_spark.streaming.pipeline import (
        LATE_DELAY_S,
        LATE_RESIDUE,
        LATE_SPAN_S,
        LATE_TICK_S,
        _TS_C_SPARK,
        run_late_policy,
    )

    sink, progress = run_late_policy(spark, SF_DIR)
    streamed = sink.toPandas()

    dropped = [
        so.get("numRowsDroppedByWatermark")
        for p in progress
        for so in p.get("stateOperators", [])
        if so.get("numRowsDroppedByWatermark") is not None
    ]
    # eviction fired: the straggler batch lost rows to the watermark
    assert sum(dropped) > 0, f"no rows dropped by watermark: {progress}"

    # batch replay of the calibrated semantics (late filter = previous
    # batch's watermark vs the window end; emission = final watermark)
    e = load_events(spark, SF_DIR).select(
        "event_id",
        "user_id",
        "value",
        F.expr(_TS_C_SPARK).alias("ts_c"),
        (F.col("event_id") % LATE_SPAN_S).alias("sec"),
        (
            (F.col("event_id") % LATE_SPAN_S < LATE_TICK_S)
            & (F.col("event_id") % 7 == LATE_RESIDUE)
        ).alias("straggler"),
    )
    wm_late = (
        e.filter((F.col("sec") < LATE_TICK_S) & ~F.col("straggler"))
        .agg(F.max("ts_c"))
        .collect()[0][0]
    ) - dt.timedelta(seconds=LATE_DELAY_S)
    wm_final = e.agg(F.max("ts_c")).collect()[0][0] - dt.timedelta(
        seconds=LATE_DELAY_S
    )
    kept = e.filter(
        ~F.col("straggler")
        | (
            F.date_trunc("second", "ts_c") + F.expr("INTERVAL 1 SECOND")
            > F.lit(wm_late)
        )
    )
    import eventstreamer_spark.functions.numeric as N
    from eventstreamer_spark.functions.casting import fmt_ts

    expected = (
        kept.filter(
            F.date_trunc("second", "ts_c") + F.expr("INTERVAL 1 SECOND")
            <= F.lit(wm_final)
        )
        .groupBy(
            F.col("user_id").cast("string").alias("key"),
            fmt_ts(F.date_trunc("second", "ts_c")).alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            N.mean6_spark(F.col("value")).alias("avg_value"),
        )
        .toPandas()
    )
    # dropped rows really are missing: total events in the streamed
    # result is less than the raw corpus by at least the dropped count
    assert streamed.n_events.sum() <= e.count() - sum(dropped)
    # at least one straggler MERGED: some emitted window must contain
    # both a straggler and a non-straggler row — guaranteed if any
    # straggler survived; check survivors exist
    n_surviving = kept.filter(F.col("straggler")).count()
    assert n_surviving > 0

    key_cols = ["key", "window_start"]
    s = streamed.sort_values(key_cols).reset_index(drop=True)
    x = expected.sort_values(key_cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        s[sorted(s.columns)], x[sorted(x.columns)], check_dtype=False
    )


def test_foreachbatch_upsert_merge_properties(spark):
    """The version-swap upsert's merge must be (a) latest-wins by
    (ts, event_id) with counts accumulating across batches, and
    (b) idempotent on the latest columns when the same delta is merged
    twice — the property that makes a replayed micro-batch safe once
    the version swap discards the partially-applied write."""
    from eventstreamer_spark.streaming.pipeline import upsert_latest

    b1 = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 1), 7, "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 0, 0, 2), 7, "view", 2.0),
            (3, dt.datetime(2024, 1, 1, 0, 0, 1), 8, "click", 3.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    b2 = spark.createDataFrame(
        [
            # same ts as user 7's latest but LOWER event_id: must lose
            (0, dt.datetime(2024, 1, 1, 0, 0, 2), 7, "stale", 9.0),
            (4, dt.datetime(2024, 1, 1, 0, 0, 5), 8, "buy", 4.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    v1 = upsert_latest(None, b1)
    v2 = upsert_latest(v1, b2).orderBy("user_id").collect()
    assert [(r.user_id, r.last_event_id, r.last_type, r.n_events) for r in v2] == [
        (7, 2, "view", 3),
        (8, 4, "buy", 2),
    ]
    # idempotency of the latest columns: merging b2 again changes
    # nothing except the counter — which the version swap protects
    v2b = upsert_latest(upsert_latest(v1, b2), b2).orderBy("user_id").collect()
    assert [(r.user_id, r.last_event_id, r.last_type) for r in v2b] == [
        (7, 2, "view"),
        (8, 4, "buy"),
    ]


def test_foreachbatch_upsert_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch must not double-count n_events: the
    version swap is keyed by batch_id (read v{batch_id-1}, overwrite
    v{batch_id}), so re-delivering batch 1 — both the skip path
    (committed version present) and the rewrite path (partial write,
    no _SUCCESS) — leaves the target byte-identical."""
    import shutil

    from eventstreamer_spark.streaming.pipeline import upsert_version_step

    root = str(tmp_path / "target")
    (tmp_path / "target").mkdir()
    b0 = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 1), 7, "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 0, 0, 2), 8, "view", 2.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    b1 = spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 1, 0, 0, 9), 7, "buy", 3.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    upsert_version_step(spark, root, b0, 0)
    upsert_version_step(spark, root, b1, 1)

    def snapshot():
        rows = spark.read.parquet(f"{root}/v1").orderBy("user_id").collect()
        return [(r.user_id, r.last_event_id, r.n_events) for r in rows]

    want = [(7, 3, 2), (8, 2, 1)]
    assert snapshot() == want
    # replay path A: committed version exists → skipped, content unchanged
    upsert_version_step(spark, root, b1, 1)
    assert snapshot() == want
    # replay path B: crashed mid-write (no _SUCCESS) → rewritten from
    # v0, which the retirement policy must still have on disk
    import os as _os

    _os.remove(f"{root}/v1/_SUCCESS")
    assert _os.path.isdir(f"{root}/v0")
    upsert_version_step(spark, root, b1, 1)
    assert snapshot() == want
    # a counter-keyed sink would have read v1 here and produced (7,3,3)


def test_capped_sessions_both_break_rules(spark, tmp_path):
    """The capped sessionizer must break on BOTH rules: inactivity
    gap > 12 h, and running duration reaching 48 h even with no gap —
    crafted so each rule fires alone."""
    from eventstreamer_spark.streaming.stateful import q_capped_session_windows

    H = 3_600
    base = dt.datetime(2024, 3, 1)
    rows = []
    # user 1: steady 11 h cadence → only the duration cap can break it
    for i, h in enumerate((0, 11, 22, 33, 44, 55, 66)):
        rows.append((i, base + dt.timedelta(hours=h), 1, "t", 1.0, None))
    # user 2: 19 h gap → only the gap rule fires
    for j, h in enumerate((0, 1, 20)):
        rows.append((100 + j, base + dt.timedelta(hours=h), 2, "t", 1.0, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = sorted(
        (r.key, r.session_start_us, r.n_events, r.duration_us)
        for r in q_capped_session_windows(spark, str(tmp_path)).collect()
    )
    us = lambda h: int((base + dt.timedelta(hours=h)).timestamp() * 1_000_000)
    assert out == [
        ("1", us(0), 5, (44 - 0) * H * 1_000_000),   # capped at 55h-start
        ("1", us(55), 2, 11 * H * 1_000_000),
        ("2", us(0), 2, 1 * H * 1_000_000),           # gap break at 20h
        ("2", us(20), 1, 0),
    ]


def test_rocksdb_state_store_provider_works(spark, tmp_path):
    """The session default (production path) is the RocksDB state
    store; the gate queries override it with the in-memory provider
    for speed, so THIS test is what proves the RocksDB provider
    actually loads and produces identical results on this build."""
    from pyspark.sql import functions as F

    chunks = [
        [_ev(1, "2024-01-01 00:00:00.100"), _ev(2, "2024-01-01 00:00:00.600")],
        [_ev(3, "2024-01-01 00:00:02.100", uid=2)],
    ]
    path = _write_chunks(spark, str(tmp_path), chunks)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ckpt = str(tmp_path / "ckpt")
        q = (
            windowed_stream(stream_events(spark, path))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("rocksdb_sink")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    got = (
        spark.table("rocksdb_sink")
        .groupBy("key", "window_start")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("key", "window_start")
        .collect()
    )
    assert [(r.key, r.n_events) for r in got] == [("1", 2), ("2", 1)]


def test_stream_classifier_scores_match_batch(spark):
    """Online serving == offline scoring: the streaming scorer's
    per-doc (label, score, predicted) must be byte-identical to the
    batch classifier's — same training path, same literal weights,
    row-local fold == bucket-count dot product."""
    from eventstreamer_spark.operators.quality import (
        q_quality_classifier_scores,
        q_stream_classifier_scores,
    )
    from tests.conftest import SF_DIR

    batch = {
        r.doc_id: (r.label, r.score, r.predicted)
        for r in q_quality_classifier_scores(spark, SF_DIR).collect()
    }
    streamed = {
        r.doc_id: (r.label, r.score, r.predicted)
        for r in q_stream_classifier_scores(spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_countmin_cells_match_batch(spark):
    """The CMS mergeability claim, proven live: the 4x64 cell table a
    3-micro-batch streaming aggregation accumulates equals the batch
    sketch bit-for-bit (int64 SUM is associative across micro-batch
    boundaries). The query itself hash-checks the downstream report;
    this pins the STATE table equality directly."""
    from pyspark.sql import functions as F

    from eventstreamer_spark.operators.audit import (
        _cms_cells,
        _cms_stream_cells,
        _cms_tokcnt,
    )
    from tests.conftest import SF_DIR

    # the complete-mode cell table stream_countmin_topk probes
    stream_cells = {
        (r.i, r.b): r.c for r in _cms_stream_cells(spark, SF_DIR).collect()
    }
    batch_cells = {
        (r.i, r.b): r.c
        for r in _cms_cells(_cms_tokcnt(spark, SF_DIR)).collect()
    }
    assert stream_cells == batch_cells
    assert len(batch_cells) > 0


def test_stage_residue_chunks_merges_split_residues(spark):
    """ADVICE r12: a writer config that splits one bucket across part
    files (spark.sql.files.maxRecordsPerFile) must not hard-fail the
    drip replay — scratch.drip_stream coalesce(1)-rewrites the bucket
    to one chunk, so every bucket still arrives as ONE micro-batch."""
    from eventstreamer_spark.scratch import drip_stream
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(30)], "rid int, payload string"
    )
    batches: list[list[int]] = []
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try:
        with drip_stream(spark, df, F.col("rid") % 3, 3) as stream:
            run_stream(
                stream,
                foreach=lambda b, _id: batches.append(sorted(r.rid for r in b.collect())),
            )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    # one bucket per micro-batch, complete, in bucket order
    assert batches == [list(range(k, 30, 3)) for k in range(3)]


# The drip gates whose staging asserted one part file per bucket.
_SPLIT_WRITER_GATES = [
    "stream_late_data_policy",
    "stream_foreachbatch_upsert",
    "stream_static_ingest_dedup",
    "stream_countmin_topk",
    "stream_classifier_scores",
]


@pytest.mark.parametrize("name", _SPLIT_WRITER_GATES)
def test_drip_gates_match_oracle_under_split_writer(spark, duck, name):
    """With a writer that splits every bucket into 4-row files, each
    drip gate still replays one micro-batch per bucket and matches its
    DuckDB oracle."""
    import __spark_entry__ as contract
    from tests.conftest import assert_matches_oracle

    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try:
        df = contract.queries()[name](spark, SF_DIR)
        assert_matches_oracle(df, duck, contract.oracle_sql()[name])
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_checkpoint_restart_no_loss_no_dup(spark, tmp_path):
    """VERDICT r13 item 2: kill a stateful stream between micro-batches
    — with an OPEN window in keyed state — and resume from its
    checkpoint after more source files arrive. The resumed query must
    close that window with events from BOTH runs, the file sink must
    hold every closed window exactly once, and the whole output must
    equal the batch twin. This executes the no-loss/no-dup divergence
    from the reference's documented loss mode (the Redis drain throws
    and drops buffered messages on underflow,
    DispatcherFunction.cs:123-127, README.md:79) rather than merely
    citing Spark's checkpoint contract."""
    phase1 = [
        [_ev(1, "2024-01-01 00:00:00.000"), _ev(2, "2024-01-01 00:00:00.400")],
        [_ev(3, "2024-01-01 00:00:01.500")],
    ]
    # e4 lands INSIDE the window anchored at 1.5s before the stop; the
    # window closes only after restart, so its emission proves state
    # recovery (a state-less restart would re-anchor at 2.1s or emit
    # n_events=1); e5 pushes past it and stays in state as the tail.
    phase2 = phase1 + [
        [_ev(4, "2024-01-01 00:00:02.100")],
        [_ev(5, "2024-01-01 00:00:10.000")],
    ]
    path = _write_chunks(spark, str(tmp_path), phase1)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = stream_events(spark, path).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        return (
            push_time_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        _write_chunks(spark, str(tmp_path), phase2)  # arrives while down
        q2 = start()
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("anchor_ts", ignore_index=True)
    )
    batch = (
        push_time_windows(spark.read.parquet(path))
        .toPandas()
        .sort_values("anchor_ts", ignore_index=True)
    )
    closed = batch.iloc[:-1]  # the 10s anchor stays open in state
    assert got["anchor_ts"].is_unique  # no duplicate emissions
    assert len(got) == len(closed) == 2
    assert (got["anchor_ts"].values == closed["anchor_ts"].values).all()
    assert (got["n_events"].values == closed["n_events"].values).all()
    assert (got["avg_value"].values == closed["avg_value"].values).all()
    # the restart-spanning window carried both pre- and post-kill events
    assert got.iloc[1]["n_events"] == 2


def test_run_stream_failure_leaves_nothing_behind(spark, tmp_path):
    """When a micro-batch fails (a raising foreach function, a raising
    expression into the memory sink), run_stream re-raises and leaves
    no active stream and no temp view, with every gate conf restored
    (or still unset)."""
    from pyspark.errors import StreamingQueryException

    confs = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.minBatchesToRetain",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = [spark.conf.get(k, None) for k in confs]
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    path = _write_chunks(spark, str(tmp_path), [[_ev(1, "2024-01-01 00:00:00")]])

    def fail(batch_df, batch_id):
        raise RuntimeError("foreach failed")

    with pytest.raises(StreamingQueryException, match="foreach failed"):
        run_stream(stream_events(spark, path), foreach=fail)
    failing = stream_events(spark, path).select(F.raise_error(F.lit("sink failed")))
    with pytest.raises(StreamingQueryException, match="sink failed"):
        run_stream(failing)
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
    assert [spark.conf.get(k, None) for k in confs] == before
