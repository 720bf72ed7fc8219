"""Exact push-time parity: the reference's first-event-anchored
windows as a custom stateful operator.

Reference semantics (DispatcherFunction.cs:66-162, SURVEY.md §7):

- per player key, a ``start`` register initializes to the first
  event's timestamp (cs:76-80);
- events buffer in arrival order (cs:96-97);
- when an event is ≥ 1 s of *event time* past ``start``, one window
  [start, start + 1 s) flushes: per-field average of the buffered
  events inside it, output row carries first-event metadata
  (cs:84-94, 107-161); ``start`` re-anchors to the triggering
  event's timestamp (cs:90-92) — windows are data-driven, NOT
  epoch-aligned, and gaps produce no empty windows;
- events still buffered but before the new anchor (possible because
  the drain re-derives its own window, cs:130-137) are the
  reference's documented loss/underflow zone; we define the
  consistent behavior: every event belongs to exactly one window of
  its key's anchor chain.

Because the anchor chain is a per-key left-to-right recurrence, this
cannot be one SQL pass — it is exactly the shape for ``mapInPandas``
(batch) / ``applyInPandasWithState`` (stream): one shuffle on key,
then a walk per key. Each recurrence here (the anchor chain and the
capped sessionizer) has ONE step function that folds a sorted chunk
of a key's rows into an O(1) carried state: the batch form steps from
``None`` and flushes the tail, the stream form steps from the state
store. The anchor chain's state is ``(anchor, n, sum_micro,
first_eid, first_etype)`` — everything ``_emit`` reads of a window.

The pure-Python reference model (``anchor_windows_py``) and the
recursive-CTE oracles are the independent references the step
functions are tested against.

API note: Spark 4's ``transformWithStateInPandas`` (typed state +
timers) would fit the TTL flush more directly, but its Python worker
needs the ``google.protobuf`` runtime; ``applyInPandasWithState`` with
``EventTimeTimeout`` needs nothing beyond pyspark, and the step
functions port to either unchanged.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstreamer_spark.registry import query
from eventstreamer_spark.session import shuffle_partitions
from eventstreamer_spark.sources.tables import load_events
from eventstreamer_spark.streaming.pipeline import run_stream, stream_events_sf

WINDOW_US = 1_000_000  # 1 second of event time, as in DispatcherFunction.cs:87

OUT_SCHEMA = (
    "key string, anchor_ts long, n_events long, avg_value double, "
    "first_event_id long, first_event_type string"
)


def anchor_windows_py(rows: list[tuple[int, int, str, float]]) -> list[dict]:
    """Reference model: rows = (ts_us, event_id, event_type, value)
    sorted by (ts, event_id) for ONE key. Emits one record per closed
    anchor window; the tail window (never pushed past) also emits —
    the batch-mode completeness choice (the reference would leave it
    buffered forever, its key-leak bug #9)."""
    out: list[dict] = []
    anchor: int | None = None
    buf: list[tuple[int, int, str, float]] = []
    for ts, eid, etype, val in rows:
        if anchor is None:
            anchor = ts
        elif ts - anchor >= WINDOW_US:
            out.append(_emit(anchor, buf))
            buf = []
            anchor = ts
        buf.append((ts, eid, etype, val))
    if buf:
        out.append(_emit(anchor, buf))
    return out


def _emit(anchor: int, buf: list[tuple[int, int, str, float]]) -> dict:
    import math

    n = len(buf)
    # integer-scaled 6-decimal mean (functions.numeric pattern): the
    # micro-unit int sum is exact in any order, so the Python model,
    # the numpy walk, and the DuckDB oracle all derive the identical
    # double — no pairwise-vs-running summation drift.
    s = sum(math.floor(b[3] * 1000000.0 + 0.5) for b in buf)
    return {
        "anchor_ts": anchor,
        "n_events": n,
        "avg_value": math.floor(s / n + 0.5) / 1000000.0,
        "first_event_id": buf[0][1],
        "first_event_type": buf[0][2],
    }


def _columns(pdf: pd.DataFrame) -> tuple:
    """One key's rows in walk order (ts, event_id), as the arrays the
    step reads: ts_us, event_id, event_type and the value in micro-units
    (int64 sums are exact in any order — see _emit)."""
    ts = pdf["ts_us"].to_numpy(np.int64)
    eid = pdf["event_id"].to_numpy(np.int64)
    order = np.lexsort((eid, ts))  # stable: (ts, event_id) ties keep arrival order
    return (
        ts[order],
        eid[order],
        pdf["event_type"].to_numpy(object)[order],
        np.floor(pdf["value"].to_numpy(np.float64)[order] * 1000000.0 + 0.5).astype(np.int64),
    )


def anchor_step(
    state: tuple | None, ts, eid, etype, qv
) -> tuple[list[np.ndarray], tuple | None]:
    """One step of the anchor recurrence over a chunk of ONE key's rows
    (``_columns`` order), from carried state ``(anchor, n, sum_micro,
    first_eid, first_etype)`` or ``None``. Returns the windows the chunk
    closes, as the five columns of that state, plus the new state (the
    open window). The batch form steps once from ``None`` and emits the
    tail; the stream form steps from the state store every micro-batch.

    Rows with ``ts < anchor + WINDOW_US`` join the carried window,
    including rows older than the anchor that arrive in a later
    micro-batch (each event still lands in exactly one window). From
    the first row past it the walk jumps window-to-window with
    ``np.searchsorted`` (O(windows · log rows)) and sums each window
    with ``np.add.reduceat``. Folding any chunking through this step
    equals ``anchor_windows_py`` exactly (pinned by
    test_push_time_stream_chunking_invariant)."""
    idx = 0 if state is None else int(np.searchsorted(ts, state[0] + WINDOW_US))
    head, starts = idx, []
    while idx < len(ts):
        starts.append(idx)
        idx = int(np.searchsorted(ts, ts[idx] + WINDOW_US))
    s = np.array(starts, dtype=np.int64)
    wins = [
        ts[s],
        np.diff(np.append(s, len(ts))),
        np.add.reduceat(qv, s),
        eid[s],
        etype[s],
    ]
    if state is not None:
        anchor, n, total, first_eid, first_etype = state
        carried = (anchor, n + head, total + int(qv[:head].sum()), first_eid, first_etype)
        wins = [np.concatenate([[c], w]) for c, w in zip(carried, wins)]
    if not len(wins[0]):
        return wins, None
    return [w[:-1] for w in wins], tuple(w[-1:].tolist()[0] for w in wins)


def _windows(key: str, wins) -> pd.DataFrame:
    """OUT_SCHEMA rows for windows given as the five state columns; the
    mean is ``_emit``'s, from the micro-unit sum."""
    anchor, n, total, first_eid, first_etype = (np.asarray(w) for w in wins)
    return pd.DataFrame(
        {
            "key": key,
            "anchor_ts": anchor.astype(np.int64),
            "n_events": n.astype(np.int64),
            "avg_value": np.floor(total / n + 0.5) / 1000000.0,
            "first_event_id": first_eid.astype(np.int64),
            "first_event_type": first_etype.astype(object),
        }
    )


def _per_key(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch form: step from ``None``, then emit the open tail too."""
    closed, tail = anchor_step(None, *_columns(pdf))
    if tail is not None:
        closed = [np.append(w, t) for w, t in zip(closed, tail)]
    return _windows(key, closed)


def _by_key(per_key, pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Run ``per_key(key, rows)`` for every key in a key-co-located
    partition — the one partition driver of both batch recurrences.

    One Python/Arrow round-trip per *partition* instead of per *group*:
    with many small keys (1500 keys ~ 60 rows each at sf0.1),
    groupBy().applyInPandas pays per-group Arrow serialization that
    dominates runtime (measured 3.1s vs 0.6s for this form). Arrow may
    split a partition into several batches, so concat before grouping —
    partition memory is bounded by the repartition width, which is the
    knob to turn at 100 TB."""
    chunks = list(pdfs)
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True)
    for key, g in pdf.groupby("key", sort=False):
        yield per_key(key, g)


def _walk_keys(events: DataFrame, cols: tuple[str, ...], per_key, schema: str) -> DataFrame:
    """The one batch plan of both recurrences: select (key, ts_us,
    *cols), one hash shuffle on key to the session's shuffle width,
    then ``per_key(key, rows)`` for every key inside ``mapInPandas``."""
    prepared = events.select(
        F.col("user_id").cast("string").alias("key"),
        # cast: file sources may surface TIMESTAMP_NTZ, which unix_micros rejects
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        *cols,
    )
    width = shuffle_partitions(events.sparkSession)
    return prepared.repartition(width, "key").mapInPandas(partial(_by_key, per_key), schema)


def push_time_windows(events: DataFrame) -> DataFrame:
    """Batch form: one hash shuffle on key to co-locate each key's rows,
    then the linear anchor walk per key inside ``mapInPandas``. The time
    sort that the reference does per micro-batch (cs:35, O6) happens per
    key inside the worker."""
    return _walk_keys(events, ("event_id", "event_type", "value"), _per_key, OUT_SCHEMA)


# The anchor chain is a per-key left-to-right recurrence — not one
# relational pass, but still SQL-expressible as a recursive CTE that
# advances one row per key per iteration (the reach-style iteration,
# cf. _CLUSTERS_ORACLE in operators/dedup.py). Iteration count = max
# rows per key, so the oracle is cheap at gate scale while the Spark
# side stays the single-shuffle mapInPandas walk.
_PUSH_TIME_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_us(ts) AS ts_us,
         event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT key, rn, ts_us, event_id, event_type, value, ts_us AS anchor
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.key, e.rn, e.ts_us, e.event_id, e.event_type, e.value,
         CASE WHEN e.ts_us - w.anchor >= {WINDOW_US} THEN e.ts_us ELSE w.anchor END
  FROM walk w JOIN ev e ON e.key = w.key AND e.rn = w.rn + 1
)
SELECT key,
       anchor AS anchor_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) * 1.0 / count(*) + 0.5) / 1000000.0 AS avg_value,
       CAST(arg_min(event_id, rn) AS BIGINT) AS first_event_id,
       arg_min(event_type, rn) AS first_event_type
FROM walk
GROUP BY key, anchor
"""


@query("push_time_parity", oracle=_PUSH_TIME_ORACLE)
def q_push_time_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact data-driven windows (O8-O11) in batch form;
    verified in tests against the pure-Python reference model AND
    hash-checked against the recursive-CTE oracle (avg rounded to 6
    decimals here only — the raw operator keeps full precision)."""
    out = push_time_windows(load_events(spark, sf_dir))
    return out.withColumn("avg_value", F.round(F.col("avg_value"), 6))


# ---------------------------------------------------------------------------
# Streaming form: applyInPandasWithState
# ---------------------------------------------------------------------------


IDLE_TTL_US = 86_400_000_000  # 1 day, the reference's start-key TTL (cs:78)


def push_time_stream(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Streaming form of the same operator: per-key state holds the
    open window's ``(anchor, n, sum_micro, first_eid, first_etype)``
    across micro-batches; each micro-batch is one ``anchor_step`` from
    it, closed windows emit as they are pushed past.

    State TTL parity — and the fix for the reference's key leak
    (issue #9, README.md:79): with ``timeout="EventTimeTimeout"``, a
    key idle past the reference's 1-day TTL *flushes its open tail
    and clears its state* when the watermark passes anchor+TTL. The
    reference just leaked the Redis keys; here idle state is both
    emitted (no data loss) and reclaimed (no leak).
    """
    from pyspark.sql.streaming.state import GroupState

    use_ttl = timeout == "EventTimeTimeout"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if use_ttl and state.hasTimedOut:
            tail = tuple(state.get)
            state.remove()
            yield _windows(key[0], [[v] for v in tail])
            return
        carried = tuple(state.get) if state.exists else None
        closed, tail = anchor_step(carried, *_columns(pd.concat(pdfs, ignore_index=True)))
        state.update(tail)
        if use_ttl:
            # flush+reclaim once the watermark passes anchor + TTL
            state.setTimeoutTimestamp((tail[0] + IDLE_TTL_US) // 1000)
        yield _windows(key[0], closed)

    prepared = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    if use_ttl:  # EventTimeTimeout requires a watermarked input
        prepared = prepared.withWatermark("ts", "1 second")
    state_schema = (
        "anchor long, n long, sum_micro long, first_eid long, first_etype string"
    )
    return prepared.groupBy("key").applyInPandasWithState(
        fn, OUT_SCHEMA, state_schema, "append", timeout
    )


# The streaming operator's emitted surface is the batch walk minus
# each key's open tail (the max-anchor window, still buffered in
# state) — so the same recursive-CTE walk, with the per-key last
# window excluded, is an exact oracle for the REAL streaming
# execution.
_PUSH_STREAM_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_us(ts) AS ts_us,
         event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT key, rn, ts_us, event_id, event_type, value, ts_us AS anchor
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.key, e.rn, e.ts_us, e.event_id, e.event_type, e.value,
         CASE WHEN e.ts_us - w.anchor >= {WINDOW_US} THEN e.ts_us ELSE w.anchor END
  FROM walk w JOIN ev e ON e.key = w.key AND e.rn = w.rn + 1
),
wins AS (
  SELECT key,
         anchor AS anchor_ts,
         CAST(count(*) AS BIGINT) AS n_events,
         floor(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) * 1.0 / count(*) + 0.5) / 1000000.0 AS avg_value,
         CAST(arg_min(event_id, rn) AS BIGINT) AS first_event_id,
         arg_min(event_type, rn) AS first_event_type,
         max(anchor) OVER (PARTITION BY key) AS tail_anchor
  FROM walk
  GROUP BY key, anchor
)
SELECT key, anchor_ts, n_events, avg_value, first_event_id, first_event_type
FROM wins WHERE anchor_ts < tail_anchor
"""


@query("push_time_stream_parity", oracle=_PUSH_STREAM_ORACLE)
def q_push_time_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data-driven windows as a REAL stateful
    streaming execution: applyInPandasWithState over a readStream
    source, append mode — per-key open-window state (anchor, count,
    micro-unit sum, first event) lives across micro-batches, closed
    windows emit as they are pushed past, each key's open tail stays
    in state. The oracle replays the anchor recurrence and drops every
    key's final window, so the live streaming output is hash-checked —
    not just rows-counted — against an independent engine."""
    stream = stream_events_sf(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sink, _ = run_stream(push_time_stream(stream))
    return sink.withColumn("avg_value", F.round(F.col("avg_value"), 6))


# ---------------------------------------------------------------------------
# Capped-duration sessionization (gap + max-length sessions)
# ---------------------------------------------------------------------------

# Spark's session_window expresses inactivity-gap sessions only; real
# sessionization also CAPS session length (billing periods, abuse
# cutoffs, training-sequence limits). The break rule is a per-key
# left-to-right recurrence — same family as the push-time anchor walk
# above, so it reuses the single-shuffle mapInPandas plan and the
# recursive-CTE oracle pattern.

SESSION_GAP_US = 12 * 3600 * 1_000_000  # inactivity break: 12 h
SESSION_CAP_US = 48 * 3600 * 1_000_000  # duration break: 48 h


def advance_capped_chain(
    state: tuple | None,
    rows: Iterable[tuple[int, float]],
) -> tuple[list[dict], tuple | None]:
    """One step of the capped-session recurrence, shared by the batch
    and stream forms: fold (ts_us, value) rows — sorted by event time —
    into carried state ``(sess_start, last_ts, n, vsum_e6)`` — a
    session's first event IS its start, so no separate first_ts —
    returning (closed-session records, new state). Pure, so chunking
    invariance is property-testable exactly like the anchor chain.

    Cross-micro-batch ordering: a row whose ts precedes the carried
    last_ts arrived LATE (its position in the walk is already folded
    into closed sessions) — it is DROPPED rather than allowed to
    silently corrupt session boundaries; production would route it to
    a dead-letter audit like json_ingest_corrupt_audit. Within a
    batch the caller sorts, so drops only occur on genuine
    cross-batch disorder (the file-replay harness is in-order, so the
    oracle sees none)."""
    import math

    out: list[dict] = []
    sess, last, n, vsum = (None, None, 0, 0) if state is None else state
    for ts, val in rows:
        ts = int(ts)
        if last is not None and ts < last:
            continue  # late arrival from an already-walked position
        if sess is None:
            sess = ts
        elif ts - last > SESSION_GAP_US or ts - sess >= SESSION_CAP_US:
            out.append(_session(sess, last, n, vsum))
            sess, n, vsum = ts, 0, 0
        last = ts
        n += 1
        vsum += int(math.floor(val * 1_000_000 + 0.5))
    return out, None if sess is None else (sess, last, n, vsum)


def _session(sess: int, last: int, n: int, vsum: int) -> dict:
    # a session's first event IS its start, so duration is last - sess
    return {
        "session_start_us": int(sess),
        "n_events": int(n),
        "duration_us": int(last - sess),
        "sum_value": vsum / 1_000_000.0,
    }


def _capped_rows(pdf: pd.DataFrame) -> Iterator[tuple[int, float]]:
    """One key's (ts_us, value) rows in event-time order. Ties on ts
    need no further order: boundaries read only ts, and the micro-unit
    sum is order-free."""
    pdf = pdf.sort_values("ts_us", kind="mergesort")
    return zip(pdf["ts_us"].tolist(), pdf["value"].tolist())


CAPPED_SCHEMA = (
    "key string, session_start_us long, n_events long, duration_us long, "
    "sum_value double"
)
_CAPPED_COLS = ["key", "session_start_us", "n_events", "duration_us", "sum_value"]


def _capped_per_key(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch form: step from ``None``, then flush the open session."""
    closed, tail = advance_capped_chain(None, _capped_rows(pdf))
    if tail is not None:
        closed.append(_session(*tail))
    return pd.DataFrame([{"key": key, **r} for r in closed], columns=_CAPPED_COLS)


_CAPPED_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_us(ts) AS ts_us, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT key, rn, ts_us, value, ts_us AS sess_start
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.key, e.rn, e.ts_us, e.value,
         CASE WHEN e.ts_us - w.ts_us > {SESSION_GAP_US}
                OR e.ts_us - w.sess_start >= {SESSION_CAP_US}
              THEN e.ts_us ELSE w.sess_start END
  FROM walk w JOIN ev e ON e.key = w.key AND e.rn = w.rn + 1
)
SELECT key,
       sess_start AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
       sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sum_value
FROM walk
GROUP BY key, sess_start
"""


@query("capped_session_windows", oracle=_CAPPED_ORACLE)
def q_capped_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH break rules real systems need: a new
    session starts when the inactivity gap exceeds 12 h OR the running
    session would reach the 48 h duration cap — the second rule is
    what `session_window` cannot express (session start depends on
    previous break decisions, a left-to-right recurrence).

    Same plan as the push-time walk: ONE hash shuffle co-locates each
    key, then per key one `advance_capped_chain` step from `None` inside
    `mapInPandas` (Arrow per-partition, not per-group) and a flush of
    the open session. Value sums accumulate as micro-scaled int64 so
    the result is bit-identical to the recursive-CTE oracle in any
    execution order. At 100 TB the repartition width is the memory knob
    and per-key state is four scalars — `capped_session_stream` steps
    the same function from its state store."""
    return _walk_keys(load_events(spark, sf_dir), ("value",), _capped_per_key, CAPPED_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming form of the capped sessionizer (applyInPandasWithState)
# ---------------------------------------------------------------------------


def capped_session_stream(events: DataFrame) -> DataFrame:
    """Live capped-duration sessionization: per-key state carries the
    open session across micro-batches; sessions emit when the gap or
    cap rule closes them, the open tail stays in state — the streaming
    twin the batch query's docstring promises."""
    from pyspark.sql.streaming.state import GroupState

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        carried = tuple(state.get) if state.exists else None
        rows = _capped_rows(pd.concat(pdfs, ignore_index=True))
        closed, tail = advance_capped_chain(carried, rows)
        if tail is not None:
            state.update(tail)
        yield pd.DataFrame([{"key": key[0], **r} for r in closed], columns=_CAPPED_COLS)

    prepared = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    state_schema = "sess long, last long, n long, vsum long"
    return prepared.groupBy("key").applyInPandasWithState(
        fn, CAPPED_SCHEMA, state_schema, "append", "NoTimeout"
    )


_CAPPED_STREAM_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_us(ts) AS ts_us, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT key, rn, ts_us, value, ts_us AS sess_start
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.key, e.rn, e.ts_us, e.value,
         CASE WHEN e.ts_us - w.ts_us > {SESSION_GAP_US}
                OR e.ts_us - w.sess_start >= {SESSION_CAP_US}
              THEN e.ts_us ELSE w.sess_start END
  FROM walk w JOIN ev e ON e.key = w.key AND e.rn = w.rn + 1
),
sess AS (
  SELECT key,
         sess_start AS session_start_us,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
         sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sum_value,
         max(sess_start) OVER (PARTITION BY key) AS tail_start
  FROM walk
  GROUP BY key, sess_start
)
SELECT key, session_start_us, n_events, duration_us, sum_value
FROM sess WHERE session_start_us < tail_start
"""


@query("stream_capped_sessions", oracle=_CAPPED_STREAM_ORACLE)
def q_stream_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-duration sessionization as a REAL stateful streaming
    execution (applyInPandasWithState, append mode): per-key state
    carries (sess_start, last, n, Σvalue·1e6) across
    micro-batches; the gap (12 h) and cap (48 h) rules close sessions
    live, each key's open tail stays in state. The oracle replays the
    same recurrence and drops every key's final session, so the live
    streaming output hash-checks against an independent engine — the
    push_time_stream_parity pattern applied to the one session rule
    `session_window` cannot express."""
    stream = stream_events_sf(spark, sf_dir).select("ts", "user_id", "value")
    sink, _ = run_stream(capped_session_stream(stream))
    return sink
