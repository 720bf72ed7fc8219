"""Property-based tests (hypothesis) for the custom algorithm cores.

These run pure-Python models — the same models the Spark operators
are tested against — so thousands of generated cases cost no JVM time.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eventstreamer_spark.streaming.stateful import WINDOW_US, anchor_windows_py

# ---------------------------------------------------------------------------
# anchor window chain (reference push-time semantics, O8-O11)
# ---------------------------------------------------------------------------

events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20_000_000),  # ts_us, ~20s span
        st.integers(min_value=0, max_value=10**6),  # event_id
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    min_size=0,
    max_size=200,
)


@given(events)
@settings(max_examples=300, deadline=None)
def test_anchor_windows_partition_events(rows):
    """Every event lands in exactly one window; counts are conserved."""
    rows = sorted(set(rows))
    out = anchor_windows_py(rows)
    assert sum(o["n_events"] for o in out) == len(rows)


@given(events)
@settings(max_examples=300, deadline=None)
def test_anchor_windows_anchor_chain_properties(rows):
    """Anchors are event timestamps, strictly ≥1 s apart, and every
    event's timestamp is < its window's anchor + 1 s EXCEPT the
    window-closing re-anchor rule: an event belongs to the window
    whose anchor is the latest anchor ≤ its ts."""
    rows = sorted(set(rows))
    out = anchor_windows_py(rows)
    ts_set = {r[0] for r in rows}
    anchors = [o["anchor_ts"] for o in out]
    assert all(a in ts_set for a in anchors)
    for a, b in zip(anchors, anchors[1:]):
        assert b - a >= WINDOW_US
    # first-event metadata: the first event of each window is the
    # earliest (ts, id) among its members — implied by input sort
    if out:
        assert out[0]["anchor_ts"] == rows[0][0]


# ---------------------------------------------------------------------------
# AllPairs prefix-filter guarantee (ngram_jaccard_neardup's candidate step)
# ---------------------------------------------------------------------------

doc_sets = st.lists(
    st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=40),
    min_size=2,
    max_size=12,
)


def _prefix(sh: list, t: float) -> list:
    """Mirror of the query's prefix: n - ceil(t*n) + 1 smallest under
    the global order."""
    n = len(sh)
    return sh[: n - math.ceil(t * n) + 1]


@given(doc_sets, st.sampled_from([0.5, 0.7, 0.8, 0.9]))
@settings(max_examples=300, deadline=None)
def test_prefix_filter_never_loses_a_pair(docs, t):
    """For every pair with jaccard ≥ t, the prefixes (under any
    consistent global order — here df-ascending with value tie-break,
    exactly like the Spark query) must intersect."""
    # global order: document frequency ascending, then value
    df: dict[int, int] = {}
    for d in docs:
        for s in d:
            df[s] = df.get(s, 0) + 1
    order = lambda s: (df[s], s)
    ranked = [sorted(d, key=order) for d in docs]

    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            jac = len(a & b) / len(a | b)
            if jac >= t:
                pa, pb = set(_prefix(ranked[i], t)), set(_prefix(ranked[j], t))
                assert pa & pb, (
                    f"prefix filter lost pair jac={jac:.3f} t={t}: {sorted(a)} {sorted(b)}"
                )


# ---------------------------------------------------------------------------
# safe_double parity model (O13)
# ---------------------------------------------------------------------------


def test_safe_double_nan_inf_parity(spark):
    """C# decimal.TryParse has no NaN/Infinity — those strings must
    average as 0, like any other unparseable input."""
    from pyspark.sql import functions as F

    from eventstreamer_spark.functions.casting import safe_double

    df = spark.createDataFrame(
        [("NaN",), ("Infinity",), ("-Infinity",), ("10",), ("junk",)], "v string"
    )
    got = df.select(safe_double("v").alias("d")).agg(F.sum("d").alias("s")).collect()[0].s
    assert got == 10.0


# ---------------------------------------------------------------------------
# push-time step (anchor_step) == python model under ANY micro-batch chunking
# ---------------------------------------------------------------------------


def _fold_push_time(chunks):
    """Fold chunks of one key's (ts_us, event_id, event_type, value)
    rows through the shared step, as the stream form does; return the
    closed windows (records) and every carried state in order."""
    import pandas as pd

    from eventstreamer_spark.streaming.stateful import _columns, _windows, anchor_step

    state, closed, states = None, [], []
    for chunk in chunks:
        pdf = pd.DataFrame(
            chunk, columns=["ts_us", "event_id", "event_type", "value"]
        ).astype({"ts_us": "int64", "event_id": "int64", "value": "float64"})
        wins, state = anchor_step(state, *_columns(pdf))
        closed.extend(_windows("k", wins).drop(columns="key").to_dict("records"))
        states.append(state)
    return closed, states


def _chunked(rows, cut_points):
    cuts = sorted({c for c in cut_points if c < len(rows)})
    chunks, prev = [], 0
    for c in cuts + [len(rows)]:
        chunks.append(rows[prev:c])
        prev = c
    return chunks


@given(events, st.lists(st.integers(min_value=0, max_value=200), max_size=6))
@settings(max_examples=300, deadline=None)
def test_push_time_stream_chunking_invariant(rows, cut_points):
    """Folding the event sequence through the shared step (anchor_step)
    in ANY chunking yields exactly the batch model's windows: the
    closed windows stream out, and flushing the final carried state
    equals the batch model's tail — micro-batch boundaries cannot
    change results."""
    from eventstreamer_spark.streaming.stateful import _windows

    rows = sorted(set(rows))
    streamed, states = _fold_push_time(_chunked(rows, cut_points))
    if states[-1] is not None:  # flush the open tail, as the batch form does
        tail = _windows("k", [[v] for v in states[-1]])
        streamed.extend(tail.drop(columns="key").to_dict("records"))
    assert streamed == anchor_windows_py(rows)


@given(events, st.lists(st.integers(min_value=0, max_value=200), max_size=6))
@settings(max_examples=200, deadline=None)
def test_push_time_state_is_five_scalars(rows, cut_points):
    """The carried state is always None or the five scalars (anchor, n,
    sum_micro, first_eid, first_etype) — never the window's rows —
    also when chunks arrive out of event-time order, and every folded
    row is counted exactly once (closed windows + the open one)."""
    rows = list(dict.fromkeys(rows))  # arrival order: chunks unsorted w.r.t. each other
    chunks = [sorted(c) for c in _chunked(rows, cut_points)]
    closed, states = _fold_push_time(chunks)
    for state in states:
        assert state is None or (
            len(state) == 5
            and all(type(v) is int for v in state[:4])
            and type(state[4]) is str
        ), state
    open_n = states[-1][1] if states[-1] is not None else 0
    assert sum(w["n_events"] for w in closed) + open_n == len(rows)


def test_push_time_late_row_joins_open_window():
    """Cross-chunk late row: chunks [0 s] [1.5 s] [0.5 s] close the 0 s
    window with its one event, and the 0.5 s straggler joins the window
    open at 1.5 s (it is < anchor + 1 s), which then holds two."""
    us = 1_000_000
    closed, states = _fold_push_time(
        [[(0, 1, "a", 1.0)], [(int(1.5 * us), 2, "b", 2.0)], [(int(0.5 * us), 3, "c", 4.0)]]
    )
    assert [(w["anchor_ts"], w["n_events"]) for w in closed] == [(0, 1)]
    assert states[-1] == (int(1.5 * us), 2, 6_000_000, 2, "b")


@given(events)
@settings(max_examples=300, deadline=None)
def test_push_time_vectorized_matches_model(rows):
    """The batch form (`stateful._per_key`: one step from None plus the
    tail) equals `anchor_windows_py` exactly — boundaries, counts,
    first-event picks and avg_value (micro-unit int sums make the mean
    order-free), including duplicate timestamps, empty input, and the
    open-tail window."""
    import pandas as pd

    from eventstreamer_spark.streaming.stateful import _per_key

    rows = sorted(rows)
    pdf = pd.DataFrame(
        rows, columns=["ts_us", "event_id", "event_type", "value"]
    ).astype({"ts_us": "int64", "event_id": "int64", "value": "float64"})
    got = _per_key("k", pdf)
    assert (got["key"] == "k").all()
    assert got.drop(columns="key").to_dict("records") == anchor_windows_py(rows)


# ---------------------------------------------------------------------------
# connected components (dedup cluster resolution)
# ---------------------------------------------------------------------------

_cc_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    ),
    min_size=0,
    max_size=40,
)


def _union_find_components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference model: min-label components via union-find."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}


@given(_cc_edges)
@settings(max_examples=12, deadline=None)
def test_connected_components_matches_union_find(spark, edges):
    """The pointer-jump connected_components operator (dedup cluster
    resolution) must compute exactly the min-label components a
    union-find produces, for arbitrary graphs — including self-loops,
    parallel edges, chains longer than one pointer-jump round, and
    isolated vertices."""
    from pyspark.sql import functions as F

    from eventstreamer_spark.operators.dedup import connected_components

    n = 25
    vertices = spark.range(n).select(F.col("id").alias("doc_id"))
    if edges:
        e = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
        )
    else:
        e = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, e).collect()
    }
    assert got == _union_find_components(n, edges)


def test_bounded_memo_evicts_oldest():
    """The session-artifact store is bounded: inserting past maxsize
    evicts the oldest key and fires the eviction hook, so a long-lived
    service scanning many sf dirs cannot leak driver memory or temp
    dirs."""
    from eventstreamer_spark.memo import BoundedMemo

    evicted = []
    m = BoundedMemo(maxsize=3, on_evict=lambda k, v: evicted.append((k, v)))
    for i in range(5):
        m[f"k{i}"] = i
    assert len(m) == 3
    assert list(m) == ["k2", "k3", "k4"]
    assert evicted == [("k0", 0), ("k1", 1)]
    # re-setting an existing key must not evict
    m["k3"] = 33
    assert len(m) == 3 and m["k3"] == 33 and len(evicted) == 2
    # the live store is a bounded instance with the releasing hook
    from eventstreamer_spark import memo

    assert isinstance(memo._STORE, BoundedMemo)
    assert memo._STORE.maxsize == memo.STORE_SIZE
    assert memo._STORE._on_evict is memo._release


def test_residual_artifacts_memo_builds_once(spark):
    """Consumer-side residual-chain memo (VERDICT r11 item 1): the
    second invocation in one session must return the SAME eagerly
    checkpointed handles — zero residual build jobs — and each handle's
    optimized plan must be a pure checkpoint scan (LogicalRDD with no
    build operators), so every consumer read is a materialized-rows
    scan, never a retrain."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.audit import residual_artifacts_memo

    sf_dir = "/root/testdata/sf0.001"
    memo.drop(sf_dir, "residual_artifacts")
    sp1, fv1 = residual_artifacts_memo(spark, sf_dir)
    sp2, fv2 = residual_artifacts_memo(spark, sf_dir)
    assert sp1 is sp2 and fv1 is fv2
    for df in (sp1, fv1):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # one-line plan: the checkpointed RDD, no joins/aggregates left
        assert plan.strip().startswith("LogicalRDD"), plan
        assert "Join" not in plan and "Aggregate" not in plan, plan
    # the tagged pair set carries the probe-rank column the level cuts
    # filter on, and rows are actually materialized
    assert "probe_rn" in sp1.columns
    assert sp1.count() > 0 and fv1.count() > 0


def _record_checkpoints(m, spark) -> list:
    """Patch DataFrame.localCheckpoint through the monkeypatch context
    ``m`` to record every checkpoint made while it is active."""
    cls = type(spark.range(1))
    made = []
    local_checkpoint = cls.localCheckpoint

    def recorded(df, eager=True):
        made.append(local_checkpoint(df, eager))
        return made[-1]

    m.setattr(cls, "localCheckpoint", recorded)
    return made


def test_pairs_memo_checkpoints_once(spark, monkeypatch):
    """The near-dup pair memo (r14 optimization) holds eagerly
    localCheckpointed handles, not collected rows: the second call per
    (app, sf_dir, kind) must return the SAME handle, its optimized
    plan must be a pure checkpoint scan (LogicalRDD — no LSH rebuild,
    and no per-call applySchemaToPythonRDD re-ship of 411k simhash
    rows, the measured 1.5-2 s/consumer cost of the old row memo), and
    the store must record the build's checkpoints, the handle among
    them, as the ones its eviction hook frees."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.dedup import simhash_pairs_for

    sf_dir = "/root/testdata/sf0.001"
    key = ("pairs:simhash", spark.sparkContext.applicationId, sf_dir)
    memo.drop(sf_dir, "pairs:simhash")
    with monkeypatch.context() as m:
        made = _record_checkpoints(m, spark)
        p1 = simhash_pairs_for(spark, sf_dir)
    p2 = simhash_pairs_for(spark, sf_dir)
    assert p1 is p2
    plan = p1._jdf.queryExecution().optimizedPlan().toString()
    assert plan.strip().startswith("LogicalRDD"), plan
    assert "Join" not in plan and "Aggregate" not in plan, plan
    # content pin, not just no-exception: an empty/corrupted checkpoint
    # would return zero pairs (ADVICE r14)
    assert p1.count() > 0
    assert memo._STORE[key].checkpoints == tuple(made) and p1 in made


def test_f64_matmul_exact_at_quantization_bound():
    """The r15 kernel switch (int64 matmul → float64 BLAS) is lossless
    BY BOUND: quantized unit-vector components satisfy |c| <= 1e6, so
    every product <= 1e12 and every partial sum <= 64·1e12 = 6.4e13 —
    below 2^53, where float64 arithmetic on integers is exact
    regardless of summation order. Pinned here at the adversarial
    all-±1e6 corner, not just random draws."""
    import numpy as np

    rng = np.random.RandomState(7)
    for n, k in [(257, 13), (64, 64)]:
        a = rng.randint(-(10**6), 10**6 + 1, size=(n, 64)).astype("int64")
        a[0], a[1] = 10**6, -(10**6)  # exact-bound rows
        c = rng.randint(-(10**6), 10**6 + 1, size=(k, 64)).astype("int64")
        c[0], c[-1] = 10**6, -(10**6)
        exact = a @ c.T
        fast = a.astype("float64") @ c.T.astype("float64")
        assert float(np.abs(fast).max()) <= 64e12
        # every f64 cell IS its int64 twin (not merely close)
        assert np.array_equal(fast, exact.astype("float64"))
        assert np.array_equal(np.rint(fast).astype("int64"), exact)


def _openblas_threads(lib: str, set_to: int | None = None) -> int:
    """The thread count of the OpenBLAS copy at ``lib``, after setting it
    to ``set_to`` when given."""
    import ctypes

    h = ctypes.CDLL(lib)
    suffix = "64_" if hasattr(h, "openblas_get_num_threads64_") else ""
    if set_to is not None:
        getattr(h, f"openblas_set_num_threads{suffix}")(set_to)
    return getattr(h, f"openblas_get_num_threads{suffix}")()


def test_blas_pin_covers_every_copy(monkeypatch, tmp_path):
    """Every mapped OpenBLAS copy is pinned to one thread, not only the
    first one found, and the latch is set only once a pin succeeded."""
    import ctypes
    import shutil

    import numpy  # noqa: F401 — maps numpy's OpenBLAS

    from eventstreamer_spark.operators import similarity as S

    monkeypatch.setattr(S, "_BLAS_PINNED", False)
    monkeypatch.setattr(S, "_mapped_openblas", set)
    S._blas_single_thread()
    assert S._BLAS_PINNED is False  # no library found: nothing latched
    monkeypatch.undo()

    # a second copy of the library, mapped under another path
    found = S._mapped_openblas()
    second = shutil.copy(min(found), tmp_path / "libopenblas_second.so")
    ctypes.CDLL(second)
    libs = S._mapped_openblas()
    assert len(libs) == len(found) + 1
    before = {lib: _openblas_threads(lib) for lib in libs}
    monkeypatch.setattr(S, "_BLAS_PINNED", False)
    try:
        for lib in libs:
            _openblas_threads(lib, set_to=2)
        S._blas_single_thread()
        assert S._BLAS_PINNED is True
        assert {lib: _openblas_threads(lib) for lib in libs} == dict.fromkeys(libs, 1)
    finally:
        for lib, n in before.items():  # leave this process's BLAS as found
            _openblas_threads(lib, set_to=n)


@pytest.mark.parametrize(
    "raw, want",
    [(None, 7), ("3", 3), ("abc", None), ("0", None), ("-3", None), ("", None)],
)
def test_env_int(monkeypatch, raw, want):
    """session.env_int: unset gives the default; anything but an integer
    >= 1 raises ValueError naming the variable."""
    from eventstreamer_spark.session import env_int

    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raw)
    if want is None:
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            env_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 7)
    else:
        assert env_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 7) == want


@pytest.mark.parametrize("raw", ["abc", "0", ""])
def test_shuffle_partitions_env_rejected_before_conf(spark, monkeypatch, raw):
    """A bad $SPARK_GRAFT_SHUFFLE_PARTITIONS fails in configure(),
    naming the variable, before any session conf is set."""
    from eventstreamer_spark.session import configure

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raw)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            configure(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_max_partition_bytes_env_is_a_byte_string(spark, monkeypatch):
    """$SPARK_GRAFT_MAX_PARTITION_BYTES stays a byte string: Spark takes
    "16m" and rejects "abc" itself when configure() sets it."""
    from pyspark.errors import IllegalArgumentException

    from eventstreamer_spark.session import configure

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    try:
        monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
        configure(spark)
        assert spark.conf.get(key) == "16m"
        monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "abc")
        with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
            configure(spark)
    finally:
        spark.conf.set(key, before)


def test_bounded_memo_lru_get_refresh():
    """ADVICE r14 (medium): get() must refresh recency so an entry
    touched by the current invocation cannot be evicted by that same
    invocation's inserts."""
    from eventstreamer_spark.memo import BoundedMemo

    evicted = []
    m = BoundedMemo(maxsize=3, on_evict=lambda k, v: evicted.append(k))
    m["a"], m["b"], m["c"] = 1, 2, 3
    assert m.get("a") == 1  # touch: a is now most-recent
    m["d"] = 4  # at capacity: evicts the LRU entry, which must be b
    assert evicted == ["b"]
    assert "a" in m and "c" in m and "d" in m


def test_bounded_memo_every_removal_path_runs_hook():
    """ADVICE r14 (low): pop / popitem / __delitem__ / clear must all
    invoke on_evict so owned resources are freed on every removal
    path, not just capacity eviction."""
    from eventstreamer_spark.memo import BoundedMemo

    evicted = []
    m = BoundedMemo(maxsize=8, on_evict=lambda k, v: evicted.append((k, v)))
    m.update({"a": 1, "b": 2, "c": 3, "d": 4})
    assert m.pop("a") == 1
    assert m.pop("zz", None) is None  # miss: no hook
    del m["b"]
    m.popitem()
    m.clear()
    assert sorted(k for k, _ in evicted) == ["a", "b", "c", "d"]
    assert len(m) == 0


def test_pairs_memo_handle_survives_same_invocation_inserts(spark):
    """The ADVICE r14 repro, now fixed by LRU-on-get: a consumer that
    fetches one pair handle and then triggers later memo inserts (the
    dedup_method_agreement shape) must still be able to evaluate the
    held handle — the get refreshed its recency, so the inserts evict
    other entries first."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.dedup import simhash_pairs_for

    sf_dir = "/root/testdata/sf0.001"
    fill_dir = sf_dir + "#fill"
    memo.drop(sf_dir, "pairs:simhash")
    h = simhash_pairs_for(spark, sf_dir)
    # age the held entry to LRU position, then fill the store to force
    # capacity evictions while the handle is live
    for i in range(memo.STORE_SIZE - 1):
        memo.artifact(spark, fill_dir, f"fill:{i}", lambda: i)
    h2 = simhash_pairs_for(spark, sf_dir)  # get: refreshes recency
    assert h2 is h
    for name in ("overflow-1", "overflow-2"):
        memo.artifact(
            spark, fill_dir, name, lambda: spark.range(1).localCheckpoint(eager=True)
        )
    # the held handle must still evaluate: without LRU-on-get the
    # overflow inserts evicted it and this scan died with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    assert h.count() > 0
    # cleanup: drop the fillers so later tests see a sane store
    memo.drop(fill_dir)


def test_memo_getter_rebuilds_after_out_of_band_free(spark):
    """VERDICT r14 item 7 (assert-and-rebuild): when a memoized
    checkpoint's blocks are freed out-of-band, the getter must treat
    the stale hit as a miss and rebuild — re-consuming after an
    eviction can never throw."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.memo import free_local_checkpoint
    from eventstreamer_spark.operators.dedup import simhash_pairs_for

    sf_dir = "/root/testdata/sf0.001"
    memo.drop(sf_dir, "pairs:simhash")
    h = simhash_pairs_for(spark, sf_dir)
    n = h.count()
    free_local_checkpoint(h)  # out-of-band: the store still holds the key
    h2 = simhash_pairs_for(spark, sf_dir)
    assert h2 is not h  # stale hit detected, rebuilt
    assert h2.count() == n  # and the rebuild evaluates cleanly


def test_scan_memo_invalidates_on_write(tmp_path, spark):
    """VERDICT r14 item 4: the resolved-scan memo pins the FileIndex,
    so an in-session writer to a canonical table path MUST call
    invalidate_scan afterwards — this pins both the hazard (stale
    handle reuse) and the remedy."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.sources.tables import invalidate_scan, load_table

    sf_dir = str(tmp_path)
    spark.range(5).write.mode("overwrite").parquet(f"{sf_dir}/nation.parquet")
    d1 = load_table(spark, sf_dir, "nation")
    assert d1.count() == 5
    # overwrite the canonical path in-session
    spark.range(7).write.mode("overwrite").parquet(f"{sf_dir}/nation.parquet")
    # the hazard: the store still returns the stale resolved handle
    assert load_table(spark, sf_dir, "nation") is d1
    invalidate_scan(sf_dir, "nation")
    d2 = load_table(spark, sf_dir, "nation")
    assert d2 is not d1
    assert d2.count() == 7
    invalidate_scan(sf_dir)
    assert not any(k[2] == sf_dir for k in memo._STORE)


def _reference_bpe(word_freqs, n_merges):
    """Textbook BPE learner: weighted adjacent-pair counts over the
    vocab, (count DESC, lhs, rhs) tie-break, greedy left-to-right
    merge application."""
    segs = {w: tuple(w) for w in word_freqs}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for w, f in word_freqs.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def test_bpe_merges_match_reference_implementation(spark, tmp_path):
    """The replace-based distributed BPE must equal textbook BPE —
    including greedy application on odd same-symbol runs ('aaaaa' →
    aa aa a, NOT aa a aa) and merged-symbol reuse — on a corpus
    crafted to hit those edges."""
    from eventstreamer_spark.operators.text import (
        BPE_MERGES,
        q_bpe_learned_merges,
    )

    words = (
        ["aaaaa"] * 9        # odd same-symbol run
        + ["ababab"] * 7     # alternating overlap
        + ["banana"] * 6
        + ["bandana"] * 5
        + ["aaaa"] * 4       # even run
        + ["abc"] * 3
    )
    docs = [(i, " ".join(words), "en", "s", 1) for i in range(2)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in q_bpe_learned_merges(spark, str(tmp_path))
        .orderBy("merge_rank")
        .collect()
    ]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 2  # two identical docs
    assert got == _reference_bpe(freqs, BPE_MERGES)


# ---------------------------------------------------------------------------
# capped-session streaming fold == batch model under ANY chunking
# ---------------------------------------------------------------------------

# ts spans must straddle the 12h gap / 48h cap constants to exercise
# both break rules: hours-scale integer timestamps.
_capped_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200 * 3_600_000_000),  # ts_us, ~200h
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    min_size=0,
    max_size=120,
)


def _capped_sessions_model(rows):
    """Independent reference model of the gap+cap rule."""
    import math

    from eventstreamer_spark.streaming.stateful import (
        SESSION_CAP_US,
        SESSION_GAP_US,
    )

    rows = sorted(rows)
    out, cur = [], []
    for ts, val in rows:
        if cur and (ts - cur[-1][0] > SESSION_GAP_US or ts - cur[0][0] >= SESSION_CAP_US):
            out.append(cur)
            cur = []
        cur.append((ts, val))
    if cur:
        out.append(cur)
    recs = []
    for sess in out:
        vsum = sum(int(math.floor(v * 1_000_000 + 0.5)) for _, v in sess)
        recs.append(
            {
                "session_start_us": sess[0][0],
                "n_events": len(sess),
                "duration_us": sess[-1][0] - sess[0][0],
                "sum_value": vsum / 1_000_000.0,
            }
        )
    return recs


@given(_capped_rows, st.lists(st.integers(min_value=0, max_value=120), max_size=6))
@settings(max_examples=300, deadline=None)
def test_capped_session_chunking_invariant(rows, cut_points):
    """Folding events through the streaming capped-session core
    (advance_capped_chain) in ANY micro-batch chunking equals the
    independent batch model — closed sessions stream out, flushing the
    open-tail state yields the model's last session."""
    from eventstreamer_spark.streaming.stateful import advance_capped_chain

    rows = sorted({(t, round(v, 3)) for t, v in rows})
    cuts = sorted({c for c in cut_points if c < len(rows)})
    chunks, prev = [], 0
    for c in cuts + [len(rows)]:
        chunks.append(rows[prev:c])
        prev = c

    state, streamed = None, []
    for chunk in chunks:
        closed, state = advance_capped_chain(state, chunk)
        streamed.extend(closed)
    if state is not None:  # flush the open tail
        sess, last, n, vsum = state
        streamed.append(
            {
                "session_start_us": sess,
                "n_events": n,
                "duration_us": last - sess,
                "sum_value": vsum / 1_000_000.0,
            }
        )
    assert streamed == _capped_sessions_model(rows)


def test_bounded_memo_update_setdefault_respect_bound():
    """update()/setdefault() must route through the bound — a future
    caller using them cannot reintroduce unbounded growth."""
    from eventstreamer_spark.memo import BoundedMemo

    evicted = []
    m = BoundedMemo(maxsize=2, on_evict=lambda k, v: evicted.append(k))
    m.update({"a": 1, "b": 2, "c": 3})
    assert len(m) == 2 and "a" not in m and evicted == ["a"]
    m.setdefault("d", 4)
    assert len(m) == 2 and list(m) == ["c", "d"] and evicted == ["a", "b"]
    assert m.setdefault("d", 99) == 4  # existing key: no insert, no evict


def test_bpe_merge_exhaustion_oracle_parity(spark, tmp_path):
    """A corpus that supports fewer than BPE_MERGES merges must not
    NULL-cascade the apply oracle: both engines stop merging when no
    pair remains and report identical corpus compression."""
    import duckdb

    from eventstreamer_spark.operators.text import (
        q_bpe_apply_segmentation,
        q_bpe_learned_merges,
    )
    from eventstreamer_spark.registry import REGISTRY

    # vocabulary of one two-char word: exactly ONE learnable merge
    docs = [(i, "ab ab ab", "en", "s", 1) for i in range(3)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    merges = q_bpe_learned_merges(spark, str(tmp_path)).collect()
    assert [(r.merge_rank, r.merged) for r in merges] == [(1, "ab")]

    got = q_bpe_apply_segmentation(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    want = con.sql(REGISTRY["bpe_apply_segmentation"].oracle).df().iloc[0]
    con.close()
    assert got.n_word_types == want.n_word_types == 1
    # 'ab' fully merged: 9 occurrences × 1 symbol each
    assert got.total_symbols == want.total_symbols == 9
    assert got.n_types_fully_merged == want.n_types_fully_merged == 1
    for col in (
        "n_word_occurrences",
        "total_chars",
        "avg_symbols_per_occurrence",
        "chars_per_symbol",
    ):
        assert got[col] == want[col], col


def test_quality_classifier_learns_and_is_exact(spark):
    """The trained ridge scorer must (a) beat the majority-class base
    rate by a clear margin — i.e. it actually learned the label — and
    (b) produce integer-exact micro-scaled scores (score * 1e6 is an
    integer, the cross-engine exactness contract)."""
    from eventstreamer_spark.operators.quality import (
        q_quality_classifier_scores,
    )

    from tests.conftest import SF_DIR_MID

    rows = q_quality_classifier_scores(spark, SF_DIR_MID).collect()
    assert len(rows) == 500
    n_pos = sum(r.label for r in rows)
    base = max(n_pos, len(rows) - n_pos) / len(rows)
    acc = sum(1 for r in rows if r.predicted == r.label) / len(rows)
    assert acc >= base + 0.05, (acc, base)
    for r in rows[:50]:
        assert abs(r.score * 1_000_000 - round(r.score * 1_000_000)) < 1e-6


def test_ridge_gs_matches_float_solve():
    """solve_ridge_gs (integer Gauss–Seidel) converges to the true
    ridge solution: random dense Gram (condition ≈ 190), weights
    within 2e-2 of numpy's direct solve after GS_SWEEPS sweeps (the
    integer quantization floors accuracy at ~1e-6 per update; the
    fixture corpus's sparser Gram converges ~3× tighter)."""
    import numpy as np

    from eventstreamer_spark.operators import quality as Q

    rng = np.random.default_rng(7)
    d = Q.D_FEAT
    X = rng.integers(0, 4, size=(200, d))
    y = rng.integers(0, 2, size=200)
    A = X.T @ X
    b = X.T @ y
    gram = {
        (i, j): int(A[i, j]) for i in range(d) for j in range(d) if A[i, j]
    }
    bvec = {i: int(b[i]) for i in range(d) if b[i]}
    w = Q.solve_ridge_gs(gram, bvec)
    w_true = np.linalg.solve(A + Q.RIDGE_LAMBDA * np.eye(d), b)
    assert float(np.max(np.abs(np.array(w) / 1e6 - w_true))) < 2e-2


def test_index_maintenance_blocks_across_batches(spark, tmp_path):
    """A doc ACCEPTED in batch 1 must block its near-dup arriving in
    batch 2 through the materialized index; an identical same-batch
    pair resolves to the smaller doc_id via the peer rule."""
    from eventstreamer_spark.operators.dedup import q_ingest_index_maintenance

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten eleven"
    c = "red orange yellow green blue indigo violet pink brown black"
    d = "north south east west up down left right front back middle"
    docs = [
        (0, b, "en", "s", 1),  # batch 0 — accepted
        (3, b, "en", "s", 1),  # batch 0 — identical, peer-dropped
        (1, a, "en", "s", 1),  # batch 1 — accepted
        (2, a, "en", "s", 1),  # batch 2 — blocked by doc 1 via the index
        (4, c, "en", "s", 1),  # batch 1 — unique, accepted
        (5, d, "en", "s", 1),  # batch 2 — unique, accepted
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = {r.doc_id: r for r in q_ingest_index_maintenance(spark, str(tmp_path)).collect()}
    assert rows[0].decision == "ingest"
    assert rows[3].decision == "drop" and rows[3].n_peer_blockers >= 1
    assert rows[1].decision == "ingest"
    assert rows[2].decision == "drop" and rows[2].n_index_matches >= 1
    assert rows[2].batch_id == 2 and rows[1].batch_id == 1
    assert rows[4].decision == "ingest" and rows[5].decision == "ingest"


def test_selection_method_agreement_is_consistent(spark):
    """Spearman rho in [-1, 1], overlap in [0, 1], one row per method
    pair, and rho consistent with its own Σd² (the closed form
    recomputed driver-side on the emitted integers)."""
    from eventstreamer_spark.operators.audit import q_selection_method_agreement
    from tests.conftest import SF_DIR_MID

    rows = q_selection_method_agreement(spark, SF_DIR_MID).collect()
    assert sorted((r.method_a, r.method_b) for r in rows) == [
        ("classifier", "quality"),
        ("dsir", "classifier"),
        ("dsir", "quality"),
    ]
    import math

    for r in rows:
        assert -1.0 <= r.spearman_rho <= 1.0, r
        assert 0.0 <= r.topq_overlap <= 1.0, r
        nn = r.n * (r.n * r.n - 1)
        expect = math.floor((nn - 6 * r.sum_d2) * 1000000.0 / nn + 0.5) / 1000000.0
        assert r.spearman_rho == expect, (r, expect)


def test_residual_memo_eviction_frees_blocks(spark):
    """ADVICE r12: evicting a residual-memo entry must release the
    executor-resident localCheckpoint blocks deterministically, not
    wait for JVM GC. Verifies (a) the hook is wired into the memo,
    (b) the hook actually drops the checkpointed RDD's storage (the
    measured gotcha: Dataset.unpersist() alone leaves the block), and
    (c) a capacity eviction routes through it."""
    import pytest

    from eventstreamer_spark import memo
    from eventstreamer_spark.memo import BoundedMemo, _Entry, _release

    assert memo._STORE._on_evict is _release

    sc = spark.sparkContext

    def stored_ids():
        # track SPECIFIC RDD ids, not a global count: the session's
        # ContextCleaner frees other tests' orphaned checkpoints
        # asynchronously, so the global block count can move under
        # this test (r14: surfaced once the operator memos began
        # holding checkpoints session-long)
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored_ids()
    df = spark.range(64).selectExpr("id", "id * 2 AS y").localCheckpoint(eager=True)
    new_ids = stored_ids() - before
    assert len(new_ids) == 1, new_ids
    m = BoundedMemo(maxsize=1, on_evict=_release)
    m["a"] = _Entry((df,), (df,))
    m["b"] = _Entry((), ())  # evicts "a" -> hook must free df's block
    assert not (stored_ids() & new_ids), "evicted checkpoint block still stored"
    # guarded: junk values must not raise through an insert — the
    # failed py4j free is warned, never silent
    with pytest.warns(RuntimeWarning, match="free_local_checkpoint"):
        _release("k", _Entry((object(),), (object(),)))


def test_classifier_and_dsir_memos(spark, monkeypatch):
    """r14 optimization: the ridge-classifier artifacts and the DSIR
    score table are built once per (applicationId, sf_dir) and shared
    by their consumer queries. Pins (a) the store records exactly the
    checkpoints the build made, which its eviction hook frees, (b)
    repeat calls return the SAME handles (no rebuild), and (c) the
    memoized weight vector equals an independent direct training run —
    the memo changes WHO pays, never the values."""
    from tests.conftest import SF_DIR

    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.curation import dsir_scores_memo
    from eventstreamer_spark.operators.quality import (
        _doc_features,
        classifier_artifacts_memo,
        train_ridge_weights,
    )

    app = spark.sparkContext.applicationId
    memo.drop(SF_DIR, "classifier_artifacts")
    with monkeypatch.context() as m:
        made = _record_checkpoints(m, spark)
        feats1, lab1, w1 = classifier_artifacts_memo(spark, SF_DIR)
    feats2, lab2, w2 = classifier_artifacts_memo(spark, SF_DIR)
    assert feats1 is feats2 and lab1 is lab2 and w1 is w2
    stored = memo._STORE[("classifier_artifacts", app, SF_DIR)].checkpoints
    assert stored == tuple(made) and feats1 in stored and lab1 in stored

    feats_d, lab_d = _doc_features(spark, SF_DIR)
    assert w1 == train_ridge_weights(spark, SF_DIR, feats=feats_d, lab=lab_d)

    d1 = dsir_scores_memo(spark, SF_DIR)
    assert dsir_scores_memo(spark, SF_DIR) is d1
    assert memo._STORE[("dsir_scores", app, SF_DIR)].checkpoints == (d1,)
    assert d1.columns == ["doc_id", "source", "n_grams", "w_e6", "s_e6"]


def _owner_case(spark):
    """A store key of its own for the checkpoint-owner tests."""
    from tests.conftest import SF_DIR

    return SF_DIR + "#owner", spark.sparkContext.applicationId


def test_artifact_build_owns_its_checkpoints(spark):
    """Every checkpoint a DataFrame-valued build makes belongs to the
    store entry: it stays resident after the build, is checked on
    each hit, and is freed when the entry leaves the store."""
    from eventstreamer_spark import memo

    sf_dir, app = _owner_case(spark)
    made = []

    def build():
        made.append(memo.checkpoint(spark.range(8), eager=True))
        made.append(memo.checkpoint(made[0].selectExpr("id * 2 AS y")))
        return made[1].select("y")

    value = memo.artifact(spark, sf_dir, "df", build)
    assert memo._STORE[("df", app, sf_dir)].checkpoints == tuple(made)
    assert memo.artifact(spark, sf_dir, "df", build) is value
    assert value.count() == 8 and all(map(memo.checkpoint_alive, made))
    memo.drop(sf_dir)
    assert not any(map(memo.checkpoint_alive, made))


def test_rows_build_frees_its_checkpoints(spark):
    """A value with no DataFrame member never reads its build's
    checkpoints again: they are freed as soon as the build returns."""
    from eventstreamer_spark import memo

    sf_dir, app = _owner_case(spark)
    made = []

    def build():
        made.append(memo.checkpoint(spark.range(8), eager=True))
        return made[0].collect(), "rows"

    rows, _ = memo.artifact(spark, sf_dir, "rows", build)
    assert len(rows) == 8
    assert memo._STORE[("rows", app, sf_dir)].checkpoints == ()
    assert not memo.checkpoint_alive(made[0])
    memo.drop(sf_dir)


def test_raising_build_frees_its_checkpoints(spark):
    from eventstreamer_spark import memo

    sf_dir, app = _owner_case(spark)
    made = []

    def build():
        made.append(memo.checkpoint(spark.range(8), eager=True))
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo.artifact(spark, sf_dir, "raises", build)
    assert ("raises", app, sf_dir) not in memo._STORE
    assert not memo.checkpoint_alive(made[0]) and memo._OWNERS == []


def test_checkpoint_without_owner_is_left_alone(spark):
    """The plain driver path has no owner: nothing registers the
    checkpoint, so its release stays with Spark's ContextCleaner."""
    from eventstreamer_spark import memo
    from eventstreamer_spark.memo import free_local_checkpoint

    assert memo._OWNERS == []
    ck = memo.checkpoint(spark.range(8), eager=True)
    assert memo._OWNERS == [] and memo.checkpoint_alive(ck)
    free_local_checkpoint(ck)


def test_checkpoint_artifacts_free_blocks_on_eviction(spark):
    """The three consumer artifacts that hold eager localCheckpoints
    but had no eviction hook of their own (shingled_docs,
    brute_truth_memo, semdedup_assign_memo) must release their
    executor blocks when they leave the store, not at JVM GC. Tracks
    the entry's own RDD id, as test_residual_memo_eviction_frees_blocks
    does."""
    from tests.conftest import SF_DIR

    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.dedup import shingled_docs
    from eventstreamer_spark.operators.similarity import (
        brute_truth_memo,
        semdedup_assign_memo,
    )

    sc = spark.sparkContext

    def stored_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    for name, getter in (
        ("shingled_docs", shingled_docs),
        ("brute_truth", brute_truth_memo),
        ("semdedup_assign", semdedup_assign_memo),
    ):
        memo.drop(SF_DIR, name)
        df = getter(spark, SF_DIR)
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        assert rdd_id in stored_ids(), name
        memo.drop(SF_DIR, name)
        assert rdd_id not in stored_ids(), f"{name}: evicted blocks still stored"


def test_owners_pay_consumers_hit(spark):
    """Owners-pay as a property: an OWNER query run twice never reads
    its own artifact from the store (every run pays the build), while
    a CONSUMER of the same artifact is served from it."""
    from tests.conftest import SF_DIR

    from eventstreamer_spark import memo
    from eventstreamer_spark.operators.audit import residual_artifacts_memo
    from eventstreamer_spark.operators.curation import dsir_scores_memo
    from eventstreamer_spark.operators.dedup import minhash_pairs_for
    from eventstreamer_spark.operators.quality import classifier_artifacts_memo
    from eventstreamer_spark.operators.similarity import brute_truth_memo
    from eventstreamer_spark.operators.text import learn_bpe_merges
    from eventstreamer_spark.registry import REGISTRY

    cases = (
        ("quality_classifier_scores", "classifier_artifacts",
         classifier_artifacts_memo, "classifier_calibration_audit"),
        ("dsir_importance_weights", "dsir_scores",
         dsir_scores_memo, "gumbel_topk_resample"),
        ("ann_bruteforce_topk", "brute_truth", brute_truth_memo, "ann_recall_at_k"),
        ("pq_rerank_np4", "residual_artifacts",
         residual_artifacts_memo, "pq_rerank_topk"),
        ("bpe_learned_merges", "bpe_merges",
         learn_bpe_merges, "bpe_apply_segmentation"),
        ("minhash_lsh_neardup", "pairs:minhash",
         minhash_pairs_for, "minhash_jaccard_calibration"),
    )
    for owner, name, getter, consumer in cases:
        memo.HITS.clear()
        for _ in range(2):
            REGISTRY[owner].fn(spark, SF_DIR).collect()
        assert memo.HITS[name] == 0, f"owner {owner} read its artifact {name}"
        getter(spark, SF_DIR)
        memo.HITS.clear()
        REGISTRY[consumer].fn(spark, SF_DIR)
        assert memo.HITS[name] >= 1, f"consumer {consumer} rebuilt {name}"


# ---------------------------------------------------------------------------
# half-up rounding (functions/numeric.py) vs DuckDB's floor(x + 0.5) / s
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("scale", [10**2, 10**4, 10**5, 10**6])
def test_half_up_matches_duckdb(spark, scale):
    """Every half-up form equals DuckDB's ``floor(x + 0.5) / s`` on
    exact .5 ties (num * s / den = m + 0.5), negative values (ties go
    up: -m - 0.5 -> -m) and non-ties; a ``nullif``-zero denominator
    gives NULL, not a DIVIDE_BY_ZERO error, under ANSI."""
    import duckdb
    from pyspark.sql import functions as F

    from eventstreamer_spark.functions import numeric as N

    pairs = [(s * (2 * m + 1), 2 * scale) for m in (0, 1, 12344) for s in (1, -1)]
    pairs += [(1, 3), (-2, 3), (7, 9), (0, 5), (123456789, 1000), (5, 0)]
    rows = [(n, d, n * scale / d if d else 0.0) for n, d in pairs]
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t (num BIGINT, den BIGINT, x DOUBLE)")
    duck.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = duck.execute(
        f"""SELECT floor(x + 0.5), floor(x + 0.5) / {scale}.0,
                   floor(num * {scale}.0 / nullif(den, 0) + 0.5) / {scale}.0
            FROM t ORDER BY num, den"""
    ).fetchall()
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = (
            spark.createDataFrame(rows, "num long, den long, x double")
            .orderBy("num", "den")
            .select(
                N.half_up_units(F.col("x")),
                N.half_up(F.col("x"), scale),
                N.half_up_ratio(
                    F.col("num"), F.nullif(F.col("den"), F.lit(0).cast("long")), scale
                ),
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert [tuple(r) for r in got] == [(int(u), h, r) for u, h, r in want]
    ties = [r for (n, d, _), r in zip(sorted(rows), got) if d == 2 * scale]
    assert [t[0] for t in ties] == [-12344, -1, 0, 1, 2, 12345]
    assert got[[n for n, _, _ in sorted(rows)].index(5)][2] is None
