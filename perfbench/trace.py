"""Spans and layer counters, recorded from the benchmark's own code.

Nothing here changes the engine: each layer is observed at the boundary
where the benchmark calls into it (query builders, the noop write,
``streaming`` functions, the foreachBatch sink), or by wrapping a public
function of the layer (``BoundedMemo``, ``session.configure``,
``sources.tables.load_table``) for the length of a traced run. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from pathlib import Path
from typing import Any


class Tracer:
    """In-memory span recorder; times are wall-clock seconds, the clock
    the streaming progress reports use. A disabled tracer records
    nothing, so the untraced run executes none of the bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in bookkeeping, not in the layers

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: int | None = None, **attrs: Any) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "name": name, "trace": trace_id,
                           "parent": parent, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None) -> Iterator[dict]:
        """Time the body. Counters put into the yielded dict, also after
        the body ends, are kept as the span's ``attrs``."""
        attrs: dict = {}
        t0 = time.time()
        try:
            yield attrs
        finally:
            self.add(name, trace_id, t0, time.time(), parent, attrs=attrs)

    @contextmanager
    def bookkeeping(self) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: Path) -> None:
        if self.enabled:
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(self.spans))


class LayerCounters:
    """Counts calls into the memo, session and sources layers while
    active. Wrapping is undone by ``close``."""

    def __init__(self) -> None:
        self.c = dict.fromkeys(
            ("memo.lookups", "memo.hits", "memo.builds", "memo.evictions",
             "session.configure_calls", "session.configure_s",
             "sources.load_table_calls", "sources.load_table_s"), 0.0)
        self._undo: list[Callable[[], None]] = []

    def install(self) -> None:
        from eventstreamer_spark import session
        from eventstreamer_spark.memo import BoundedMemo
        from eventstreamer_spark.sources import tables

        self._wrap_memo(BoundedMemo)
        self._wrap_everywhere(session.configure, "session.configure")
        self._wrap_everywhere(tables.load_table, "sources.load_table")

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()

    def values(self, per: float = 1.0) -> dict[str, float]:
        """The counters divided by ``per``, and the memo hit ratio."""
        out = {k: v / per for k, v in self.c.items()}
        lookups = self.c["memo.lookups"]
        out["memo.hit_ratio"] = self.c["memo.hits"] / lookups if lookups else 0.0
        return out

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        old = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, value)
        self._undo.append(lambda: setattr(owner, attr, old))

    def _wrap_everywhere(self, fn: Callable, prefix: str) -> None:
        """Replace ``fn`` under every name that engine modules bound it to
        (``from ... import configure`` copies the reference)."""
        c = self.c

        @functools.wraps(fn)
        def timed(*a: Any, **k: Any) -> Any:
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                c[prefix + "_calls"] += 1
                c[prefix + "_s"] += time.perf_counter() - t0

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith("eventstreamer_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, attr, timed)

    def _wrap_memo(self, cls: type) -> None:
        c = self.c
        get, getitem, setitem = cls.get, cls.__getitem__, cls.__setitem__

        def counted_get(self: dict, key: Any, default: Any = None) -> Any:
            c["memo.lookups"] += 1
            c["memo.hits"] += key in self
            return get(self, key, default)

        def counted_getitem(self: dict, key: Any) -> Any:
            c["memo.lookups"] += 1
            c["memo.hits"] += key in self
            return getitem(self, key)

        def counted_setitem(self: dict, key: Any, value: Any) -> None:
            new = key not in self
            before = len(self)
            setitem(self, key, value)
            c["memo.builds"] += new
            c["memo.evictions"] += before + new - len(self)

        self._set(cls, "get", counted_get)
        self._set(cls, "__getitem__", counted_getitem)
        self._set(cls, "__setitem__", counted_setitem)
        for attr in ("pop", "popitem", "__delitem__", "clear"):
            orig = cls.__dict__[attr]

            def removal(self: dict, *a: Any, _orig: Callable = orig) -> Any:
                before = len(self)
                try:
                    return _orig(self, *a)
                finally:
                    c["memo.evictions"] += before - len(self)

            self._set(cls, attr, removal)


class JobStats:
    """Jobs, stages and tasks of one job group, from ``statusTracker``;
    shuffle and spill bytes from the application status store. The
    status store is internal API: if it does not answer, the byte
    counters stay 0 (``bytes_available`` turns False)."""

    KEYS = ("jobs", "stages", "tasks", "failed_tasks",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        try:
            self.store = self.sc._jsc.sc().statusStore()
        except Exception:  # noqa: BLE001 — internal API, optional
            self.store = None
        self.bytes_available = self.store is not None

    def group(self, group_id: str) -> dict[str, float]:
        out = dict.fromkeys(self.KEYS, 0.0)
        stage_ids: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group_id):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped (shuffle output reused) or never ran
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            out["failed_tasks"] += info.numFailedTasks
            if self.bytes_available:
                try:
                    sd = self.store.lastStageAttempt(sid)
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                except Exception:  # noqa: BLE001 — internal API, optional
                    self.bytes_available = False
        return out
