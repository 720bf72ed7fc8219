"""The session-artifact store: one bounded memo for every artifact the
operators reuse across the queries of a session.

Consumer queries share expensive intermediate results (checkpointed
pair tables, trained classifier weights, collected centroid rows,
layout directories in a scratch session dir, resolved parquet scans) through
``artifact(spark, sf_dir, name, build)``. Owner queries — the query
whose result IS the artifact — call the builder directly and never
read the store, so a repeated run of an owner always pays its build.

Every local checkpoint the engine makes goes through ``checkpoint``,
which hands it to the innermost active owner: an ``artifact`` build
(the store entry keeps it) or an ``owned`` block such as
``obs.run_query`` (freed when the block exits). With no owner — the
plain driver path — release is left to Spark's ContextCleaner.
"""

from __future__ import annotations

import contextlib
import shutil
from collections import Counter
from collections.abc import Callable, Iterable, Iterator
from typing import Any, NamedTuple

from pyspark.sql import DataFrame

_MISSING = object()
# The active checkpoint owners, innermost last: each is the list of the
# checkpoints made inside it. Process-global, like obs._TRIGGERS, so
# driver threads started inside an owner register with it too.
_OWNERS: list[list[DataFrame]] = []


class BoundedMemo(dict):
    """dict with an LRU size bound.

    Inserting a NEW key at capacity evicts the least-recently-used
    entry first. A ``get``/``__getitem__`` hit refreshes recency
    (move-to-end), so an entry touched within the current invocation
    can never be evicted by that same invocation's later inserts —
    the hazard ADVICE r14 reproduced with the checkpointed pair memos
    (a consumer holding handle A while inserting B and C evicted A's
    blocks mid-plan: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Re-setting an
    existing key never evicts.

    EVERY removal path (capacity eviction, ``pop``, ``popitem``,
    ``__delitem__``, ``clear``) runs the ``on_evict`` hook, so owned
    resources (checkpoint blocks, tmp dirs) are freed no matter how an
    entry leaves the memo (ADVICE r14: dict.pop used to bypass it).
    """

    def __init__(
        self,
        maxsize: int = 8,
        on_evict: Callable[[Any, Any], None] | None = None,
    ) -> None:
        super().__init__()
        if maxsize < 1:
            raise ValueError(f"maxsize must be >= 1, got {maxsize}")
        self.maxsize = maxsize
        self._on_evict = on_evict

    # -- recency ---------------------------------------------------------
    def _touch(self, key: Any) -> None:
        # move-to-end without triggering eviction hooks: plain dicts
        # preserve insertion order, so delete + re-insert reorders.
        value = super().pop(key)
        super().__setitem__(key, value)

    def get(self, key: Any, default: Any = None) -> Any:
        if key in self:
            self._touch(key)
        return super().get(key, default)

    def __getitem__(self, key: Any) -> Any:
        value = super().__getitem__(key)
        self._touch(key)
        return value

    # -- insertion -------------------------------------------------------
    def __setitem__(self, key: Any, value: Any) -> None:
        if key in self:
            self._touch(key)
        else:
            while len(self) >= self.maxsize:
                oldest = next(iter(self))
                evicted = super().pop(oldest)
                if self._on_evict is not None:
                    self._on_evict(oldest, evicted)
        super().__setitem__(key, value)

    # dict.update()/setdefault() bypass __setitem__ at the C level —
    # route them through it so no insertion path can skip the bound.
    def update(self, *args: Any, **kwargs: Any) -> None:
        for k, v in dict(*args, **kwargs).items():
            self[k] = v

    def setdefault(self, key: Any, default: Any = None) -> Any:
        if key not in self:
            self[key] = default
        return self[key]

    # -- removal: every path runs the hook -------------------------------
    def pop(self, key: Any, default: Any = _MISSING) -> Any:
        if key in self:
            value = super().pop(key)
            if self._on_evict is not None:
                self._on_evict(key, value)
            return value
        if default is _MISSING:
            raise KeyError(key)
        return default

    def popitem(self) -> tuple[Any, Any]:
        key, value = super().popitem()
        if self._on_evict is not None:
            self._on_evict(key, value)
        return key, value

    def __delitem__(self, key: Any) -> None:
        value = super().pop(key)
        if self._on_evict is not None:
            self._on_evict(key, value)

    def clear(self) -> None:
        while self:
            key = next(iter(self))
            value = super().pop(key)
            if self._on_evict is not None:
                self._on_evict(key, value)


def checkpoint_alive(df: Any) -> bool:
    """True when a localCheckpointed DataFrame's blocks are still
    resident (storage level not NONE). ``artifact`` uses this to
    ASSERT-AND-REBUILD (VERDICT r14 item 7): a hit whose blocks were
    freed out-of-band (an explicit free_local_checkpoint from a
    mis-scoped consumer, a manual unpersist) is treated as a miss and
    rebuilt instead of handing the caller a plan that would die with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at evaluation. Conservative:
    any introspection failure reports alive=True (never force a
    rebuild on a py4j quirk; the failure mode is the pre-existing
    one, not a new rebuild loop)."""
    try:
        return (
            df._jdf.queryExecution()
            .analyzed()
            .rdd()
            .getStorageLevel()
            .isValid()
        )
    except Exception:
        return True


def free_local_checkpoint(df: Any) -> None:
    """Release a localCheckpoint's executor-resident blocks NOW.

    Dataset.unpersist() only uncaches the plan from the cache manager —
    it does NOT unpersist the checkpointed RDD (measured: the storage
    block count is unchanged), so dropping the handle strands the
    blocks until JVM GC/ContextCleaner. The real free is the analyzed
    LogicalRDD's underlying RDD. Guarded: callers use this in eviction
    and cleanup paths that must never raise — but the fallback is
    WARNED (ADVICE r13), because silently landing in df.unpersist()
    would reintroduce the block leak if a Spark-version change breaks
    the py4j path (test_residual_memo_eviction_frees_blocks is the
    version pin)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        import warnings

        warnings.warn(
            "free_local_checkpoint: primary py4j free failed "
            f"({type(exc).__name__}: {exc}); falling back to "
            "Dataset.unpersist(), which does NOT free checkpoint blocks",
            RuntimeWarning,
            stacklevel=2,
        )
        try:
            df.unpersist()
        except Exception:
            pass


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered with the innermost
    active owner. The one place the engine makes a local checkpoint;
    chains end in ``.transform(checkpoint)``.

    ``eager=False`` is not lazy under AQE: the checkpoint's RDD is
    built from the adaptive plan, which runs every shuffle stage
    upstream of it when the checkpoint is defined, so those jobs land
    in the caller's construct phase. Only the final stage waits for
    the first action; a plan with no exchange runs nothing until then
    (tests/test_obs.py pins both)."""
    ck = df.localCheckpoint(eager=eager)
    if _OWNERS:
        _OWNERS[-1].append(ck)
    return ck


def _free(checkpoints: Iterable[DataFrame]) -> None:
    for df in checkpoints:
        free_local_checkpoint(df)


@contextlib.contextmanager
def _owner() -> Iterator[list[DataFrame]]:
    """The checkpoints made inside the block; freed if it raises."""
    made: list[DataFrame] = []
    _OWNERS.append(made)
    try:
        yield made
    except BaseException:
        _free(made)
        raise
    finally:
        _OWNERS.pop()


@contextlib.contextmanager
def owned() -> Iterator[None]:
    """Free every checkpoint made inside the block when it exits."""
    with _owner() as made:
        yield
    _free(made)


class _Entry(NamedTuple):
    value: Any
    checkpoints: tuple  # every checkpoint its build made


def _release(_key: Any, entry: _Entry) -> None:
    _free(entry.checkpoints)
    if isinstance(entry.value, dict) and "root" in entry.value:
        shutil.rmtree(entry.value["root"], ignore_errors=True)


STORE_SIZE = 64
_STORE = BoundedMemo(maxsize=STORE_SIZE, on_evict=_release)
# Store hits per artifact name since the last ``HITS.clear()`` —
# bench.py derives its memo-warm query set from it.
HITS: Counter[str] = Counter()


def artifact(spark: Any, sf_dir: str, name: str, build: Callable[[], Any]) -> Any:
    """The session artifact ``name`` for (applicationId, ``sf_dir``):
    ``build()`` on the first call, the stored value after. Any key part
    beyond the session and directory goes into ``name`` (e.g.
    ``f"pairs:{kind}"``, ``f"scan:{table}"``).

    Values are a DataFrame, a tuple, driver-side rows, or a dict whose
    ``"root"`` is a directory the builder created. The entry owns every
    ``checkpoint`` its build made: whenever it leaves the store — LRU
    eviction at STORE_SIZE, ``drop``, a liveness miss — they are freed
    and its root is removed. A value with no DataFrame member (rows,
    paths) reads none of them later, so they are freed as soon as
    ``build()`` returns; a build that raises frees them too.

    POST-EVICTION INVALIDATION: a localCheckpoint has no lineage, so a
    handle derived from an evicted entry dies with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at evaluation. Consumers call
    ``artifact`` at build time and evaluate within their own
    invocation; a hit refreshes recency, so that invocation's own
    later inserts evict older entries first. A hit whose checkpoint
    blocks were freed out-of-band is released and rebuilt; only
    entries holding checkpoints are checked, so a hit on a scan handle
    or on rows makes no JVM call."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    entry = _STORE.get(key)
    if entry is not None:
        if all(checkpoint_alive(df) for df in entry.checkpoints):
            HITS[name] += 1
            return entry.value
        _STORE.pop(key)
    with _owner() as made:
        value = build()
    members = value if isinstance(value, tuple) else (value,)
    if not any(isinstance(m, DataFrame) for m in members):
        _free(made)
        made = []
    _STORE[key] = _Entry(value, tuple(made))
    return value


def drop(sf_dir: str, name: str | None = None) -> None:
    """Release the stored artifacts of ``sf_dir`` — only ``name`` when
    given — in every session."""
    for key in [k for k in _STORE if k[2] == sf_dir and (name is None or k[0] == name)]:
        _STORE.pop(key, None)
