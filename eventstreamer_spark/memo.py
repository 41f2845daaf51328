"""The session artifact cache, and the bounded dict it is built on.

Some queries consume an artifact that another query owns: a near-dup
pair table, a converged centroid table, a trained classifier, a
written parquet layout. ``session_artifact`` is the one place that
decides when such an artifact is reused. Its contract:

- **Key.** One entry per (applicationId, sf_dir, artifact name).
  Inputs are immutable parquet, so an entry cannot go stale within
  an application. The name carries every distinction that changes
  the value (pair kind, centroid iterations × seeding variant).
- **Rebuild on freed blocks.** A hit any of whose checkpoint-backed
  frames has lost its blocks (freed out-of-band, e.g. by a manual
  unpersist) is dropped and rebuilt, instead of returning a plan
  that dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at evaluation.
- **Release on every removal.** Capacity eviction, ``pop``, ``del``
  and ``clear`` all run one release hook: checkpoint-backed frames
  have their blocks freed, a dict with a ``"root"`` has that
  directory removed. Anything else in a value (driver rows, plain
  scan frames) is left alone.
- **Owners call builders directly.** The query that owns an artifact
  runs its builder every invocation and never reads the cache, so the
  bench's steady state always contains the build; only consumers go
  through ``session_artifact``.
- **Consumers evaluate within their own invocation.** A released
  checkpoint's lineage is gone, so a handle held across later cache
  inserts may die at evaluation. A lookup refreshes recency (LRU on
  get), so inserts made by the same invocation never evict it.

``ARTIFACT_CAPACITY`` holds every artifact one sf_dir creates, so a
full registry pass on one sf_dir evicts nothing. ``artifact_hits``
counts hits; ``bench.py`` names the queries that hit in its last pass.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from typing import Any

_MISSING = object()


class BoundedMemo(dict):
    """dict with an LRU size bound.

    Inserting a NEW key at capacity evicts the least-recently-used
    entry first. A ``get``/``__getitem__`` hit refreshes recency
    (move-to-end). Re-setting an existing key never evicts.

    EVERY removal path (capacity eviction, ``pop``, ``popitem``,
    ``__delitem__``, ``clear``) runs the ``on_evict`` hook, so owned
    resources are freed no matter how an entry leaves the memo.
    """

    def __init__(
        self,
        maxsize: int = 8,
        on_evict: Callable[[Any, Any], None] | None = None,
    ) -> None:
        super().__init__()
        assert maxsize >= 1
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


def _checkpoint_rdd(member: Any) -> Any:
    """The RDD behind a checkpoint-backed DataFrame (analyzed plan is a
    LogicalRDD), or None for anything else: driver rows, dicts, plain
    scan frames, or a frame whose plan cannot be introspected."""
    if not hasattr(member, "_jdf"):
        return None
    try:
        plan = member._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def _members(value: Any) -> tuple:
    return value if isinstance(value, tuple) else (value,)


def _release(_key: Any, value: Any) -> None:
    """Free what an artifact owns: checkpoint blocks and ``"root"``
    directories. Never raises for members that own nothing."""
    for m in _members(value):
        if isinstance(m, dict) and "root" in m:
            shutil.rmtree(m["root"], ignore_errors=True)
        elif _checkpoint_rdd(m) is not None:
            free_local_checkpoint(m)


def _blocks_alive(value: Any) -> bool:
    for m in _members(value):
        rdd = _checkpoint_rdd(m)
        if rdd is not None and not rdd.getStorageLevel().isValid():
            return False
    return True


# A full registry pass on one sf_dir creates 17 artifacts (measured at
# sf0.01); 32 leaves headroom for new ones.
ARTIFACT_CAPACITY = 32
_ARTIFACTS: dict = BoundedMemo(maxsize=ARTIFACT_CAPACITY, on_evict=_release)
_hits = 0


def session_artifact(spark: Any, sf_dir: str, name: str, build: Callable[[], Any]) -> Any:
    """The cached artifact ``name`` for this application and sf_dir,
    built by ``build()`` on a miss (see the module docstring)."""
    global _hits
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _ARTIFACTS.get(key, _MISSING)
    if hit is not _MISSING:
        if _blocks_alive(hit):
            _hits += 1
            return hit
        _ARTIFACTS.pop(key)
    value = build()
    _ARTIFACTS[key] = value
    return value


def artifact_hits() -> int:
    """Number of cache hits served so far in this process."""
    return _hits


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
