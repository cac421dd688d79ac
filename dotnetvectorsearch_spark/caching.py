"""Session registries for driver-held operator state.

Two kinds of state outlive one operator call within a session, and each
has one registry here.

**Transient persists.** Several operators persist an intermediate frame
that multiple downstream consumers share within one query plan
(exploded n-grams, LSH band rows, inverted-index shingles, token
occurrences). The persist is required — without it a self-joined plan
re-executes its expensive upstream 2-4 times — but the frames are
TOKEN-scale, and a long-lived session that runs many such queries
accumulates cached storage until LRU eviction starts ejecting caches
you actually want hot (ANN cells, BM25 postings). The unpersist can't
happen inside the operator: the returned DataFrame is lazy, and
unpersisting before the caller's action would silently undo the
sharing. So operators register every transient persist with
:func:`transient_persist`, and session owners (bench loops, oracle
checkers, notebooks) call :func:`release_transient` at natural
boundaries — after each query's action — to drop them
deterministically. Long-lived caches that are MEANT to stay hot for the
session (materialized indexes, centroid tables) are deliberately NOT
registered.

**Input-keyed memos.** The dedup family keeps driver-side state across
calls: guard estimates, the broadcast eval postings index, bloom
filters and their broadcasts. Each is a :class:`SessionMemo` — a
bounded FIFO keyed on :func:`input_key`, the analyzed-plan
``semanticHash`` plus the :func:`_input_fingerprint` of the input
files, so an in-place data change the plan hash cannot see still
misses. A key of ``None`` (identity unavailable) is never memoized.
Values leaving a memo (evicted, cleared, or the loser of a concurrent
build) go through the memo's ``release``, which unpersists the
executor-side blocks of the memos that hold broadcasts.
``dedup.clear_guard_memo()`` empties every memo at corpus-rewrite
session boundaries.
"""

from __future__ import annotations

import hashlib
import os
import threading
from typing import Callable

from pyspark.sql import DataFrame

from . import localdf

_LOCK = threading.Lock()
# Strong references on purpose: the registered frames are operator-local
# and would otherwise be garbage-collected the moment the operator
# returns — the registry must keep them reachable until the session
# owner releases them (holding them is exactly what today's leaked
# persists do anyway; release_transient is the new part).
_TRANSIENT: list[DataFrame] = []


def transient_persist(df: DataFrame) -> DataFrame:
    """persist() + register for a later :func:`release_transient`."""
    df = df.persist()
    with _LOCK:
        _TRANSIENT.append(df)
    return df


def release_transient() -> int:
    """Unpersist every registered transient cache; returns the count.

    Safe to call at any point — frames whose plans are re-executed later
    simply recompute (correctness never depends on a cache).
    """
    with _LOCK:
        frames = list(_TRANSIENT)
        _TRANSIENT.clear()
    released = 0
    for df in frames:
        try:
            # blocking: PySpark's default unpersist is async, which
            # leaves the block manager's registry briefly stale — the
            # release must be deterministic for accounting (and tests)
            df.unpersist(blocking=True)
            released += 1
        except Exception:  # noqa: BLE001 - session may already be gone
            pass
    return released


class SessionMemo:
    """Bounded FIFO memo of driver-side state, one lock per memo.

    ``get_or_build`` runs ``build`` outside the lock, so a slow build
    (a Spark job, a broadcast) never blocks hits on other keys; when two
    callers miss on one key concurrently both build, the first insert
    wins and the loser's value is released. Every value that leaves the
    memo — evicted at ``cap``, cleared, or losing that race — goes
    through ``release`` exactly once."""

    def __init__(self, cap: int, release: Callable | None = None):
        self.cap = cap
        self.release = release
        self._lock = threading.Lock()
        self._items: dict = {}

    def __len__(self) -> int:
        return len(self._items)

    def __contains__(self, key) -> bool:
        return key in self._items

    def get(self, key):
        """The memoized value, or None on a miss or a ``None`` key."""
        if key is None:
            return None
        with self._lock:
            return self._items.get(key)

    def get_or_build(self, key, build: Callable):
        """The value memoized under ``key``, building and inserting it
        on a miss. A ``None`` key builds without memoizing."""
        if key is None:
            return build()
        with self._lock:
            if key in self._items:
                return self._items[key]
        value = build()
        with self._lock:
            if key in self._items:
                kept, dropped = self._items[key], value
            else:
                kept, dropped = value, None
                if len(self._items) >= self.cap:
                    dropped = self._items.pop(next(iter(self._items)))
                self._items[key] = value
        if dropped is not None:
            self._release(dropped)
        return kept

    def clear(self) -> int:
        """Release every entry; returns how many there were."""
        with self._lock:
            values = list(self._items.values())
            self._items.clear()
        for v in values:
            self._release(v)
        return len(values)

    def _release(self, value) -> None:
        if self.release is None:
            return
        try:
            self.release(value)
        except Exception:  # noqa: BLE001 - session may already be gone
            pass


def unpersist_broadcast(entry: tuple) -> None:
    """``SessionMemo`` release for entries whose first field is a
    broadcast: frees its executor-side blocks (dropping only the driver
    handle would strand them on every executor)."""
    entry[0].unpersist()


# Driver-side stat budget for _input_fingerprint. Past this many input
# files, the per-file os.stat loop would be a latency cliff on EVERY
# memo lookup / store-freshness check (advisor r9: 10^5+ files = 10^5
# sequential syscalls even on a memo hit), so stats are taken over an
# evenly-spaced sample of this size and the full file LIST is covered
# by a path digest instead.
_FP_STAT_CAP = 4096


def _input_fingerprint(df: DataFrame):
    """Cheap driver-side identity of a frame's input files.

    Covers the FULL file list: a sha256 digest of every sorted path
    (no syscalls — any add/remove/rename changes the key), plus stat
    aggregates (count, total size, max mtime_ns) and per-file
    (path, size, mtime_ns) detail for the first 64 paths, so a rewrite
    past the 64th file or a same-second touch still changes the key
    (advisor r8). Stat syscalls are BOUNDED at ``_FP_STAT_CAP``: past
    the cap an evenly-spaced sample is statted (advisor r9) — an
    in-place same-path rewrite of an unsampled file in a >4096-file
    corpus is the one change this can miss (parquet rewrites change
    file names/counts in practice, which the digest catches). Local
    stat calls only; non-local or stat-failing paths degrade to the
    path string, which still catches file-set changes.

    A frame whose plan matches a persisted one reads from the cache and
    reports no input files, so fingerprint the unpersisted source."""
    try:
        files = sorted(df.inputFiles())
    except Exception:  # pragma: no cover - py4j surface drift
        return None
    path_digest = hashlib.sha256("\n".join(files).encode()).hexdigest()
    n = len(files)
    if n > _FP_STAT_CAP:
        step = n / _FP_STAT_CAP
        stat_idx = sorted({int(i * step) for i in range(_FP_STAT_CAP)}
                          | set(range(min(64, n))))
    else:
        stat_idx = range(n)
    sig = []
    total_size = 0
    max_mtime_ns = -1
    for idx in stat_idx:
        f = files[idx]
        # Hadoop renders local URIs as file:/p or file:///p depending
        # on the path-resolution route; a stat on the raw URI degrades
        # to (-1,-1), silently losing the (size, mtime) sensitivity
        # (advisor r6). local_path resolves both.
        try:
            st = os.stat(localdf.local_path(f) or f)
            size, mtime_ns = st.st_size, st.st_mtime_ns
        except OSError:
            size, mtime_ns = -1, -1
        total_size += size
        max_mtime_ns = max(max_mtime_ns, mtime_ns)
        if idx < 64:
            sig.append((f, size, mtime_ns))
    return (n, path_digest, total_size, max_mtime_ns, tuple(sig))


def input_key(*dfs: DataFrame):
    """Memo key for state derived from ``dfs``: each frame's
    analyzed-plan ``semanticHash``, then each frame's input-file
    fingerprint. None when either is unavailable for any frame — a
    ``SessionMemo`` never memoizes blind. Callers append the
    parameters the memoized value depends on."""
    try:
        sems = tuple(df._jdf.queryExecution().analyzed().semanticHash()
                     for df in dfs)
    except Exception:  # pragma: no cover - py4j surface drift
        return None
    fps = tuple(_input_fingerprint(df) for df in dfs)
    if any(fp is None for fp in fps):
        return None
    return sems + fps
