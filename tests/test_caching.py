from __future__ import annotations

import itertools
import os
import random
import sys
import threading
import time

from dotnetvectorsearch_spark.caching import SessionMemo


class _Value:
    def __init__(self, key):
        self.key = key
        self.released = 0


def test_session_memo_concurrent_builds_hold_or_release_each_value_once():
    """More threads than cores hammer overlapping keys of a small memo
    (concurrent misses, FIFO evictions and clears interleave): the memo
    never exceeds its cap, and every value ever built ends up either
    held or released exactly once — a race loser or an evicted value is
    never leaked, and nothing is released twice."""
    cap = 4
    built: list[_Value] = []
    released: list[_Value] = []
    violations: list[tuple] = []

    def release(v):
        v.released += 1
        released.append(v)

    memo = SessionMemo(cap, release=release)

    def build(key):
        v = _Value(key)
        built.append(v)
        time.sleep(0)               # widen the miss-to-insert window
        return v

    def worker(seed):
        rng = random.Random(seed)
        for _ in range(400):
            key = rng.randrange(3 * cap)
            if rng.random() < 0.02:
                memo.clear()
            else:
                got = memo.get_or_build(key, lambda: build(key))
                if got.key != key:
                    violations.append(("wrong value", key))
            if len(memo) > cap:
                violations.append(("over cap", len(memo)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(4 * (os.cpu_count() or 1) + 4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)

    assert not violations
    assert len(memo) <= cap
    assert all(v.released in (0, 1) for v in built)
    held = [v for v in built if v.released == 0]
    assert all(memo.get(v.key) is v for v in held)
    assert len(held) == len(memo)
    assert len(released) + len(held) == len(built)


def test_session_memo_none_key_is_never_memoized():
    memo = SessionMemo(2)
    calls = itertools.count()
    assert memo.get_or_build(None, lambda: next(calls)) == 0
    assert memo.get_or_build(None, lambda: next(calls)) == 1
    assert len(memo) == 0 and memo.get(None) is None


def test_session_memo_evicts_fifo_and_swallows_release_errors():
    dropped = []

    def release(v):
        dropped.append(v)
        raise RuntimeError("session gone")

    memo = SessionMemo(2, release=release)
    for k in "abc":
        assert memo.get_or_build(k, lambda k=k: k.upper()) == k.upper()
    assert dropped == ["A"] and "a" not in memo and len(memo) == 2
    assert memo.get_or_build("b", lambda: "rebuilt") == "B"   # hit
    assert memo.clear() == 2 and dropped == ["A", "B", "C"]
