"""Build-once memoization: one registry of named entries.

Every build-once memo in the engine is an entry here, so one call
clears or bypasses any of them.  Keys carry what identifies the input
(application id, input path or file set), so a fresh input path starts
cold; a ``None`` key never memoizes.  Inside ``bypass(name)`` the entry
is not ``enabled``: nothing is read or written, and callers that
checkpoint only so a memoized frame is cheap to re-read skip the
checkpoint too, keeping the plan lazy.  ``counts()`` gives hit/miss
totals per entry (a miss is any call that ran ``build``) and the
seconds spent inside ``build``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Entry:
    def __init__(self):
        self.enabled = True
        self.hits = self.misses = 0
        self.build_s = 0.0
        self._values: dict = {}

    def get_or_build(self, key, build):
        use = key is not None and self.enabled
        if use and key in self._values:
            self.hits += 1
            return self._values[key]
        self.misses += 1
        t0 = time.perf_counter()
        value = build()
        self.build_s += time.perf_counter() - t0
        if use:
            self._values[key] = value
        return value

    def keys(self) -> set:
        return set(self._values)

    def clear(self) -> None:
        self._values.clear()


_ENTRIES: dict[str, Entry] = {}


def register(name: str) -> Entry:
    return _ENTRIES.setdefault(name, Entry())


@contextmanager
def bypass(*names: str):
    """Turn the named entries off for the block; nests."""
    entries = [_ENTRIES[n] for n in names]   # unknown name: KeyError
    prev = [e.enabled for e in entries]
    for e in entries:
        e.enabled = False
    try:
        yield
    finally:
        for e, was in zip(entries, prev):
            e.enabled = was


def purge_all() -> None:
    for e in _ENTRIES.values():
        e.clear()


def counts() -> dict[str, float]:
    """``{"<entry>.hits": n, "<entry>.misses": n, "<entry>.build_s":
    s, ...}``"""
    return {f"{n}.{k}": getattr(e, k) for n, e in _ENTRIES.items()
            for k in ("hits", "misses", "build_s")}
