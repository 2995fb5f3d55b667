"""Tracked lazy persists: operators persist intermediates at reuse
points (Catalyst has no common-subplan dedup, so a subtree referenced
N times in one action executes N times unpersisted), but the CALLER's
action — not the operator — decides when the cache has served its
purpose. Each persist is registered here and handed back with
:func:`release_tracked` (bench.py after every timed key; verify sweeps
per key; long-lived sessions at any natural boundary). Without the
hand-back every invocation of a persisting operator leaks cached
frames into executor storage for the session's lifetime (ADVICE r8 —
harmless under LRU eviction, but measured as a 55% run-to-run spread
on the heaviest bench key once eviction pressure built mid-suite).

Graph operators were the first users (operators/graph.py round 8); the
LM scorers joined in round 9 (the bigram-count scan feeds both the
model build and the scoring join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release; returns it."""
    _LIVE.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame since the last release; returns
    how many were dropped. Safe at any time: collected results are
    plain rows, and a still-lazy plan re-computes (correctly, just
    uncached) if executed after release."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    return n
