"""Bounded lifetime for operator-internal ``persist()`` barriers.

Operators like ``geo.knn_rings``, ``dedup.lsh_candidates`` and
``embed.embedding_dups`` persist intermediate relations as plan
barriers / compute-once nodes.  Those caches must outlive the function
(the caller materializes the returned lazy DataFrame later), so they
can't be unpersisted on exit — but left alone they accumulate for the
session lifetime in long-running drivers that call the operator
repeatedly.

A :class:`CachePool` bounds that: each operator keeps one pool, and a
new call retires generations beyond ``keep_generations`` (async
unpersist).  With the default ``keep_generations=1`` the pool
deliberately retains the CURRENT plus the PREVIOUS generation — so a
result returned by call N-1 stays materialized while call N runs —
meaning peak cached state per operator is TWO invocations' worth of
blocks; budget memory accordingly.  Callers that interleave two live
results of the SAME
operator should materialize the first before computing the second (the
usual pattern), or persist the result themselves.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

# weak registry: a pool created outside module scope (tests, per-job
# pools) must not be pinned — plus its cached DataFrames — forever
_ALL_POOLS: "weakref.WeakSet[CachePool]" = weakref.WeakSet()


class CachePool:
    def __init__(self, keep_generations: int = 1):
        self._gens: list[list[DataFrame]] = []
        self._keep = keep_generations
        _ALL_POOLS.add(self)

    def new_generation(self) -> None:
        """Start a new call: retire generations beyond ``keep``."""
        self._gens.append([])
        while len(self._gens) > self._keep + 1:
            for df in self._gens.pop(0):
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass

    def add(self, df: DataFrame) -> DataFrame:
        """Register a persisted DataFrame with the current generation."""
        if not self._gens:
            self._gens.append([])
        self._gens[-1].append(df)
        return df

    def clear(self, blocking: bool = False) -> None:
        """Unpersist everything (explicit release, e.g. app shutdown)."""
        for gen in self._gens:
            for df in gen:
                try:
                    df.unpersist(blocking=blocking)
                except Exception:
                    pass
        self._gens = []


def clear_all(blocking: bool = False) -> None:
    """Release every operator pool's cached blocks.  Benchmarks call
    this between timed rounds so a repeat of an operator whose internal
    persist plan is identical (kNN ring rounds, LSH signatures) measures
    real recomputation, not a CacheManager hit from the prior round."""
    for p in list(_ALL_POOLS):
        p.clear(blocking=blocking)
