"""The session staging registry: every shared intermediate the engine
builds once and reuses (checkpointed tables, learned vocabularies,
loaded table handles, round-tripped scratch copies, per-session conf
memos) goes through ``stage``. The contract, stated once here:

- **Named.** Each artifact ``name`` has its own dict, keyed by
  ``(id(owner), params)``.
- **Owner held.** An entry stores ``(owner, value)``. ``owner`` is the
  object whose identity scopes the artifact: the input DataFrame, or
  the SparkSession for per-session handles. Holding it keeps the
  owner alive, so its ``id()`` cannot be recycled while the entry
  lives.
- **Identity-checked hit.** A lookup hits only when the stored owner
  ``is`` the caller's owner; anything else rebuilds and replaces.
- **Two-generation eviction.** On a miss, each name keeps at most
  ``KEEP_OWNERS`` owner generations: the incoming owner plus the most
  recent other one, by first-touch order. Two live inputs used in
  alternation (the entry module's events interleaved with a
  test-local frame) stay warm. Older generations are dropped, which
  releases their checkpointed DataFrames to GC, and Spark's
  ContextCleaner then frees the blocks. All variants (``params``) for
  a kept owner stay.
- **One lock.** Every lookup and build runs under ``STAGING_LOCK``.

``build`` returns exactly the value to hold and does its own
materialization (``localCheckpoint(eager=True)``, ``persist``, a
scratch write). This module imports nothing from the package, so
sources, plans and streaming can use it without an import cycle.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame

#: Staging is reachable from thread pools (the plan-lint builders):
#: without the lock two threads missing the same key both run the
#: eager build and store divergent staged identities. Re-entrant
#: because a build may itself stage a nested artifact (e.g. GANN
#: topk -> assignment).
STAGING_LOCK = threading.RLock()

KEEP_OWNERS = 2

#: name -> {(id(owner), params): (owner, value)}
_REGISTRY: dict[str, dict[tuple, tuple]] = {}


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the configured default parallelism
    (r10, guide §2.5): the test fixtures are single-row-group parquet
    files, so scans — and every projection fused into them — run as
    ONE task no matter the core count; the driver's 8-vs-32-core
    scaling block measured ratios <= 1 for that reason. An EXPLICIT
    width is load-bearing: AQE coalesces repartition(col) right back
    to one tiny partition, hiding the CPU-bound work again (measured:
    dedup_cdc 4.0 s -> 4.0 s with implicit width, -> 0.98 s with the
    explicit width). Only use above per-row-HEAVY projections whose
    downstream result is partition-invariant (aggregations, keyed
    joins, windows with total orderings). At cluster scale the scan
    already arrives split and the one narrow exchange this adds is
    noise next to the per-row compute it parallelizes; the width
    follows spark.default.parallelism, i.e. the documented env knob.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def stage(name: str, owner, params: Hashable, build: Callable[[], Any]):
    """Return artifact ``name`` for ``(owner, params)``, running
    ``build()`` on first touch (see the module docstring)."""
    with STAGING_LOCK:
        cache = _REGISTRY.setdefault(name, {})
        key = (id(owner), params)
        hit = cache.get(key)
        if hit is not None and hit[0] is owner:
            return hit[1]
        owners: list = []  # distinct generations, oldest first
        for o, _ in cache.values():
            if o is not owner and all(o is not p for p in owners):
                owners.append(o)
        evict = owners[: max(0, len(owners) - (KEEP_OWNERS - 1))]
        for k, (o, _) in list(cache.items()):
            if any(o is e for e in evict):
                del cache[k]
        value = build()
        cache[key] = (owner, value)
        return value
