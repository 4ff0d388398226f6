"""Registry for persisted operator intermediates.

Several operators persist a slim intermediate (shingle/sketch/norm
tables) so self-join branches and verify join-backs read it instead of
recomputing the extraction per branch. Those caches are deliberate — but
in a long-lived session (service-style usage, notebooks) repeated calls
would accumulate MEMORY_AND_DISK blocks until LRU eviction, evicting
hotter caches. Every persist therefore registers here, and callers that
have materialized the operator output can reclaim the blocks eagerly:

    from embulk_filter_timestamp_format_spark.operators import (
        unpersist_intermediates,
    )
    result.write...   # materialize while the caches are warm
    unpersist_intermediates()

`bench.py` and the contract harness call this between queries. Leaving
the caches in place is also fine for one-shot jobs — the session end
releases them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_REGISTRY: "list[DataFrame]" = []


def register_persist(df: DataFrame, enabled: bool = True) -> DataFrame:
    """Persist `df` (MEMORY_AND_DISK) and track it for eager cleanup.

    Callers must apply output-shrinking filters AFTER this barrier:
    below it, predicate pushdown re-inlines the extraction expressions
    into the scan (PushPredicateThroughNonJoin has no cost guard)."""
    if not enabled:
        return df
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _REGISTRY.append(df)
    return df


def unpersist_intermediates() -> int:
    """Unpersist every registered intermediate (non-blocking); returns
    the number released. Safe to call at any time — a DataFrame whose
    blocks were already evicted or freed unpersists as a no-op."""
    n = 0
    while _REGISTRY:
        df = _REGISTRY.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass
    return n
