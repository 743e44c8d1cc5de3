"""Tracked persist() registry — one-call block release for library callers.

Every ``persist()`` inside the query package goes through
``persist_tracked`` (call sites use ``df.transform(persist_tracked)``
so chained builders stay chained), which records the DataFrame in a
module-level registry. The harness loops (tools/bench_all.py,
tools/scale_probe.py, tools/check.py) already sweep the JVM's
persistent-RDD map between keys; this registry gives every OTHER
caller — a notebook, a library user composing several query functions
in one session — the same discipline in one call:
``release_tracked()`` (or ``release_all(spark)`` to also drop
localCheckpoint blocks). Without it, per-call persist() caches
accumulate until executor memory pressure forces eviction (ADVICE
r10 item 4).

Deliberately NOT drained inside ``session.prep()``: query functions
compose (llm_dedup_winnow calls llm_dedup_minhash, vec_matryoshka
calls vector_q helpers, each of which calls prep() again), so an
entry-point drain would unpersist the outer query's live caches
mid-flight and silently recompute them. Releasing is the caller's
loop boundary, not the callee's entry.

A persist whose lifetime is one call, like the validate-step inputs
``Pipeline.run`` caches, goes through ``persist_scope`` instead: the
``with`` block that made it releases it, so it never reaches the
registry.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark import StorageLevel

_TRACKED: list[Any] = []


def persist_tracked(df):
    """persist() a DataFrame and register it for ``release_tracked``.

    Returns the same DataFrame, so it composes with
    ``DataFrame.transform``: ``df.select(...).transform(persist_tracked)``.
    """
    df.persist()
    _TRACKED.append(df)
    return df


@contextmanager
def persist_scope() -> Iterator[Callable]:
    """Persists owned by one ``with`` block: yields ``persist(df)``,
    and every DataFrame it persisted is unpersisted when the block
    exits, by return or by exception. Not registered with
    ``release_tracked`` (the block already releases them). A frame
    whose plan is already cached is left to its owner: it is neither
    persisted again nor released."""
    held: list = []

    def persist(df):
        if df.storageLevel == StorageLevel.NONE:
            df.persist()
            held.append(df)
        return df

    try:
        yield persist
    finally:
        for df in held:
            try:
                df.unpersist(False)
            except Exception:  # session stopped
                pass


def tracked_count() -> int:
    """How many persisted DataFrames are currently registered."""
    return len(_TRACKED)


def release_tracked() -> int:
    """Unpersist every registered DataFrame (non-blocking); returns
    the number successfully unpersisted. Safe to call repeatedly and
    after the owning session is gone."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist(False)
            n += 1
        except Exception:  # session stopped / already unpersisted
            pass
    _TRACKED.clear()
    return n


def release_all(spark) -> None:
    """Full block release between keys in a multi-key loop: tracked
    persists, the DataFrame cache catalog, AND the JVM persistent-RDD
    map (``catalog.clearCache()`` does NOT drop RDDs pinned by
    ``localCheckpoint()`` — the iterative graph keys — nor persists
    made through the raw API; the r8 sweep measured graph_khop_reach
    at 22.7 s in-sweep vs 7.3 s isolated before this cleanup)."""
    release_tracked()
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(False)
    except Exception:
        pass
